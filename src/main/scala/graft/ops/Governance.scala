package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Tables._

/** Data-governance / privacy-release audits, round 8 of the extension
  * surface (none exist in the reference): the anonymity battery a
  * training-data platform runs before a corpus or telemetry release —
  * l-diversity (does any quasi-identifier group collapse to too few
  * sensitive values?), t-closeness (does any group's sensitive-value
  * distribution drift too far from the global one?), and a Bloom-filter
  * blocklist audit (the membership structure every ingest pipeline
  * consults before admitting a record, with its measured vs theoretical
  * false-positive rate).
  *
  * Exactness: entropy terms are decimal-cast before summation (order
  * independent), cumulative-distribution gaps are exact integer ppm
  * quotients (DIV), Bloom positions are 3-hex-digit md5 slices via the
  * portable instr('0123456789abcdef', c) hex-value idiom (q103/q225
  * convention). Scale: every rollup is one corpus shuffle onto
  * group-sized frames; the Bloom bit-set is O(3·|blocklist|) rows and
  * broadcast to the probe side — the corpus is never self-joined.
  */
object Governance extends QueryModule {

  // ---------------------------------------------------------------- q324

  /** Entropy l-diversity audit: quasi-identifier = (event_type,
    * day-of-week), sensitive attribute = the user's demographic bucket
    * (user_id % 10 stands in for the joined-in attribute). Per QI
    * group: row count, distinct-l, entropy-l = exp(H) (the effective
    * number of sensitive values), and the release gate l >= 3.
    * Entropy uses H = ln(n) - (sum c·ln c)/n so the only floating work
    * is ln of exact integers; the sum is decimal-cast (order-free).
    */
  def lDiversity(events: DataFrame): DataFrame = {
    val cells = events
      .select(col("event_type").as("et"),
        dayofweek(col("ts")).cast("long").as("dw"),
        (col("user_id") % 10).as("sens"))
      .groupBy("et", "dw", "sens").agg(count(lit(1)).as("c"))
    cells.groupBy("et", "dw")
      .agg(sum("c").as("n"),
        count(lit(1)).as("l_distinct"),
        sum((col("c").cast("double") * log(col("c").cast("double")))
          .cast("decimal(28,12)")).as("s"))
      .select(col("et"), col("dw"), col("n"), col("l_distinct"),
        round(exp(log(col("n").cast("double")) -
          col("s").cast("double") / col("n").cast("double")), 6)
          .as("entropy_l"),
        (col("l_distinct") >= 3).cast("long").as("pass_l3"))
      .orderBy("et", "dw")
  }

  private val lDiversityOracle = """
    WITH cells AS (
      SELECT event_type AS et, CAST(dayofweek(ts) + 1 AS BIGINT) AS dw,
        user_id % 10 AS sens, COUNT(*) AS c
      FROM events GROUP BY 1, 2, 3)
    SELECT et, dw, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS l_distinct,
      ROUND(exp(ln(CAST(SUM(c) AS DOUBLE))
        - CAST(SUM(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                        AS DECIMAL(28,12))) AS DOUBLE)
          / CAST(SUM(c) AS DOUBLE)), 6) AS entropy_l,
      CAST(COUNT(*) >= 3 AS BIGINT) AS pass_l3
    FROM cells GROUP BY et, dw ORDER BY et, dw"""

  // ---------------------------------------------------------------- q325

  /** t-closeness audit: for the same QI grouping, the Earth Mover's
    * Distance (ordered-bucket form: mean absolute cumulative-share gap)
    * between the group's sensitive-bucket distribution and the global
    * one. Buckets are densified 0..9 so absent values count as zeros;
    * every share is an exact integer ppm quotient, so the EMD is an
    * exact integer on both engines. Gate: emd_ppm <= 150000 (t = 0.15).
    */
  def tCloseness(events: DataFrame): DataFrame = {
    val c = events
      .select(col("event_type").as("et"),
        dayofweek(col("ts")).cast("long").as("dw"),
        (col("user_id") % 10).as("b"))
      .groupBy("et", "dw", "b").agg(count(lit(1)).as("c"))
    val dense = c.select("et", "dw").distinct()
      .select(col("et"), col("dw"),
        explode(sequence(lit(0L), lit(9L))).as("b"))
      .join(c, Seq("et", "dw", "b"), "left")
      .na.fill(0L, Seq("c"))
    val wg = Window.partitionBy("et", "dw").orderBy("b")
    val grp = dense
      .withColumn("cum", sum("c").over(wg))
      .withColumn("n", sum("c").over(Window.partitionBy("et", "dw")))
    val glob = c.groupBy("b").agg(sum("c").as("gc"))
      .withColumn("gcum", sum("gc").over(Window.orderBy("b")))
      .withColumn("nn", sum("gc").over(Window.partitionBy(lit(1))))
      .select("b", "gcum", "nn")
    grp.join(broadcast(glob), "b")
      .filter(col("b") < 9)
      .withColumn("d", abs(
        expr("cum * 1000000 DIV n") - expr("gcum * 1000000 DIV nn")))
      .groupBy("et", "dw")
      .agg(max("n").as("n"), expr("sum(d) DIV 9").as("emd_ppm"))
      .select(col("et"), col("dw"), col("n"), col("emd_ppm"),
        (col("emd_ppm") > 150000L).cast("long").as("t_fail"))
      .orderBy("et", "dw")
  }

  private val tClosenessOracle = """
    WITH c AS (
      SELECT event_type AS et, CAST(dayofweek(ts) + 1 AS BIGINT) AS dw,
        user_id % 10 AS b, COUNT(*) AS c
      FROM events GROUP BY 1, 2, 3),
    dense AS (
      SELECT q.et, q.dw, s.b, COALESCE(c.c, 0) AS c
      FROM (SELECT DISTINCT et, dw FROM c) q
      CROSS JOIN (SELECT CAST(UNNEST(generate_series(0, 9)) AS BIGINT) AS b) s
      LEFT JOIN c ON c.et = q.et AND c.dw = q.dw AND c.b = s.b),
    grp AS (
      SELECT et, dw, b,
        SUM(c) OVER (PARTITION BY et, dw ORDER BY b) AS cum,
        SUM(c) OVER (PARTITION BY et, dw) AS n
      FROM dense),
    gall AS (
      SELECT b, SUM(c) OVER (ORDER BY b) AS gcum, SUM(c) OVER () AS nn
      FROM (SELECT b, SUM(c) AS c FROM c GROUP BY b))
    SELECT g.et, g.dw, CAST(MAX(g.n) AS BIGINT) AS n,
      CAST(SUM(ABS(g.cum * 1000000 // g.n - gl.gcum * 1000000 // gl.nn)) // 9
        AS BIGINT) AS emd_ppm,
      CAST(SUM(ABS(g.cum * 1000000 // g.n - gl.gcum * 1000000 // gl.nn)) // 9
        > 150000 AS BIGINT) AS t_fail
    FROM grp g JOIN gall gl ON g.b = gl.b
    WHERE g.b < 9 GROUP BY g.et, g.dw ORDER BY et, dw"""

  // ---------------------------------------------------------------- q326

  /** Bloom-filter blocklist audit: the blocklist (c_custkey % 37 = 0)
    * is inserted into an m = 4096-bit / k = 3 Bloom filter whose hash
    * positions are three 3-hex-digit slices of md5(key); every customer
    * is then probed and the measured false-positive rate is compared
    * with the fill-ratio theory (fill^k). Laws: zero false negatives
    * (every blocked key probes positive), bits_set <= 3·|blocklist|.
    * The bit set is group-sized and broadcast; probing is one scan.
    */
  def bloomBlocklist(customer: DataFrame): DataFrame = {
    val hv = (o: Int) => {
      val d = (i: Int) =>
        s"(instr('0123456789abcdef', substring(h, ${o + i}, 1)) - 1)"
      expr(s"${d(0)} * 256 + ${d(1)} * 16 + ${d(2)}")
    }
    val keyed = customer
      .select(col("c_custkey").as("k"),
        md5(col("c_custkey").cast("string").cast("binary")).as("h"),
        (col("c_custkey") % 37 === 0).cast("long").as("blocked"))
      .select(col("k"), col("blocked"),
        explode(array(hv(1), hv(9), hv(17))).as("pos"))
      .select(col("k"), col("blocked"), col("pos")).distinct()
    val setbits = keyed.filter(col("blocked") === 1)
      .select("pos").distinct()
    val probed = keyed
      .join(broadcast(setbits.withColumn("hit", lit(1L))), Seq("pos"), "left")
      .na.fill(0L, Seq("hit"))
      .groupBy("k", "blocked")
      .agg((count(lit(1)) === sum("hit")).cast("long").as("positive"))
    probed.agg(
      count(lit(1)).as("n_users"),
      sum("blocked").as("n_blocked"),
      sum("positive").as("n_positive"),
      sum(when(col("positive") === 1 && col("blocked") === 0, 1L)
        .otherwise(0L)).as("n_false_pos"),
      sum(when(col("positive") === 0 && col("blocked") === 1, 1L)
        .otherwise(0L)).as("n_false_neg"))
      .crossJoin(broadcast(setbits.agg(count(lit(1)).as("bits_set"))))
      .select(col("n_users"), col("n_blocked"), col("bits_set"),
        col("n_positive"), col("n_false_pos"), col("n_false_neg"),
        expr("n_false_pos * 1000000 DIV (n_users - n_blocked)").as("fpr_ppm"),
        expr("bits_set * 1000000 DIV 4096").as("fill_ppm"),
        round(pow(col("bits_set").cast("double") / 4096.0, 3), 6)
          .as("theory_fpr"))
  }

  private val bloomOracle = """
    WITH keyed AS (
      SELECT DISTINCT c_custkey AS k,
        CAST(c_custkey % 37 = 0 AS BIGINT) AS blocked,
        (instr('0123456789abcdef', substr(h, o, 1)) - 1) * 256
          + (instr('0123456789abcdef', substr(h, o + 1, 1)) - 1) * 16
          + (instr('0123456789abcdef', substr(h, o + 2, 1)) - 1) AS pos
      FROM (SELECT c_custkey, md5(CAST(c_custkey AS VARCHAR)) AS h
            FROM customer),
        (SELECT UNNEST([1, 9, 17]) AS o)),
    setbits AS (
      SELECT DISTINCT pos FROM keyed WHERE blocked = 1),
    probed AS (
      SELECT k.k, k.blocked,
        CAST(COUNT(*) = SUM(CASE WHEN s.pos IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS positive
      FROM keyed k LEFT JOIN setbits s ON k.pos = s.pos
      GROUP BY k.k, k.blocked),
    agg AS (
      SELECT COUNT(*) AS n_users, SUM(blocked) AS n_blocked,
        SUM(positive) AS n_positive,
        SUM(CASE WHEN positive = 1 AND blocked = 0 THEN 1 ELSE 0 END)
          AS n_false_pos,
        SUM(CASE WHEN positive = 0 AND blocked = 1 THEN 1 ELSE 0 END)
          AS n_false_neg
      FROM probed)
    SELECT a.n_users, CAST(a.n_blocked AS BIGINT) AS n_blocked, b.bits_set,
      CAST(a.n_positive AS BIGINT) AS n_positive,
      CAST(a.n_false_pos AS BIGINT) AS n_false_pos,
      CAST(a.n_false_neg AS BIGINT) AS n_false_neg,
      CAST(a.n_false_pos * 1000000 // (a.n_users - a.n_blocked) AS BIGINT)
        AS fpr_ppm,
      CAST(b.bits_set * 1000000 // 4096 AS BIGINT) AS fill_ppm,
      ROUND(POW(CAST(b.bits_set AS DOUBLE) / 4096.0, 3), 6) AS theory_fpr
    FROM agg a, (SELECT COUNT(*) AS bits_set FROM setbits) b"""

  // ------------------------------------------------------------ queries

  // ---------------------------------------------------------------- q355

  /** Population-uniqueness disclosure-risk audit: over the
    * quasi-identifier (nationkey, mktsegment, acctbal-kiloband), the
    * deterministic half-sample (portable md5 hash parity — the q314
    * coin discipline) yields sample uniques; the naive inverse-rate
    * scale-up (uniques/p) is reported AGAINST the true population
    * uniques and the count of sample uniques that really are population
    * unique (disclosure precision). The audit that shows why sample
    * uniqueness overstates population risk — run before any release
    * decision at 100 TB, where only the sample is cheap. One scan
    * builds both spectra; everything is exact integer counts.
    */
  def uniquenessRisk(customer: DataFrame): DataFrame = {
    val h = expr(
      "aggregate(transform(split(md5(cast(cast(c_custkey as string) as binary)), ''), " +
        "c -> cast(ascii(c) as bigint)), cast(-1 as bigint), " +
        "(h, a) -> if(h = -1L, a, pmod(h * 31 + a, 1000000007L)))")
    val qi = customer.select(col("c_custkey"), col("c_nationkey"),
        col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      .withColumn("in_sample", (h % 2 === 0).cast("long"))
    val classes = qi.groupBy("c_nationkey", "c_mktsegment", "bal_band")
      .agg(count(lit(1)).as("pop_size"), sum("in_sample").as("smp_size"))
      .localCheckpoint()
    classes.agg(
        sum("pop_size").as("n_pop"),
        sum("smp_size").as("n_sample"),
        count(lit(1)).as("pop_classes"),
        sum((col("pop_size") === 1).cast("long")).as("pop_uniques"),
        sum((col("smp_size") === 1).cast("long")).as("sample_uniques"),
        sum((col("smp_size") === 1 && col("pop_size") === 1).cast("long"))
          .as("true_unique_hits"))
      .select(col("n_pop"), col("n_sample"), col("pop_classes"),
        col("pop_uniques"), col("sample_uniques"),
        (col("sample_uniques") * 2).as("naive_pop_uniques_est"),
        col("true_unique_hits"),
        when(col("sample_uniques") > 0,
          round(col("true_unique_hits").cast("double") * 100.0
            / col("sample_uniques").cast("double"), 3))
          .as("disclosure_precision_pct"))
  }

  private val uniquenessOracle = """
    WITH qi AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
        CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
        CASE WHEN list_reduce(list_transform(
            string_split_regex(md5(CAST(c_custkey AS VARCHAR)), ''),
            c -> CAST(ascii(c) AS BIGINT)),
            (h, a) -> (h * 31 + a) % 1000000007) % 2 = 0
          THEN 1 ELSE 0 END AS in_sample
      FROM customer),
    classes AS MATERIALIZED (
      SELECT c_nationkey, c_mktsegment, bal_band,
        COUNT(*) AS pop_size, SUM(in_sample) AS smp_size
      FROM qi GROUP BY 1, 2, 3),
    agg AS (
      SELECT CAST(SUM(pop_size) AS BIGINT) AS n_pop,
        CAST(SUM(smp_size) AS BIGINT) AS n_sample,
        COUNT(*) AS pop_classes,
        CAST(SUM(CASE WHEN pop_size = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS pop_uniques,
        CAST(SUM(CASE WHEN smp_size = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS sample_uniques,
        CAST(SUM(CASE WHEN smp_size = 1 AND pop_size = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS true_unique_hits
      FROM classes)
    SELECT n_pop, n_sample, pop_classes, pop_uniques, sample_uniques,
      sample_uniques * 2 AS naive_pop_uniques_est, true_unique_hits,
      CASE WHEN sample_uniques > 0 THEN
        ROUND(CAST(true_unique_hits AS DOUBLE) * 100.0
          / CAST(sample_uniques AS DOUBLE), 3)
      END AS disclosure_precision_pct
    FROM agg"""

  override def queries: Seq[Q] = Seq(
    Q("q355_uniqueness_risk",
      (s, d) => uniquenessRisk(customer(s, d)), Some(uniquenessOracle)),
    Q("q324_l_diversity",
      (s, d) => lDiversity(events(s, d)), Some(lDiversityOracle)),
    Q("q325_t_closeness",
      (s, d) => tCloseness(events(s, d)), Some(tClosenessOracle)),
    Q("q326_bloom_blocklist",
      (s, d) => bloomBlocklist(customer(s, d)), Some(bloomOracle)),
  )
}
