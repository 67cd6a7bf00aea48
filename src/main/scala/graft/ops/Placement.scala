package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Tables._

/** Data-placement and coverage audits (SURVEY.md §2.9 extension
  * surface): rendezvous-hashing shard assignment with a rebalance
  * audit, and line-sweep interval-union coverage of the shipping
  * calendar. Both are the operational audits a 100 TB data platform
  * runs before moving bytes; the reference has neither.
  *
  * Oracle-exactness discipline (graft-oracle-exactness): rendezvous
  * scores are pure BIGINT hashes ranked with pinned tie-breaks;
  * coverage is exact integer day arithmetic over a windowed sweep.
  */
object Placement extends QueryModule {

  // ---------------------------------------------------------------- q288

  /** Rendezvous (highest-random-weight) sharding audit: every doc
    * scores each shard with an integer hash and lands on the argmax;
    * the audit compares the 8-shard and 9-shard assignments. The HRW
    * property — growing the cluster moves keys ONLY into the new
    * shard — is surfaced directly: moved_out counts per shard, and
    * every moved doc's new home is shard 8. One corpus pass exploded
    * ×|shards| (a constant), one window rank; nothing shuffles twice.
    */
  def rendezvousAudit(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"))
      .withColumn("s", explode(expr("sequence(0L, 8L)")))
      .withColumn("h", expr(
        """((doc_id % 1000000007L + 1L) * 2654435761L
          | + (s + 1L) * 40503L * 65537L) % 1000000007L""".stripMargin))
    def assign(maxShard: Int) = scored
      .filter(col("s") < maxShard)
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("h").desc, col("s"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("s"))
    val a8 = assign(8).withColumnRenamed("s", "s8")
    val a9 = assign(9).withColumnRenamed("s", "s9")
    val joined = a8.join(a9, "doc_id").localCheckpoint()
    val violations = joined
      .filter(col("s8") =!= col("s9") && col("s9") =!= 8)
      .agg(count(lit(1)).as("hrw_violations"))
    joined.groupBy(col("s8").as("shard"))
      .agg(count(lit(1)).as("n_docs_8"),
        sum((col("s8") =!= col("s9")).cast("long")).as("moved_out"))
      .crossJoin(broadcast(violations))
      .select(col("shard").cast("long").as("shard"), col("n_docs_8"),
        col("moved_out"),
        round(col("moved_out").cast("double") / col("n_docs_8"), 6)
          .as("moved_frac"),
        col("hrw_violations"))
      .orderBy("shard")
  }

  private val rendezvousOracle = """
    WITH scored AS MATERIALIZED (
      SELECT doc_id, s,
        ((doc_id % 1000000007 + 1) * 2654435761
         + (s + 1) * 40503 * 65537) % 1000000007 AS h
      FROM documents, unnest(generate_series(0, 8)) AS t(s)),
    a8 AS MATERIALIZED (
      SELECT doc_id, s AS s8 FROM (
        SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY h DESC, s) AS rn
        FROM scored WHERE s < 8) WHERE rn = 1),
    a9 AS MATERIALIZED (
      SELECT doc_id, s AS s9 FROM (
        SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY h DESC, s) AS rn
        FROM scored WHERE s < 9) WHERE rn = 1),
    j AS MATERIALIZED (
      SELECT a8.doc_id, s8, s9 FROM a8 JOIN a9 USING (doc_id)),
    viol AS (
      SELECT COUNT(*) AS hrw_violations FROM j
      WHERE s8 <> s9 AND s9 <> 8)
    SELECT CAST(s8 AS BIGINT) AS shard, COUNT(*) AS n_docs_8,
      CAST(SUM(CAST(s8 <> s9 AS BIGINT)) AS BIGINT) AS moved_out,
      ROUND(CAST(SUM(CAST(s8 <> s9 AS BIGINT)) AS DOUBLE) / COUNT(*), 6)
        AS moved_frac,
      (SELECT hrw_violations FROM viol) AS hrw_violations
    FROM j GROUP BY s8 ORDER BY shard"""

  // ---------------------------------------------------------------- q289

  /** Line-sweep interval-union coverage: each lineitem occupies a
    * transit window [l_shipdate, l_shipdate + (qty mod 14) + 1 days]
    * (this corpus carries no receipt date, so the window derives
    * deterministically from the row); per supplier nation the sweep
    * reports how many distinct calendar days are covered by at least
    * one in-flight shipment, the max concurrent depth, and the idle-gap
    * count — the classic union-of-intervals statistic computed with one
    * boundary explode and one ordered window per group (never an
    * interval×interval join). All arithmetic is exact day integers.
    */
  def intervalCoverage(li: DataFrame, supplier: DataFrame,
      nation: DataFrame): DataFrame = {
    val iv = li
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        datediff(col("l_shipdate"), lit("1992-01-01")).as("a"),
        (datediff(col("l_shipdate"), lit("1992-01-01"))
          + (col("l_quantity").cast("long") % 14) + 2).as("b"))
    val bounds = iv.select(col("n_name"), col("a").as("d"), lit(1L).as("delta"))
      .unionAll(iv.select(col("n_name"), col("b").as("d"), lit(-1L).as("delta")))
      .groupBy("n_name", "d").agg(sum("delta").as("delta"))
    val w = Window.partitionBy("n_name").orderBy("d")
    val swept = bounds
      .withColumn("depth", sum("delta").over(w))
      .withColumn("next_d", lead("d", 1).over(w))
      .filter(col("next_d").isNotNull)
    swept.groupBy("n_name").agg(
        sum(when(col("depth") > 0, col("next_d") - col("d")).otherwise(0L))
          .cast("long").as("covered_days"),
        max("depth").cast("long").as("max_depth"),
        sum((col("depth") === 0).cast("long")).as("n_gaps"))
      .orderBy("n_name")
  }

  private val coverageIvOracle = """
    WITH iv AS (
      SELECT n.n_name,
        date_diff('day', DATE '1992-01-01', l.l_shipdate) AS a,
        date_diff('day', DATE '1992-01-01', l.l_shipdate)
          + (CAST(l.l_quantity AS BIGINT) % 14) + 2 AS b
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey),
    bounds AS (
      SELECT n_name, d, SUM(delta) AS delta FROM (
        SELECT n_name, a AS d, 1 AS delta FROM iv
        UNION ALL SELECT n_name, b, -1 FROM iv)
      GROUP BY 1, 2),
    swept AS (
      SELECT n_name, d, delta,
        SUM(delta) OVER (PARTITION BY n_name ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth,
        LEAD(d) OVER (PARTITION BY n_name ORDER BY d) AS next_d
      FROM bounds)
    SELECT n_name,
      CAST(SUM(CASE WHEN depth > 0 THEN next_d - d ELSE 0 END) AS BIGINT)
        AS covered_days,
      CAST(MAX(depth) AS BIGINT) AS max_depth,
      CAST(SUM(CAST(depth = 0 AS BIGINT)) AS BIGINT) AS n_gaps
    FROM swept WHERE next_d IS NOT NULL
    GROUP BY 1 ORDER BY n_name"""

  // ------------------------------------------------------------ queries

  // ---------------------------------------------------------------- q362

  /** Consistent-hash ring with virtual nodes (Karger et al. STOC'97 as
    * deployed: 16 vnodes/node): a key lands on the first ring position
    * clockwise from its own hash (wraparound to the ring minimum). The
    * audit compares the 8-node and 9-node rings: per node, key counts
    * before/after, keys moved out, and — the ring law q288 surfaces
    * for HRW — every moved key's new home is the added node. The ring
    * (128/144 integer positions) broadcasts; assignment is one
    * conditional-min aggregation per key, no sort of the corpus.
    * Complements q288: same movement law, successor-search mechanics.
    */
  def hashRing(docs: DataFrame, vnodes: Int = 16): DataFrame = {
    val s = docs.sparkSession
    // positions need a MIXING hash: a linear lattice ((n+1)A + (v+1)B
    // mod p) clusters low on the ring and the wraparound arc swallows
    // most keys — the portable md5 ascii-fold spreads uniformly
    def fold(e: String) = s"aggregate(transform(split(md5(cast($e as binary)), ''), " +
      "c -> cast(ascii(c) as bigint)), cast(-1 as bigint), " +
      "(h, a) -> if(h = -1L, a, pmod(h * 31 + a, 1000000007L)))"
    def ring(nodes: Int): DataFrame = s.range(nodes.toLong * vnodes)
      .select((col("id") / vnodes).cast("long").as("node"),
        (col("id") % vnodes).as("v"))
      .select(col("node"), expr(
        fold("concat('n', cast(node as string), 'v', cast(v as string))"))
        .as("pos"))
    val keys = docs.select(col("doc_id"),
      expr(fold("cast(doc_id as string)")).as("kp"))
    def assign(nodes: Int, tag: String) = keys
      .crossJoin(broadcast(ring(nodes)))
      .groupBy("doc_id", "kp")
      .agg(
        min(when(col("pos") >= col("kp"),
          col("pos") * 100 + col("node"))).as("succ"),
        min(col("pos") * 100 + col("node")).as("wrap"))
      .select(col("doc_id"),
        (coalesce(col("succ"), col("wrap")) % 100).as(s"node_$tag"))
    val both = assign(8, "8").join(assign(9, "9"), "doc_id")
      .localCheckpoint()
    both.groupBy(col("node_8").as("node"))
      .agg(count(lit(1)).as("keys_8"),
        sum((col("node_8") =!= col("node_9")).cast("long")).as("moved_out"),
        sum((col("node_8") =!= col("node_9") && col("node_9") === 8)
          .cast("long")).as("moved_to_new"))
      .join(both.groupBy(col("node_9").as("node"))
        .agg(count(lit(1)).as("keys_9")), Seq("node"), "full_outer")
      .select(col("node"), coalesce(col("keys_8"), lit(0L)).as("keys_8"),
        coalesce(col("keys_9"), lit(0L)).as("keys_9"),
        coalesce(col("moved_out"), lit(0L)).as("moved_out"),
        coalesce(col("moved_to_new"), lit(0L)).as("moved_to_new"))
      .orderBy("node")
  }

  private def hashRingOracle(vnodes: Int = 16): String = s"""
    WITH ring8 AS MATERIALIZED (
      SELECT (i // $vnodes) AS node,
        list_reduce(list_transform(string_split_regex(
          md5('n' || CAST(i // $vnodes AS VARCHAR)
            || 'v' || CAST(i % $vnodes AS VARCHAR)), ''),
          c -> CAST(ascii(c) AS BIGINT)),
          (h, a) -> (h * 31 + a) % 1000000007) AS pos
      FROM (SELECT unnest(generate_series(0, ${8 * vnodes - 1})) AS i)),
    ring9 AS MATERIALIZED (
      SELECT (i // $vnodes) AS node,
        list_reduce(list_transform(string_split_regex(
          md5('n' || CAST(i // $vnodes AS VARCHAR)
            || 'v' || CAST(i % $vnodes AS VARCHAR)), ''),
          c -> CAST(ascii(c) AS BIGINT)),
          (h, a) -> (h * 31 + a) % 1000000007) AS pos
      FROM (SELECT unnest(generate_series(0, ${9 * vnodes - 1})) AS i)),
    keys_ AS MATERIALIZED (
      SELECT doc_id,
        list_reduce(list_transform(string_split_regex(
          md5(CAST(doc_id AS VARCHAR)), ''),
          c -> CAST(ascii(c) AS BIGINT)),
          (h, a) -> (h * 31 + a) % 1000000007) AS kp
      FROM documents),
    a8 AS MATERIALIZED (
      SELECT doc_id,
        CAST(COALESCE(MIN(CASE WHEN pos >= kp THEN pos * 100 + node END),
          MIN(pos * 100 + node)) % 100 AS BIGINT) AS node_8
      FROM keys_ CROSS JOIN ring8 GROUP BY doc_id, kp),
    a9 AS MATERIALIZED (
      SELECT doc_id,
        CAST(COALESCE(MIN(CASE WHEN pos >= kp THEN pos * 100 + node END),
          MIN(pos * 100 + node)) % 100 AS BIGINT) AS node_9
      FROM keys_ CROSS JOIN ring9 GROUP BY doc_id, kp),
    both_ AS MATERIALIZED (
      SELECT a8.doc_id, node_8, node_9 FROM a8 JOIN a9 USING (doc_id)),
    o AS (
      SELECT node_8 AS node, COUNT(*) AS keys_8,
        CAST(SUM(CASE WHEN node_8 <> node_9 THEN 1 ELSE 0 END) AS BIGINT)
          AS moved_out,
        CAST(SUM(CASE WHEN node_8 <> node_9 AND node_9 = 8 THEN 1 ELSE 0 END)
          AS BIGINT) AS moved_to_new
      FROM both_ GROUP BY 1),
    n AS (SELECT node_9 AS node, COUNT(*) AS keys_9 FROM both_ GROUP BY 1)
    SELECT COALESCE(o.node, n.node) AS node,
      COALESCE(keys_8, 0) AS keys_8, COALESCE(keys_9, 0) AS keys_9,
      COALESCE(moved_out, 0) AS moved_out,
      COALESCE(moved_to_new, 0) AS moved_to_new
    FROM o FULL OUTER JOIN n ON o.node = n.node
    ORDER BY node"""

  override def queries: Seq[Q] = Seq(
    Q("q362_hash_ring",
      (s, d) => hashRing(documents(s, d)), Some(hashRingOracle())),
    Q("q288_rendezvous_shards",
      (s, d) => rendezvousAudit(documents(s, d)), Some(rendezvousOracle)),
    Q("q289_interval_coverage",
      (s, d) => intervalCoverage(lineitem(s, d), supplier(s, d), nation(s, d)),
      Some(coverageIvOracle)),
  )
}
