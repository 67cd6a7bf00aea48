package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Tables._

/** Curation-selection and corpus-forensics operators (SURVEY.md §2.9
  * extension surface): fixed-point PageRank centrality on the trade
  * digraph, leave-one-source-out influence on corpus statistics, greedy
  * maximum-coverage document selection, and suffix-sort longest-repeated
  * -substring forensics. None exist in the reference.
  *
  * Oracle-exactness discipline (graft-oracle-exactness): PageRank
  * iterates integer micro-units (truncating integer division — both
  * engines compute identical BIGINTs, no float is ever iterated);
  * influence and coverage are exact integer closed forms; LCP lengths
  * are exact integers from pinned substring comparisons.
  *
  * Scale discipline: PageRank's corpus pass is one edge rollup
  * (dimension-bounded graph iteration after); influence is one grouped
  * pass decomposed algebraically (no per-source re-scan); greedy
  * coverage re-scans postings once per round with a vocabulary-sized
  * anti-join; suffix forensics caps suffixes at 20 chars so the
  * explode is a constant factor of corpus bytes, partitioned by doc.
  */
object Curate extends QueryModule {

  // ---------------------------------------------------------------- q275

  /** Two-round fixed-point PageRank (d=0.85) on the nation trade
    * digraph (supplier nation → customer nation, same corpus rollup as
    * q261's HITS). Ranks are integer micro-units: pr0 = 1e6 DIV n;
    * pr_{t+1}(v) = 150000 DIV n + (850000 * D_t) DIV (1e6 * n)
    * + Σ_{u→v} (850000 * pr_t(u)) DIV (1e6 * outdeg(u)), where D_t is
    * the dangling (no-out-edge) mass, redistributed uniformly — the
    * standard correction, and material here: at small SF most nations
    * are customer-only. Truncating integer division at every step makes
    * the iteration bit-identical across engines (fixed-point drift
    * ≤ ~1e-4 of the real-valued fixpoint).
    */
  def pagerankFixed(li: DataFrame, orders: DataFrame, supplier: DataFrame,
      customer: DataFrame): DataFrame = {
    val edges = li
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .select(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .distinct()
      .localCheckpoint() // dimension-bounded; reused by both iterations
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("od"))
    val nodes = edges.select(col("src").as("n"))
      .union(edges.select(col("dst").as("n"))).distinct()
    val nCount = nodes.agg(count(lit(1)).as("nn"))

    def step(pr: DataFrame): DataFrame = {
      val contrib = edges
        .join(pr.withColumnRenamed("n", "src"), "src")
        .join(broadcast(outdeg), "src")
        .groupBy(col("dst").as("n"))
        .agg(sum(expr("850000L * pr DIV (1000000L * od)")).as("in_mass"))
      val dangling = pr.join(broadcast(outdeg.withColumnRenamed("src", "n")),
          Seq("n"), "left_anti")
        .agg(coalesce(sum("pr"), lit(0L)).as("d"))
      nodes.crossJoin(broadcast(nCount)).crossJoin(broadcast(dangling))
        .join(contrib, Seq("n"), "left")
        .select(col("n"),
          (expr("150000L DIV nn") + expr("850000L * d DIV (1000000L * nn)")
            + coalesce(col("in_mass"), lit(0L))).as("pr"))
    }
    val pr0 = nodes.crossJoin(broadcast(nCount))
      .select(col("n"), expr("1000000L DIV nn").as("pr"))
    val pr2 = step(step(pr0))
    pr2.select(col("n").cast("long").as("nationkey"),
        col("pr").cast("long").as("pr_micro"),
        round(col("pr").cast("double") / 1e6, 6).as("pagerank"))
      .orderBy(col("pr_micro").desc, col("nationkey"))
  }

  private val pagerankOracle = """
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE s.s_nationkey <> c.c_nationkey),
    outdeg AS MATERIALIZED (SELECT src, COUNT(*) AS od FROM edges GROUP BY 1),
    nodes AS MATERIALIZED (
      SELECT src AS n FROM edges UNION SELECT dst AS n FROM edges),
    nc AS (SELECT COUNT(*) AS nn FROM nodes),
    pr0 AS MATERIALIZED (
      SELECT n, 1000000 // nn AS pr FROM nodes CROSS JOIN nc),
    c1 AS (
      SELECT e.dst AS n, SUM(850000 * p.pr // (1000000 * o.od)) AS in_mass
      FROM edges e JOIN pr0 p ON e.src = p.n JOIN outdeg o ON e.src = o.src
      GROUP BY 1),
    d1 AS (
      SELECT COALESCE(SUM(pr), 0) AS d FROM pr0
      WHERE n NOT IN (SELECT src FROM outdeg)),
    pr1 AS MATERIALIZED (
      SELECT nodes.n,
        150000 // nn + 850000 * d // (1000000 * nn)
          + COALESCE(c1.in_mass, 0) AS pr
      FROM nodes CROSS JOIN nc CROSS JOIN d1
      LEFT JOIN c1 ON nodes.n = c1.n),
    c2 AS (
      SELECT e.dst AS n, SUM(850000 * p.pr // (1000000 * o.od)) AS in_mass
      FROM edges e JOIN pr1 p ON e.src = p.n JOIN outdeg o ON e.src = o.src
      GROUP BY 1),
    d2 AS (
      SELECT COALESCE(SUM(pr), 0) AS d FROM pr1
      WHERE n NOT IN (SELECT src FROM outdeg)),
    pr2 AS (
      SELECT nodes.n,
        150000 // nn + 850000 * d // (1000000 * nn)
          + COALESCE(c2.in_mass, 0) AS pr
      FROM nodes CROSS JOIN nc CROSS JOIN d2
      LEFT JOIN c2 ON nodes.n = c2.n)
    SELECT CAST(n AS BIGINT) AS nationkey, CAST(pr AS BIGINT) AS pr_micro,
      ROUND(CAST(pr AS DOUBLE) / 1e6, 6) AS pagerank
    FROM pr2 ORDER BY pr_micro DESC, nationkey"""

  // ---------------------------------------------------------------- q276

  /** Leave-one-source-out influence: how much each source shifts the
    * corpus mean document length (chars/doc). Rather than re-scanning
    * the corpus per source, the ablated mean decomposes algebraically —
    * (T - T_s)/(N - N_s) from one grouped pass of exact integer totals —
    * the same trick that makes jackknife-style data ablation feasible
    * at 100 TB (q211 uses it for variance; this is the curation view).
    */
  def sourceInfluence(docs: DataFrame): DataFrame = {
    val per = docs.groupBy("source").agg(
      count(lit(1)).as("n_s"), sum("n_chars").cast("long").as("t_s"))
    val tot = per.agg(sum("n_s").cast("long").as("n"),
      sum("t_s").cast("long").as("t"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_s").as("n_docs"),
        round(col("t").cast("double") / col("n"), 6).as("mean_with"),
        round((col("t") - col("t_s")).cast("double")
          / (col("n") - col("n_s")), 6).as("mean_without"),
        round(col("t").cast("double") / col("n")
          - (col("t") - col("t_s")).cast("double") / (col("n") - col("n_s")), 6)
          .as("influence"))
      .orderBy("source")
  }

  private val influenceOracle = """
    WITH per AS (
      SELECT source, COUNT(*) AS n_s, CAST(SUM(n_chars) AS BIGINT) AS t_s
      FROM documents GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(n_s) AS BIGINT) AS n, CAST(SUM(t_s) AS BIGINT) AS t
      FROM per)
    SELECT source, n_s AS n_docs,
      ROUND(CAST(t AS DOUBLE) / n, 6) AS mean_with,
      ROUND(CAST(t - t_s AS DOUBLE) / (n - n_s), 6) AS mean_without,
      ROUND(CAST(t AS DOUBLE) / n - CAST(t - t_s AS DOUBLE) / (n - n_s), 6)
        AS influence
    FROM per CROSS JOIN tot ORDER BY source"""

  // ---------------------------------------------------------------- q277

  /** Greedy maximum-coverage document selection: 4 rounds of "pick the
    * doc adding the most unseen vocabulary" (ties by doc_id) — the
    * classic (1-1/e)-approximate seed-selection primitive behind
    * coverage-driven curation. The coverage unit is the adjacent word
    * BIGRAM (the unigram vocabulary here is small enough that one doc
    * covers it, collapsing the greedy loop). Each round is one postings
    * scan with a vocabulary-sized anti-join; the driver sees exactly
    * one row per round. Counts are exact integers, so selection is
    * deterministic.
    */
  def coverageSelection(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val postings = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"),
        explode(array_distinct(expr("""CASE WHEN size(t) >= 2
          |THEN transform(sequence(0, size(t)-2), i -> concat(t[i], ' ', t[i+1]))
          |ELSE array() END""".stripMargin))).as("tok"))
      .localCheckpoint() // reused every round
    val vocabTotal = postings.select("tok").distinct().count()

    var covered = postings.sparkSession.emptyDataset[String].toDF("tok")
    val picks = Seq.newBuilder[(Int, Long, Long, Long)]
    var cumulative = 0L
    for (round <- 1 to 4) {
      val gain = postings.join(broadcast(covered), Seq("tok"), "left_anti")
        .groupBy("doc_id").agg(count(lit(1)).as("new_words"))
        .orderBy(col("new_words").desc, col("doc_id"))
        .limit(1).collect()
      if (gain.nonEmpty) {
        val docId = gain(0).getLong(0)
        val newWords = gain(0).getLong(1)
        cumulative += newWords
        picks += ((round, docId, newWords, cumulative))
        covered = covered
          .union(postings.filter(col("doc_id") === docId).select("tok"))
          .distinct()
          .localCheckpoint()
      }
    }
    picks.result()
      .toDF("round", "doc_id", "new_words", "covered_words")
      .withColumn("coverage_frac",
        round(col("covered_words").cast("double") / vocabTotal, 6))
      .select(col("round").cast("long").as("round"), col("doc_id"),
        col("new_words"), col("covered_words"), col("coverage_frac"))
      .orderBy("round")
  }

  private val coverageOracle = """
    WITH t0 AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    w AS (
      SELECT DISTINCT doc_id, w1 || ' ' || w2 AS tok FROM (
        SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        FROM t0 WHERE len(t) >= 2)),
    vt AS (SELECT COUNT(DISTINCT tok) AS v FROM w),
    p1 AS (
      SELECT doc_id, COUNT(*) AS nw FROM w GROUP BY 1
      ORDER BY nw DESC, doc_id LIMIT 1),
    cov1 AS (SELECT DISTINCT tok FROM w WHERE doc_id IN (SELECT doc_id FROM p1)),
    p2 AS (
      SELECT doc_id, COUNT(*) AS nw FROM w
      WHERE tok NOT IN (SELECT tok FROM cov1)
      GROUP BY 1 ORDER BY nw DESC, doc_id LIMIT 1),
    cov2 AS (SELECT tok FROM cov1 UNION
      SELECT DISTINCT tok FROM w WHERE doc_id IN (SELECT doc_id FROM p2)),
    p3 AS (
      SELECT doc_id, COUNT(*) AS nw FROM w
      WHERE tok NOT IN (SELECT tok FROM cov2)
      GROUP BY 1 ORDER BY nw DESC, doc_id LIMIT 1),
    cov3 AS (SELECT tok FROM cov2 UNION
      SELECT DISTINCT tok FROM w WHERE doc_id IN (SELECT doc_id FROM p3)),
    p4 AS (
      SELECT doc_id, COUNT(*) AS nw FROM w
      WHERE tok NOT IN (SELECT tok FROM cov3)
      GROUP BY 1 ORDER BY nw DESC, doc_id LIMIT 1),
    sel AS (
      SELECT 1 AS round, doc_id, nw FROM p1
      UNION ALL SELECT 2, doc_id, nw FROM p2
      UNION ALL SELECT 3, doc_id, nw FROM p3
      UNION ALL SELECT 4, doc_id, nw FROM p4)
    SELECT CAST(round AS BIGINT) AS round, doc_id, nw AS new_words,
      CAST(SUM(nw) OVER (ORDER BY round) AS BIGINT) AS covered_words,
      ROUND(CAST(SUM(nw) OVER (ORDER BY round) AS DOUBLE)
        / (SELECT v FROM vt), 6) AS coverage_frac
    FROM sel ORDER BY round"""

  // ---------------------------------------------------------------- q278

  /** Longest repeated substring per document via capped suffix sorting:
    * every character position contributes a 20-char-capped suffix, the
    * per-doc sorted suffix list yields adjacent longest-common-prefix
    * lengths (the classic suffix-array LRS bound), and the per-source
    * report gives mean/max LRS and the share of docs with a ≥10-char
    * internal repeat — the character-level complement of q86's
    * token-level repetition audit. The explode is a constant ~20× of
    * corpus bytes, partitioned by doc; LCPs are exact integers.
    */
  def longestRepeat(docs: DataFrame): DataFrame = {
    // native per-doc evaluator (graft.functions.LongestRepeat): documents
    // are independent, so the previous explode(capped suffixes) ->
    // per-doc window sort -> adjacent-LCP pipeline (a ~20x corpus-bytes
    // explode plus a corpus shuffle on doc_id) collapses to a projection.
    // NULL = fewer than 2 chars — exactly the docs the SQL form's
    // adjacent-pair frame excluded from the report.
    val perDoc = docs.select(col("doc_id"), col("source"),
        graft.functions.LongestRepeat.longest_repeat(col("text"), 20).as("lrs"))
      .filter(col("lrs").isNotNull)
    perDoc.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        round(sum("lrs").cast("double") / count(lit(1)), 4).as("mean_lrs"),
        max("lrs").cast("long").as("max_lrs"),
        round(sum((col("lrs") >= 10).cast("long")).cast("double")
          / count(lit(1)), 6).as("share_repeat10"))
      .orderBy("source")
  }

  private val lrsOracle = """
    WITH suf AS (
      SELECT doc_id, source,
        unnest(list_transform(generate_series(1, len(text)),
          i -> substring(text, i, 20))) AS s
      FROM documents),
    lagd AS (
      SELECT doc_id, source, s,
        LEAD(s) OVER (PARTITION BY doc_id ORDER BY s) AS nxt
      FROM suf),
    lcps AS (
      SELECT doc_id, source,
        list_max(list_transform(generate_series(1, 20),
          i -> CASE WHEN substring(s, 1, i) = substring(nxt, 1, i)
                    AND len(s) >= i AND len(nxt) >= i
               THEN i ELSE 0 END)) AS lcp
      FROM lagd WHERE nxt IS NOT NULL),
    per_doc AS (
      SELECT doc_id, source, MAX(lcp) AS lrs FROM lcps GROUP BY 1, 2)
    SELECT source, COUNT(*) AS n_docs,
      ROUND(CAST(SUM(lrs) AS DOUBLE) / COUNT(*), 4) AS mean_lrs,
      CAST(MAX(lrs) AS BIGINT) AS max_lrs,
      ROUND(CAST(SUM(CAST(lrs >= 10 AS BIGINT)) AS DOUBLE) / COUNT(*), 6)
        AS share_repeat10
    FROM per_doc GROUP BY 1 ORDER BY source"""

  // ------------------------------------------------------------ queries

  // ---------------------------------------------------------------- q389

  /** Quality-gate rejection attribution: three deterministic curation
    * gates (too-short, high repetition, low lexical diversity) applied
    * jointly, with the table every filtering pipeline owes its users —
    * per gate: rejected docs, UNIQUELY rejected (no other gate fires),
    * and the overlap; plus survivors. Explains "why did my corpus
    * shrink" gate by gate. One scan, conditional counts; the gates are
    * the q78/q335 thresholds expressed as independent flags.
    */
  def gateAttribution(docs: DataFrame): DataFrame = {
    val flagged = docs.select(col("doc_id"),
        (col("n_chars") < 120).cast("long").as("g_short"),
        (size(split(col("text"), " "))
          - size(array_distinct(split(col("text"), " "))) >
          size(split(col("text"), " ")) / 2).cast("long").as("g_repeat"),
        (size(array_distinct(split(col("text"), " "))).cast("double")
          / size(split(col("text"), " ")).cast("double") < 0.4)
          .cast("long").as("g_lowdiv"))
      .withColumn("n_gates", col("g_short") + col("g_repeat") + col("g_lowdiv"))
    def gate(name: String, g: String) = flagged.agg(
        count(lit(1)).as("n_docs"),
        sum(col(g)).as("rejected"),
        sum(when(col(g) === 1 && col("n_gates") === 1, 1L).otherwise(0L))
          .as("uniquely_rejected"))
      .select(lit(name).as("gate"), col("n_docs"), col("rejected"),
        col("uniquely_rejected"),
        (col("rejected") - col("uniquely_rejected")).as("overlap_rejected"))
    gate("g_lowdiv", "g_lowdiv")
      .unionAll(gate("g_repeat", "g_repeat"))
      .unionAll(gate("g_short", "g_short"))
      .unionAll(flagged.agg(count(lit(1)).as("n_docs"),
          sum((col("n_gates") > 0).cast("long")).as("rejected"))
        .select(lit("any_gate").as("gate"), col("n_docs"), col("rejected"),
          lit(0L).as("uniquely_rejected"),
          lit(0L).as("overlap_rejected")))
      .orderBy("gate")
  }

  private val gateOracle = """
    WITH flagged AS MATERIALIZED (
      SELECT doc_id,
        CASE WHEN n_chars < 120 THEN 1 ELSE 0 END AS g_short,
        CASE WHEN len(string_split(text, ' '))
            - len(list_distinct(string_split(text, ' ')))
            > len(string_split(text, ' ')) // 2 THEN 1 ELSE 0 END
          AS g_repeat,
        CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / CAST(len(string_split(text, ' ')) AS DOUBLE) < 0.4
          THEN 1 ELSE 0 END AS g_lowdiv
      FROM documents),
    ng AS (
      SELECT *, g_short + g_repeat + g_lowdiv AS n_gates FROM flagged),
    gates AS (
      SELECT 'g_short' AS gate, COUNT(*) AS n_docs,
        CAST(SUM(g_short) AS BIGINT) AS rejected,
        CAST(SUM(CASE WHEN g_short = 1 AND n_gates = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS uniquely_rejected
      FROM ng
      UNION ALL
      SELECT 'g_repeat', COUNT(*), CAST(SUM(g_repeat) AS BIGINT),
        CAST(SUM(CASE WHEN g_repeat = 1 AND n_gates = 1 THEN 1 ELSE 0 END)
          AS BIGINT)
      FROM ng
      UNION ALL
      SELECT 'g_lowdiv', COUNT(*), CAST(SUM(g_lowdiv) AS BIGINT),
        CAST(SUM(CASE WHEN g_lowdiv = 1 AND n_gates = 1 THEN 1 ELSE 0 END)
          AS BIGINT)
      FROM ng
      UNION ALL
      SELECT 'any_gate', COUNT(*),
        CAST(SUM(CASE WHEN n_gates > 0 THEN 1 ELSE 0 END) AS BIGINT),
        CAST(0 AS BIGINT)
      FROM ng)
    SELECT gate, n_docs, rejected, uniquely_rejected,
      CASE WHEN gate = 'any_gate' THEN 0
        ELSE rejected - uniquely_rejected END AS overlap_rejected
    FROM gates ORDER BY gate"""

  override def queries: Seq[Q] = Seq(
    Q("q389_gate_attribution",
      (s, d) => gateAttribution(documents(s, d)), Some(gateOracle)),
    Q("q275_pagerank",
      (s, d) => pagerankFixed(lineitem(s, d), orders(s, d), supplier(s, d),
        customer(s, d)),
      Some(pagerankOracle)),
    Q("q276_source_influence",
      (s, d) => sourceInfluence(documents(s, d)), Some(influenceOracle)),
    Q("q277_coverage_selection",
      (s, d) => coverageSelection(s, documents(s, d)), Some(coverageOracle)),
    Q("q278_longest_repeat",
      (s, d) => longestRepeat(documents(s, d)), Some(lrsOracle)),
  )
}
