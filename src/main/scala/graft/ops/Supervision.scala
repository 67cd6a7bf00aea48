package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Num._
import graft.Tables._

/** Weak-supervision and budgeted-selection operators, round 8 of the
  * extension surface (none exist in the reference): the Snorkel-style
  * labeling-function analysis report (coverage / overlap / conflict /
  * majority agreement — the first diagnostic anyone runs on a weak
  * label model) and successive-halving arm selection (the
  * hyperparameter-search scheduler expressed as a data operator over
  * observed arm rewards).
  *
  * Exactness: every vote and every count is an exact integer; rates
  * are ROUND(100·a/b, 3) doubles of exact integers; arm means are
  * doubles of exact decimal sums (order-free). Scale: LF analysis is
  * one corpus scan with map-side combine; each halving round ranks a
  * handful of arms on per-arm budget prefixes (window over the
  * documented event_id arrival order, rank filter — no global sort).
  */
object Supervision extends QueryModule {

  // ---------------------------------------------------------------- q354

  /** Labeling-function analysis over documents. Three deterministic
    * LFs vote {0,1} or abstain (NULL): lf_table (text mentions
    * 'table' → 1), lf_long (n_chars > 180 → 1, < 120 → 0, else
    * abstain), lf_diverse (distinct-word ratio > 0.55 → 1, < 0.45 →
    * 0, else abstain). Per LF: coverage (voted), overlap (voted and
    * some other LF voted), conflict (voted and some other LF voted
    * differently), and agreement with the strict majority label
    * (abstain-excluded; ties → no majority).
    */
  def labelingFunctions(docs: DataFrame): DataFrame = {
    val voted = docs.select(col("doc_id"),
        when(col("text").contains("table"), 1L).as("v1"),
        when(col("n_chars") > 180, 1L)
          .when(col("n_chars") < 120, 0L).as("v2"),
        (size(array_distinct(split(col("text"), " "))).cast("double")
          / size(split(col("text"), " ")).cast("double")).as("dr"))
      .withColumn("v3",
        when(col("dr") > 0.55, 1L).when(col("dr") < 0.45, 0L))
      .withColumn("n_votes", expr(
        "(v1 IS NOT NULL)::int + (v2 IS NOT NULL)::int + (v3 IS NOT NULL)::int"))
      .withColumn("n_pos", expr(
        "coalesce(v1, 0) + coalesce(v2, 0) + coalesce(v3, 0)"))
      .withColumn("maj", expr("""CASE
          WHEN n_pos * 2 > n_votes THEN 1
          WHEN n_pos * 2 < n_votes THEN 0 END"""))
    def lfRow(name: String, v: String, others: Seq[String]) = {
      val othersVoted = others.map(o => s"($o IS NOT NULL)").mkString(" OR ")
      val othersConflict = others.map(o => s"($o IS NOT NULL AND $o <> $v)")
        .mkString(" OR ")
      voted.agg(count(lit(1)).as("n_docs"),
          sum(expr(s"($v IS NOT NULL)::bigint")).as("voted"),
          sum(expr(s"($v IS NOT NULL AND ($othersVoted))::bigint"))
            .as("overlapped"),
          sum(expr(s"($v IS NOT NULL AND ($othersConflict))::bigint"))
            .as("conflicted"),
          sum(expr(s"($v IS NOT NULL AND maj IS NOT NULL)::bigint"))
            .as("judged"),
          sum(expr(s"($v IS NOT NULL AND maj IS NOT NULL AND $v = maj)::bigint"))
            .as("agreed"))
        .select(lit(name).as("lf"), col("n_docs"), col("voted"),
          round(col("voted") * 100.0 / col("n_docs"), 3).as("coverage_pct"),
          round(col("overlapped") * 100.0 / col("n_docs"), 3)
            .as("overlap_pct"),
          round(col("conflicted") * 100.0 / col("n_docs"), 3)
            .as("conflict_pct"),
          when(col("judged") > 0,
            round(col("agreed") * 100.0 / col("judged"), 3))
            .as("majority_agree_pct"))
    }
    lfRow("lf_table", "v1", Seq("v2", "v3"))
      .unionAll(lfRow("lf_long", "v2", Seq("v1", "v3")))
      .unionAll(lfRow("lf_diverse", "v3", Seq("v1", "v2")))
      .orderBy("lf")
  }

  private val labelingOracle = """
    WITH voted AS MATERIALIZED (
      SELECT doc_id,
        CASE WHEN text LIKE '%table%' THEN 1 END AS v1,
        CASE WHEN n_chars > 180 THEN 1 WHEN n_chars < 120 THEN 0 END AS v2,
        CASE
          WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / CAST(len(string_split(text, ' ')) AS DOUBLE) > 0.55 THEN 1
          WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / CAST(len(string_split(text, ' ')) AS DOUBLE) < 0.45 THEN 0
        END AS v3
      FROM documents),
    lab AS MATERIALIZED (
      SELECT *,
        CAST(v1 IS NOT NULL AS INT) + CAST(v2 IS NOT NULL AS INT)
          + CAST(v3 IS NOT NULL AS INT) AS n_votes,
        COALESCE(v1, 0) + COALESCE(v2, 0) + COALESCE(v3, 0) AS n_pos
      FROM voted),
    maj AS MATERIALIZED (
      SELECT *, CASE WHEN n_pos * 2 > n_votes THEN 1
                     WHEN n_pos * 2 < n_votes THEN 0 END AS maj
      FROM lab),
    rows_ AS (
      SELECT 'lf_table' AS lf, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN v1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS voted,
        CAST(SUM(CASE WHEN v1 IS NOT NULL
          AND (v2 IS NOT NULL OR v3 IS NOT NULL) THEN 1 ELSE 0 END)
          AS BIGINT) AS overlapped,
        CAST(SUM(CASE WHEN v1 IS NOT NULL
          AND ((v2 IS NOT NULL AND v2 <> v1) OR (v3 IS NOT NULL AND v3 <> v1))
          THEN 1 ELSE 0 END) AS BIGINT) AS conflicted,
        CAST(SUM(CASE WHEN v1 IS NOT NULL AND maj IS NOT NULL
          THEN 1 ELSE 0 END) AS BIGINT) AS judged,
        CAST(SUM(CASE WHEN v1 IS NOT NULL AND maj IS NOT NULL AND v1 = maj
          THEN 1 ELSE 0 END) AS BIGINT) AS agreed
      FROM maj
      UNION ALL
      SELECT 'lf_long', COUNT(*),
        CAST(SUM(CASE WHEN v2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(SUM(CASE WHEN v2 IS NOT NULL
          AND (v1 IS NOT NULL OR v3 IS NOT NULL) THEN 1 ELSE 0 END)
          AS BIGINT),
        CAST(SUM(CASE WHEN v2 IS NOT NULL
          AND ((v1 IS NOT NULL AND v1 <> v2) OR (v3 IS NOT NULL AND v3 <> v2))
          THEN 1 ELSE 0 END) AS BIGINT),
        CAST(SUM(CASE WHEN v2 IS NOT NULL AND maj IS NOT NULL
          THEN 1 ELSE 0 END) AS BIGINT),
        CAST(SUM(CASE WHEN v2 IS NOT NULL AND maj IS NOT NULL AND v2 = maj
          THEN 1 ELSE 0 END) AS BIGINT)
      FROM maj
      UNION ALL
      SELECT 'lf_diverse', COUNT(*),
        CAST(SUM(CASE WHEN v3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
        CAST(SUM(CASE WHEN v3 IS NOT NULL
          AND (v1 IS NOT NULL OR v2 IS NOT NULL) THEN 1 ELSE 0 END)
          AS BIGINT),
        CAST(SUM(CASE WHEN v3 IS NOT NULL
          AND ((v1 IS NOT NULL AND v1 <> v3) OR (v2 IS NOT NULL AND v2 <> v3))
          THEN 1 ELSE 0 END) AS BIGINT),
        CAST(SUM(CASE WHEN v3 IS NOT NULL AND maj IS NOT NULL
          THEN 1 ELSE 0 END) AS BIGINT),
        CAST(SUM(CASE WHEN v3 IS NOT NULL AND maj IS NOT NULL AND v3 = maj
          THEN 1 ELSE 0 END) AS BIGINT)
      FROM maj)
    SELECT lf, n_docs, voted,
      ROUND(CAST(voted AS DOUBLE) * 100.0 / n_docs, 3) AS coverage_pct,
      ROUND(CAST(overlapped AS DOUBLE) * 100.0 / n_docs, 3) AS overlap_pct,
      ROUND(CAST(conflicted AS DOUBLE) * 100.0 / n_docs, 3) AS conflict_pct,
      CASE WHEN judged > 0 THEN ROUND(CAST(agreed AS DOUBLE) * 100.0 / judged, 3) END
        AS majority_agree_pct
    FROM rows_ ORDER BY lf"""

  // ---------------------------------------------------------------- q356

  /** Successive halving (Karnin et al. ICML'13) over event-type arms:
    * round r evaluates the surviving arms on their first b·2^(r-1)
    * pulls (event_id arrival order) and keeps the top half by mean
    * reward. The output is the full audit trail: (round, arm, n_used,
    * mean_value, kept). Budget prefixes are per-arm rank filters —
    * no global sort; the rank window partitions by arm.
    */
  def successiveHalving(events: DataFrame, b: Int = 200): DataFrame = {
    val ranked = events
      .select(col("event_type").as("arm"), col("event_id"),
        col("value"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("arm").orderBy("event_id")))
      .localCheckpoint()
    var arms: Option[Seq[String]] = None // None = all arms in round 1
    val keep = Seq(3, 2, 1)
    val out = Seq.newBuilder[DataFrame]
    for (r <- 1 to 3) {
      val budget = b * (1 << (r - 1))
      val pool = arms match {
        case Some(a) => ranked.filter(col("arm").isInCollection(a))
        case None => ranked
      }
      val means = pool.filter(col("rk") <= budget)
        .groupBy("arm")
        .agg(count(lit(1)).as("n_used"),
          sum(dec(col("value"), 6)).cast("decimal(28,6)").as("s"))
        .select(col("arm"), col("n_used"),
          (col("s").cast("double") / col("n_used").cast("double"))
            .as("mean_value"))
        .withColumn("pos", row_number().over(
          Window.orderBy(col("mean_value").desc, col("arm"))))
        .withColumn("kept", (col("pos") <= keep(r - 1)).cast("long"))
        .localCheckpoint() // ≤ |arms| rows; pins the survivor set
      out += means.select(lit(r.toLong).as("round"), col("arm"),
        col("n_used"), round(col("mean_value"), 6).as("mean_value"),
        col("kept"))
      arms = Some(means.filter(col("kept") === 1).select("arm")
        .collect().map(_.getString(0)).toSeq)
    }
    out.result().reduce(_ unionAll _).orderBy("round", "arm")
  }

  private def halvingOracle(b: Int = 200): String = s"""
    WITH ranked AS MATERIALIZED (
      SELECT event_type AS arm, value,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) AS rk
      FROM events),
    r1 AS MATERIALIZED (
      SELECT arm, COUNT(*) AS n_used,
        CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6))
          AS DOUBLE) / COUNT(*) AS mean_value
      FROM ranked WHERE rk <= $b GROUP BY 1),
    r1k AS MATERIALIZED (
      SELECT *, ROW_NUMBER() OVER (ORDER BY mean_value DESC, arm) AS pos
      FROM r1),
    r2 AS MATERIALIZED (
      SELECT arm, COUNT(*) AS n_used,
        CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6))
          AS DOUBLE) / COUNT(*) AS mean_value
      FROM ranked WHERE rk <= ${b * 2}
        AND arm IN (SELECT arm FROM r1k WHERE pos <= 3)
      GROUP BY 1),
    r2k AS MATERIALIZED (
      SELECT *, ROW_NUMBER() OVER (ORDER BY mean_value DESC, arm) AS pos
      FROM r2),
    r3 AS MATERIALIZED (
      SELECT arm, COUNT(*) AS n_used,
        CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,6))
          AS DOUBLE) / COUNT(*) AS mean_value
      FROM ranked WHERE rk <= ${b * 4}
        AND arm IN (SELECT arm FROM r2k WHERE pos <= 2)
      GROUP BY 1),
    r3k AS MATERIALIZED (
      SELECT *, ROW_NUMBER() OVER (ORDER BY mean_value DESC, arm) AS pos
      FROM r3)
    SELECT round, arm, n_used, ROUND(mean_value, 6) AS mean_value, kept
    FROM (
      SELECT CAST(1 AS BIGINT) AS round, arm, n_used, mean_value,
        CAST(pos <= 3 AS BIGINT) AS kept FROM r1k
      UNION ALL
      SELECT 2, arm, n_used, mean_value, CAST(pos <= 2 AS BIGINT) FROM r2k
      UNION ALL
      SELECT 3, arm, n_used, mean_value, CAST(pos <= 1 AS BIGINT) FROM r3k)
    ORDER BY round, arm"""

  // ------------------------------------------------------------ queries

  override def queries: Seq[Q] = Seq(
    Q("q354_labeling_functions",
      (s, d) => labelingFunctions(documents(s, d)), Some(labelingOracle)),
    Q("q356_successive_halving",
      (s, d) => successiveHalving(events(s, d)), Some(halvingOracle())),
  )
}
