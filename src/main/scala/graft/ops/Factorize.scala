package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Tables._
import graft.Num.{dec, sortedBy}

/** Matrix/allocation primitives for corpus curation (SURVEY.md §2.9
  * extension surface): a deterministic distributed power iteration for
  * the embedding corpus's top principal direction, exact-quota
  * curriculum staging, and Hamilton largest-remainder budget
  * apportionment across sources. None exist in the reference (its
  * numeric surface stops at MLlib `LogisticRegression`).
  *
  * Oracle-exactness discipline (graft-oracle-exactness): matrix-vector
  * products accumulate per-term DECIMAL(18,12) casts (order-independent
  * exact sums of identical doubles); between iterations the vector is
  * rounded onto a fixed 1e-9 grid so both engines iterate identical
  * operands; allocation/staging is pure BIGINT arithmetic.
  *
  * Scale discipline: each power-iteration half-step is one narrow
  * corpus pass (explode to rows×dims) reduced to a 64-row vector that
  * broadcasts into the next step — the standard shape of distributed
  * PCA (Lanczos/power methods ship O(dims) state per pass, never the
  * corpus). Staging is one window over the doc-stats pass;
  * apportionment reduces to |sources| rows.
  */
object Factorize extends QueryModule {

  // ---------------------------------------------------------------- q270

  /** Top principal direction of the embedding corpus via two fixed,
    * deterministic power-iteration steps on the uncentered second-moment
    * matrix: v0 = 1; t = X·v (per-row dot, exact decimal fold);
    * w = Xᵀ·t (per-dim reduce, exact decimal fold); v is max-abs
    * normalized and rounded to the 1e-9 grid between steps. Reports the
    * unit (L2) loading per dimension plus the Rayleigh-quotient
    * eigenvalue estimate ‖Xv₁‖²/‖v₁‖².
    */
  def powerIteration(emb: DataFrame): DataFrame = {
    // Whole-array folds for the t half-steps (the q279 discipline): t_k
    // is a per-vector dot product against a 64-dim vector, so the
    // per-dim explode + broadcast dim-join + groupBy(vec_id) collapses
    // to one narrow pass — the DECIMAL(18,12)/(28,12) fold reproduces
    // sum()'s exact types. Only the w half-steps explode dims (they are
    // per-DIMENSION sums across vectors).
    val base = emb.select(col("vec_id"), col("embedding")).localCheckpoint()
    // v carried as a 1-row array column in dim order
    def tOf(vArr: DataFrame): DataFrame =
      base.crossJoin(broadcast(vArr))
        .select(col("vec_id"), col("embedding"), expr(
          """aggregate(zip_with(embedding, varr, (x, v) ->
            |    CAST(CAST(x AS DOUBLE) * v AS DECIMAL(18,12))),
            |  CAST(0 AS DECIMAL(28,12)),
            |  (acc, e) -> CAST(acc + e AS DECIMAL(28,12)))""".stripMargin)
          .cast("double").as("t"))
    def wOf(t: DataFrame): DataFrame = t
      .select(col("t"), posexplode(col("embedding")).as(Seq("dim0", "xv")))
      .select((col("dim0") + 1).as("dim"), col("t"),
        col("xv").cast("double").as("xv"))
      .groupBy("dim")
      .agg(sum(dec(col("t") * col("xv"), 12)).cast("double").as("w"))
    def asArr(v: DataFrame): DataFrame =
      v.agg(sortedBy(col("v"), col("dim")).as("varr"))
    def step(v: DataFrame): DataFrame = wOf(tOf(v))
    // max-abs normalize + pin to the 1e-9 grid so iter-2 operands match
    def normalize(w: DataFrame): DataFrame = {
      val m = w.agg(max(abs(col("w"))).as("m"))
      w.crossJoin(broadcast(m))
        .select(col("dim"), round(col("w") / col("m"), 9).as("v"))
    }

    val ones = base.limit(1)
      .select(expr("transform(embedding, x -> CAST(1.0 AS DOUBLE))").as("varr"))
    val v1 = normalize(step(ones))
      .localCheckpoint() // 64 rows; reused by t2 and the Rayleigh denom
    val t2 = tOf(asArr(v1))
      .localCheckpoint() // reused by w2 and the Rayleigh numerator
    val w2 = wOf(t2)
    val v2 = normalize(w2)
    val rayleigh = t2.agg(sum(dec(col("t") * col("t"), 12)).as("num"))
      .crossJoin(broadcast(
        v1.agg(sum(dec(col("v") * col("v"), 12)).as("den"))))
      .select(round((col("num") / col("den")).cast("double"), 4)
        .as("eigenvalue"))
    val l2 = v2.agg(sqrt(sum(dec(col("v") * col("v"), 12)).cast("double"))
      .as("l2"))
    v2.crossJoin(broadcast(l2)).crossJoin(broadcast(rayleigh))
      .select(col("dim").cast("long").as("dim"),
        round(col("v") / col("l2"), 6).as("loading"), col("eigenvalue"))
      .orderBy("dim")
  }

  private val powerOracle = """
    WITH x AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        CAST(unnest(embedding) AS DOUBLE) AS xv
      FROM embeddings),
    t1 AS (
      SELECT vec_id,
        CAST(SUM(CAST(xv * 1.0 AS DECIMAL(18,12))) AS DOUBLE) AS t
      FROM x GROUP BY 1),
    w1 AS (
      SELECT dim, CAST(SUM(CAST(t1.t * x.xv AS DECIMAL(18,12))) AS DOUBLE) AS w
      FROM x JOIN t1 USING (vec_id) GROUP BY 1),
    v1 AS (
      SELECT dim, ROUND(w / (SELECT MAX(ABS(w)) FROM w1), 9) AS v FROM w1),
    t2 AS (
      SELECT vec_id,
        CAST(SUM(CAST(x.xv * v1.v AS DECIMAL(18,12))) AS DOUBLE) AS t
      FROM x JOIN v1 USING (dim) GROUP BY 1),
    w2 AS (
      SELECT dim, CAST(SUM(CAST(t2.t * x.xv AS DECIMAL(18,12))) AS DOUBLE) AS w
      FROM x JOIN t2 USING (vec_id) GROUP BY 1),
    v2 AS (
      SELECT dim, ROUND(w / (SELECT MAX(ABS(w)) FROM w2), 9) AS v FROM w2),
    ray AS (
      SELECT ROUND(CAST(
        (SELECT SUM(CAST(t * t AS DECIMAL(18,12))) FROM t2)
        / (SELECT SUM(CAST(v * v AS DECIMAL(18,12))) FROM v1) AS DOUBLE), 4)
        AS eigenvalue),
    l2 AS (
      SELECT SQRT(CAST(SUM(CAST(v * v AS DECIMAL(18,12))) AS DOUBLE)) AS l2
      FROM v2)
    SELECT CAST(dim AS BIGINT) AS dim,
      ROUND(v / (SELECT l2 FROM l2), 6) AS loading,
      (SELECT eigenvalue FROM ray) AS eigenvalue
    FROM v2 ORDER BY dim"""

  // ---------------------------------------------------------------- q271

  /** Curriculum staging: docs order by an exact integer difficulty proxy
    * (milli-scaled average word length, (n_chars*1000) DIV words) and
    * split into 4 curriculum stages by ntile over the deterministic
    * (difficulty, doc_id) total order. The audit reports per-stage
    * boundaries and mass — the easy→hard schedule check run before
    * emitting training epochs. One corpus pass + one window. The global
    * ntile window is the oracle-reproducible form (like q129's z-order
    * rank); the production form at 100 TB is repartitionByRange on the
    * same (difficulty, doc_id) key, whose sampled range boundaries give
    * the identical stage split without a single-partition sort.
    */
  def curriculumStages(docs: DataFrame): DataFrame = {
    val words = size(filter(split(col("text"), " "), t => t =!= lit("")))
    val staged = docs
      .select(col("doc_id"), col("source"), col("n_chars"),
        words.cast("long").as("words"))
      // Guarded: Spark DIV by zero is NULL while DuckDB // errors the
      // whole oracle — a zero-word doc pins difficulty 0 on both sides.
      .withColumn("difficulty",
        expr("CASE WHEN words > 0 THEN n_chars * 1000L DIV words ELSE 0L END"))
    // ntile(4) distributes via the two-level bucket decomposition
    // (difficulty DIV 64 buckets) — stage identical to the flat
    // global-window form the oracle keeps
    val tiled = Dist.withNtile(staged,
      expr("difficulty DIV 64"), Seq(col("difficulty"), col("doc_id")),
      4, "stage")
    tiled.groupBy("stage").agg(
        count(lit(1)).as("n_docs"),
        min("difficulty").cast("long").as("min_difficulty"),
        max("difficulty").cast("long").as("max_difficulty"),
        sum("words").cast("long").as("total_words"),
        countDistinct("source").as("n_sources"))
      .select(col("stage").cast("long").as("stage"), col("n_docs"),
        col("min_difficulty"), col("max_difficulty"), col("total_words"),
        round(col("total_words").cast("double") / col("n_docs"), 3)
          .as("words_per_doc"),
        col("n_sources"))
      .orderBy("stage")
  }

  private val curriculumOracle = """
    WITH d AS (
      SELECT doc_id, source,
        CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
          AS words,
        n_chars
      FROM documents),
    staged AS (
      SELECT doc_id, source, words,
        CASE WHEN words > 0 THEN n_chars * 1000 // words ELSE 0 END
          AS difficulty,
        NTILE(4) OVER (
          ORDER BY CASE WHEN words > 0 THEN n_chars * 1000 // words
                        ELSE 0 END, doc_id) AS stage
      FROM d)
    SELECT CAST(stage AS BIGINT) AS stage, COUNT(*) AS n_docs,
      CAST(MIN(difficulty) AS BIGINT) AS min_difficulty,
      CAST(MAX(difficulty) AS BIGINT) AS max_difficulty,
      CAST(SUM(words) AS BIGINT) AS total_words,
      ROUND(CAST(SUM(words) AS DOUBLE) / COUNT(*), 3) AS words_per_doc,
      COUNT(DISTINCT source) AS n_sources
    FROM staged GROUP BY 1 ORDER BY stage"""

  // ---------------------------------------------------------------- q272

  /** Hamilton largest-remainder apportionment of a 10,000-doc sampling
    * budget across sources, proportional to token mass: exact integer
    * quotas base = (B*w) DIV W, remainders r = B*w - base*W, and the
    * B - Σbase leftover seats go to the largest remainders (ties by
    * source). Every quantity is exact BIGINT arithmetic — no float
    * rounding can mis-seat an allocation in either engine. The corpus
    * contributes one token-mass rollup; everything after is |sources|
    * rows.
    */
  def apportionBudget(docs: DataFrame): DataFrame = {
    val budget = 10000L
    val w = docs.groupBy("source").agg(
        sum(size(filter(split(col("text"), " "), t => t =!= lit("")))
          .cast("long")).as("w"))
      .withColumn("w_total", sum("w").over(Window.partitionBy()))
    val quotas = w
      .withColumn("base", expr(s"$budget * w DIV w_total"))
      .withColumn("rem", expr(s"$budget * w - base * w_total"))
      .withColumn("leftover",
        lit(budget) - sum("base").over(Window.partitionBy()))
      .withColumn("rem_rank", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
    quotas
      .select(col("source"), col("w").as("tokens"),
        col("base"),
        (col("rem_rank") <= col("leftover")).cast("int").as("extra_seat"),
        (col("base") + (col("rem_rank") <= col("leftover")).cast("long"))
          .as("allocation"),
        round(col("w").cast("double") * budget / col("w_total"), 3)
          .as("ideal_quota"))
      .orderBy("source")
  }

  private val apportionOracle = """
    WITH w AS (
      SELECT source,
        CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS w,
        CAST(SUM(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))))
          OVER () AS BIGINT) AS w_total
      FROM documents GROUP BY source),
    q AS (
      SELECT source, w, w_total,
        10000 * w // w_total AS base,
        10000 * w - (10000 * w // w_total) * w_total AS rem
      FROM w),
    r AS (
      SELECT source, w, w_total, base, rem,
        10000 - SUM(base) OVER () AS leftover,
        ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rem_rank
      FROM q)
    SELECT source, w AS tokens, base,
      CAST(rem_rank <= leftover AS INT) AS extra_seat,
      base + CAST(rem_rank <= leftover AS BIGINT) AS allocation,
      ROUND(CAST(w AS DOUBLE) * 10000 / w_total, 3) AS ideal_quota
    FROM r ORDER BY source"""

  // ------------------------------------------------------------ queries

  override def queries: Seq[Q] = Seq(
    Q("q270_power_iteration",
      (s, d) => powerIteration(embeddings(s, d)), Some(powerOracle)),
    Q("q271_curriculum_stages",
      (s, d) => curriculumStages(documents(s, d)), Some(curriculumOracle)),
    Q("q272_apportion_budget",
      (s, d) => apportionBudget(documents(s, d)), Some(apportionOracle)),
  )
}
