package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Num._
import graft.Tables._

/** Model-evaluation / experiment-design analytics, round 8 of the
  * extension surface (none exist in the reference): the sample-size
  * calculator every A/B platform exposes, ranked-retrieval average
  * precision, isotonic (PAV) probability calibration, the Murphy
  * decomposition of the Brier score, and Fleiss' multi-rater kappa —
  * the metrics battery for scoring models and annotation fleets over
  * exactly this event/document shape.
  *
  * Exactness: labels and synthetic scores come from md5 slices (the
  * portable instr/ascii hex idioms); every metric is either an exact
  * integer ppm quotient (DIV) or a double derived from exact integer /
  * decimal sums and rounded at 6 (q140 rule). Scale: rankings are
  * per-group windows; PAV runs on the 20-bin rollup, never the corpus;
  * the Brier/kappa rollups are one shuffle onto bin/category-sized
  * frames.
  */
object Evaluate extends QueryModule {

  /** 3-hex-digit md5 slice at 1-based offset `o` of column h: 0..4095. */
  private def hv3(h: String, o: Int) = {
    val d = (i: Int) =>
      s"(instr('0123456789abcdef', substring($h, ${o + i}, 1)) - 1)"
    expr(s"${d(0)} * 256 + ${d(1)} * 16 + ${d(2)}")
  }

  // ---------------------------------------------------------------- q327

  /** Two-sample power analysis per event_type: users are split by the
    * deterministic md5 coin (q314 convention); the report carries the
    * observed per-arm means, the pooled variance, and the per-arm n
    * required to detect the observed effect at alpha=0.05 / power=0.8 —
    * n = ceil(K·s²/d²) with K = 2(z_.975 + z_.8)² ≈ 15.698. A zero
    * observed effect yields NULL (nothing to power), not an error.
    */
  def powerAnalysis(events: DataFrame): DataFrame = {
    val armed = events.withColumn("arm", expr(
      "ascii(substring(md5(cast(cast(user_id as string) as binary)), 1, 1)) % 2"))
    armed.groupBy("event_type")
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 0, dec(col("value"), 6)).otherwise(lit(0)))
          .cast("decimal(28,6)").as("sa"),
        sum(when(col("arm") === 1, dec(col("value"), 6)).otherwise(lit(0)))
          .cast("decimal(28,6)").as("sb"),
        sum(when(col("arm") === 0,
          (dec(col("value"), 6) * dec(col("value"), 6)).cast("decimal(38,12)"))
          .otherwise(lit(0))).cast("decimal(38,12)").as("qa"),
        sum(when(col("arm") === 1,
          (dec(col("value"), 6) * dec(col("value"), 6)).cast("decimal(38,12)"))
          .otherwise(lit(0))).cast("decimal(38,12)").as("qb"))
      .withColumn("ma", expr("CAST(sa AS DOUBLE) / n_a"))
      .withColumn("mb", expr("CAST(sb AS DOUBLE) / n_b"))
      .withColumn("s2", expr(
        "(CAST(qa AS DOUBLE) - n_a * ma * ma + CAST(qb AS DOUBLE) - n_b * mb * mb) / (n_a + n_b - 2)"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("ma"), 4).as("mean_a"), round(col("mb"), 4).as("mean_b"),
        round(col("s2"), 4).as("pooled_var"),
        round(col("ma") - col("mb"), 4).as("effect"),
        expr("CAST(CEIL(15.698 * s2 / nullif((ma - mb) * (ma - mb), 0.0)) AS BIGINT)")
          .as("n_required"))
      .orderBy("event_type")
  }

  private val powerOracle = """
    WITH armed AS (
      SELECT event_type,
        ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) % 2 AS arm,
        CAST(value AS DECIMAL(18,6)) AS v
      FROM events),
    agg AS (
      SELECT event_type,
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN arm = 0 THEN v ELSE 0 END) AS DECIMAL(28,6)) AS sa,
        CAST(SUM(CASE WHEN arm = 1 THEN v ELSE 0 END) AS DECIMAL(28,6)) AS sb,
        CAST(SUM(CASE WHEN arm = 0 THEN CAST(CAST(v AS DECIMAL(19,6))
          * CAST(v AS DECIMAL(19,6)) AS DECIMAL(38,12)) ELSE 0 END)
          AS DECIMAL(38,12)) AS qa,
        CAST(SUM(CASE WHEN arm = 1 THEN CAST(CAST(v AS DECIMAL(19,6))
          * CAST(v AS DECIMAL(19,6)) AS DECIMAL(38,12)) ELSE 0 END)
          AS DECIMAL(38,12)) AS qb
      FROM armed GROUP BY event_type),
    st AS (
      SELECT *, CAST(sa AS DOUBLE) / n_a AS ma, CAST(sb AS DOUBLE) / n_b AS mb,
        (CAST(qa AS DOUBLE) - n_a * (CAST(sa AS DOUBLE) / n_a) * (CAST(sa AS DOUBLE) / n_a)
         + CAST(qb AS DOUBLE) - n_b * (CAST(sb AS DOUBLE) / n_b) * (CAST(sb AS DOUBLE) / n_b))
          / (n_a + n_b - 2) AS s2
      FROM agg)
    SELECT event_type, n_a, n_b, ROUND(ma, 4) AS mean_a, ROUND(mb, 4) AS mean_b,
      ROUND(s2, 4) AS pooled_var, ROUND(ma - mb, 4) AS effect,
      CAST(CEIL(15.698 * s2 / nullif((ma - mb) * (ma - mb), 0.0)) AS BIGINT)
        AS n_required
    FROM st ORDER BY event_type"""

  // ---------------------------------------------------------------- q328

  /** Ranked-retrieval average precision per event_type: events rank by
    * (value DESC, event_id) within their type, relevance is the odd
    * user_id; AP = mean over positives of precision-at-their-rank,
    * held exact as integer ppm (each precision is a DIV quotient, the
    * mean is a final DIV). The window is per-group; production form at
    * 100 TB is repartitionByRange(event_type, value) + per-partition
    * rank (q129's documented global-window oracle convention).
    */
  def averagePrecision(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id").asc)
    val ranked = events
      .withColumn("pos", (col("user_id") % 2 === 1).cast("long"))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_pos", sum("pos").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ranked.filter(col("pos") === 1)
      .withColumn("prec_ppm", expr("cum_pos * 1000000 DIV rank"))
      .groupBy("event_type")
      .agg(max("rank").as("max_pos_rank"), count(lit(1)).as("n_pos"),
        expr("sum(prec_ppm) DIV count(1)").as("ap_ppm"))
      .orderBy("event_type")
  }

  private val apOracle = """
    WITH ranked AS (
      SELECT event_type,
        CAST(user_id % 2 = 1 AS BIGINT) AS pos,
        CAST(ROW_NUMBER() OVER
          (PARTITION BY event_type ORDER BY value DESC, event_id) AS BIGINT) AS rank,
        CAST(SUM(CAST(user_id % 2 = 1 AS BIGINT)) OVER
          (PARTITION BY event_type ORDER BY value DESC, event_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
      FROM events)
    SELECT event_type, CAST(MAX(rank) AS BIGINT) AS max_pos_rank,
      COUNT(*) AS n_pos,
      CAST(SUM(cum_pos * 1000000 // rank) // COUNT(*) AS BIGINT) AS ap_ppm
    FROM ranked WHERE pos = 1
    GROUP BY event_type ORDER BY event_type"""

  // ---------------------------------------------------------------- q329

  /** Isotonic (pool-adjacent-violators) calibration over 20 equal-width
    * score bins: the label generator is P(y=1|v) ≈ v/512 (md5 slice
    * compared against floor(8v)), so the empirical bin rates are noisy
    * but increasing, and PAV smooths the violations. The closed max-min
    * form iso(b) = max_{i<=b} min_{j>=b} rate(i..j) runs entirely on
    * the bin rollup (O(bins³) pairs, bins = 20); every pooled rate is
    * an exact integer ppm quotient, so ties and comparisons are
    * engine-independent. Law (spec): iso_ppm is non-decreasing.
    */
  def isotonicPav(events: DataFrame): DataFrame = {
    val binned = events
      .withColumn("hy", hv3("md5(cast(concat('y', cast(event_id as string)) as binary))", 1))
      .withColumn("y", (col("hy") < floor(col("value") * 8)).cast("long"))
      .withColumn("bin", least(floor(col("value") / 25.0).cast("long"), lit(19L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("p"))
    // index non-empty bins contiguously so prefix sums are dense
    val wOrd = Window.orderBy("bin")
    val idx = binned
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("cn", sum("n").over(wOrd))
      .withColumn("cp", sum("p").over(wOrd))
      .localCheckpoint() // <=20 rows; feeds lo/hi/b without corpus re-scan
    val lo = idx.select(col("i").as("il"), (col("cn") - col("n")).as("n0"),
      (col("cp") - col("p")).as("p0"))
    val hi = idx.select(col("i").as("jh"), col("cn").as("n1"), col("cp").as("p1"))
    val pairs = lo.crossJoin(hi).filter(col("il") <= col("jh"))
      .select(col("il"), col("jh"),
        expr("(p1 - p0) * 1000000 DIV (n1 - n0)").as("f_ppm"))
    val b = idx.select(col("i").as("bi"), col("bin"), col("n"), col("p"))
    val mins = b.join(pairs, col("il") <= col("bi") && col("jh") >= col("bi"))
      .groupBy("bi", "bin", "n", "p", "il")
      .agg(min("f_ppm").as("mn"))
    mins.groupBy("bi", "bin", "n", "p")
      .agg(max("mn").as("iso_ppm"))
      .select(col("bin"), col("n"), col("p"),
        expr("p * 1000000 DIV n").as("raw_ppm"), col("iso_ppm"))
      .orderBy("bin")
  }

  private val isotonicOracle = """
    WITH binned AS (
      SELECT LEAST(CAST(FLOOR(value / 25.0) AS BIGINT), 19) AS bin,
        COUNT(*) AS n,
        CAST(SUM(CASE WHEN
          (instr('0123456789abcdef', substr(md5('y' || CAST(event_id AS VARCHAR)), 1, 1)) - 1) * 256
          + (instr('0123456789abcdef', substr(md5('y' || CAST(event_id AS VARCHAR)), 2, 1)) - 1) * 16
          + (instr('0123456789abcdef', substr(md5('y' || CAST(event_id AS VARCHAR)), 3, 1)) - 1)
          < FLOOR(value * 8) THEN 1 ELSE 0 END) AS BIGINT) AS p
      FROM events GROUP BY 1),
    idx AS (
      SELECT bin, n, p,
        CAST(ROW_NUMBER() OVER (ORDER BY bin) AS BIGINT) AS i,
        CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
        CAST(SUM(p) OVER (ORDER BY bin) AS BIGINT) AS cp
      FROM binned),
    pairs AS (
      SELECT l.i AS il, h.i AS jh,
        (h.cp - (l.cp - l.p)) * 1000000 // (h.cn - (l.cn - l.n)) AS f_ppm
      FROM idx l, idx h WHERE l.i <= h.i),
    mins AS (
      SELECT b.i AS bi, b.bin, b.n, b.p, pr.il, MIN(pr.f_ppm) AS mn
      FROM idx b JOIN pairs pr ON pr.il <= b.i AND pr.jh >= b.i
      GROUP BY 1, 2, 3, 4, 5)
    SELECT bin, n, p, CAST(p * 1000000 // n AS BIGINT) AS raw_ppm,
      CAST(MAX(mn) AS BIGINT) AS iso_ppm
    FROM mins GROUP BY bi, bin, n, p ORDER BY bin"""

  // ---------------------------------------------------------------- q330

  /** Murphy decomposition of the Brier score over 16 prediction bins.
    * The generator is perfectly calibrated by construction — p is a
    * 12-bit md5 slice and y fires when an independent slice is below
    * p — so reliability ≈ 0 and resolution ≈ 0 (labels don't vary by
    * bin beyond p itself). All bin moments are exact integers in
    * 1/4096 units; the three components and the Brier score are
    * assembled from them in one deterministic double expression each.
    */
  def brierDecomposition(events: DataFrame): DataFrame = {
    val scored = events
      .withColumn("p", hv3("md5(cast(concat('p', cast(event_id as string)) as binary))", 1))
      .withColumn("y", (hv3("md5(cast(concat('q', cast(event_id as string)) as binary))", 1)
        < col("p")).cast("long"))
      .withColumn("bin", expr("p DIV 256"))
    val bins = scored.groupBy("bin")
      .agg(count(lit(1)).as("nk"), sum("p").as("spk"), sum("y").as("syk"),
        sum(expr("(p - 4096 * y) * (p - 4096 * y)")).as("sqk"))
      .localCheckpoint() // 16 rows; feeds both the totals and the terms
    val tot = bins.agg(sum("nk").as("n"), sum("syk").as("n_pos"),
      sum("sqk").as("sq"))
    bins.crossJoin(broadcast(tot))
      .agg(max("n").as("n"), max("n_pos").as("n_pos"), max("sq").as("sq"),
        sum(expr("CAST(CAST(spk - 4096 * syk AS DOUBLE) * CAST(spk - 4096 * syk AS DOUBLE) / nk AS DECIMAL(38,12))")).as("rel_num"),
        sum(expr("CAST((CAST(syk AS DOUBLE) * n - CAST(nk AS DOUBLE) * n_pos) * (CAST(syk AS DOUBLE) * n - CAST(nk AS DOUBLE) * n_pos) / nk AS DECIMAL(38,12))")).as("res_num"))
      .select(col("n"), col("n_pos"),
        round(expr("CAST(sq AS DOUBLE) / (4096.0 * 4096.0 * n)"), 6).as("brier"),
        round(expr("CAST(rel_num AS DOUBLE) / (4096.0 * 4096.0 * n)"), 6)
          .as("reliability"),
        round(expr("CAST(res_num AS DOUBLE) / (CAST(n AS DOUBLE) * n * n)"), 6)
          .as("resolution"),
        round(expr("CAST(n_pos AS DOUBLE) * (n - n_pos) / (CAST(n AS DOUBLE) * n)"), 6)
          .as("uncertainty"))
  }

  private val brierOracle = """
    WITH scored AS (
      SELECT
        (instr('0123456789abcdef', substr(md5('p' || CAST(event_id AS VARCHAR)), 1, 1)) - 1) * 256
        + (instr('0123456789abcdef', substr(md5('p' || CAST(event_id AS VARCHAR)), 2, 1)) - 1) * 16
        + (instr('0123456789abcdef', substr(md5('p' || CAST(event_id AS VARCHAR)), 3, 1)) - 1) AS p,
        CAST((instr('0123456789abcdef', substr(md5('q' || CAST(event_id AS VARCHAR)), 1, 1)) - 1) * 256
        + (instr('0123456789abcdef', substr(md5('q' || CAST(event_id AS VARCHAR)), 2, 1)) - 1) * 16
        + (instr('0123456789abcdef', substr(md5('q' || CAST(event_id AS VARCHAR)), 3, 1)) - 1)
          < (instr('0123456789abcdef', substr(md5('p' || CAST(event_id AS VARCHAR)), 1, 1)) - 1) * 256
          + (instr('0123456789abcdef', substr(md5('p' || CAST(event_id AS VARCHAR)), 2, 1)) - 1) * 16
          + (instr('0123456789abcdef', substr(md5('p' || CAST(event_id AS VARCHAR)), 3, 1)) - 1)
          AS BIGINT) AS y
      FROM events),
    bins AS (
      SELECT p // 256 AS bin, COUNT(*) AS nk,
        CAST(SUM(p) AS BIGINT) AS spk, CAST(SUM(y) AS BIGINT) AS syk,
        CAST(SUM((p - 4096 * y) * (p - 4096 * y)) AS BIGINT) AS sqk
      FROM scored GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(syk) AS BIGINT) AS n_pos,
        CAST(SUM(sqk) AS BIGINT) AS sq
      FROM bins),
    comp AS (
      SELECT
        SUM(CAST(CAST(spk - 4096 * syk AS DOUBLE)
          * CAST(spk - 4096 * syk AS DOUBLE) / nk
          AS DECIMAL(38,12))) AS rel_num,
        SUM(CAST((CAST(syk AS DOUBLE) * t.n - CAST(nk AS DOUBLE) * t.n_pos)
          * (CAST(syk AS DOUBLE) * t.n - CAST(nk AS DOUBLE) * t.n_pos) / nk
          AS DECIMAL(38,12))) AS res_sum
      FROM bins, tot t)
    SELECT t.n, t.n_pos,
      ROUND(t.sq / (4096.0 * 4096.0 * t.n), 6) AS brier,
      ROUND(CAST(c.rel_num AS DOUBLE) / (4096.0 * 4096.0 * t.n), 6)
        AS reliability,
      ROUND(CAST(c.res_sum AS DOUBLE) / (CAST(t.n AS DOUBLE) * t.n * t.n), 6)
        AS resolution,
      ROUND(CAST(t.n_pos AS DOUBLE) * (t.n - t.n_pos)
        / (CAST(t.n AS DOUBLE) * t.n), 6) AS uncertainty
    FROM tot t, comp c"""

  // ---------------------------------------------------------------- q331

  /** Fleiss' kappa over three deterministic md5 raters assigning each
    * document one of four categories. With per-item agreement numerators
    * A = Σ_i(Σ_c v² − 3) (sixths) and category totals B = Σ_c T², the
    * whole statistic reduces to one exact integer identity:
    * kappa = (3nA − 2B) / (2(9n² − B)) — evaluated as a double of
    * sub-2^53 integers, so both engines agree bit-for-bit.
    */
  def fleissKappa(documents: DataFrame): DataFrame = {
    val votes = documents.select(col("doc_id"),
      explode(sequence(lit(1), lit(3))).as("r"))
      .withColumn("cat", expr(
        "ascii(substring(md5(cast(concat(cast(doc_id as string), ':', cast(r as string)) as binary)), 1, 1)) % 4"))
    val cells = votes.groupBy("doc_id", "cat").agg(count(lit(1)).as("v"))
    val a = cells.groupBy("doc_id")
      .agg((sum(col("v") * col("v")) - 3L).as("numi"))
      .agg(sum("numi").as("a"), count(lit(1)).as("n"))
    val b = cells.groupBy("cat").agg(sum("v").as("t"))
      .agg(sum(col("t") * col("t")).as("b"))
    a.crossJoin(broadcast(b))
      .select(col("n").as("n_items"),
        round(expr("CAST(a AS DOUBLE) / (6.0 * n)"), 6).as("p_bar"),
        round(expr("CAST(b AS DOUBLE) / (9.0 * n * n)"), 6).as("p_e"),
        round(expr("CAST(3 * n * a - 2 * b AS DOUBLE) / (2.0 * (9 * n * n - b))"), 6)
          .as("kappa"))
  }

  private val fleissOracle = """
    WITH votes AS (
      SELECT doc_id, r,
        ascii(substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)), 1, 1)) % 4 AS cat
      FROM documents, (SELECT UNNEST(generate_series(1, 3)) AS r)),
    cells AS (
      SELECT doc_id, cat, COUNT(*) AS v FROM votes GROUP BY 1, 2),
    aa AS (
      SELECT CAST(SUM(numi) AS BIGINT) AS a, COUNT(*) AS n
      FROM (SELECT doc_id, SUM(v * v) - 3 AS numi FROM cells GROUP BY doc_id)),
    bb AS (
      SELECT CAST(SUM(t * t) AS BIGINT) AS b
      FROM (SELECT cat, SUM(v) AS t FROM cells GROUP BY cat))
    SELECT n AS n_items,
      ROUND(CAST(a AS DOUBLE) / (6.0 * n), 6) AS p_bar,
      ROUND(CAST(b AS DOUBLE) / (9.0 * n * n), 6) AS p_e,
      ROUND(CAST(3 * n * a - 2 * b AS DOUBLE) / (2.0 * (9 * n * n - b)), 6)
        AS kappa
    FROM aa, bb"""

  // ------------------------------------------------------------ queries

  // ---------------------------------------------------------------- q350

  /** Reciprocal-rank fusion (Cormack et al. SIGIR'09), k=60, of two
    * document rankers — length (n_chars desc) and lexical diversity
    * (distinct-word ratio desc): rrf = 1/(60+r_len) + 1/(60+r_div),
    * top 15. The standard zero-tuning ensemble for merging retrieval
    * runs. Ranks are pinned by (metric desc, doc_id); the fused score
    * is a fixed two-term double sum — bit-identical on both engines.
    * Ranking is inherently a distributed sort at scale; the fusion
    * itself adds a doc-keyed join, no extra pass.
    */
  def rrfFusion(docs: DataFrame, k: Int = 60, top: Int = 15): DataFrame = {
    val scored = docs.select(col("doc_id"), col("n_chars"),
      (size(array_distinct(split(col("text"), " "))).cast("double")
        / size(split(col("text"), " ")).cast("double")).as("div_ratio"))
    // both full rankings distribute via the two-level bucket
    // decomposition (negated buckets are monotone in the descending
    // leading keys) — r_len/r_div identical to the flat global windows
    // the oracle keeps
    val rLen = Dist.withRowNumber(scored,
      expr("-(n_chars DIV 64)"),
      Seq(col("n_chars").desc, col("doc_id")), "r_len")
    val fused = Dist.withRowNumber(rLen,
        expr("-CAST(div_ratio * 4096 AS BIGINT)"),
        Seq(col("div_ratio").desc, col("doc_id")), "r_div")
      .select(col("doc_id"), col("r_len"), col("r_div"),
        (lit(1.0) / (lit(k.toDouble) + col("r_len").cast("double"))
          + lit(1.0) / (lit(k.toDouble) + col("r_div").cast("double")))
          .as("rrf"))
    fused.orderBy(col("rrf").desc, col("doc_id")).limit(top)
      .select(col("doc_id"), col("r_len"), col("r_div"),
        round(col("rrf"), 6).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
  }

  private def rrfOracle(k: Int = 60, top: Int = 15): String = s"""
    WITH scored AS (
      SELECT doc_id, n_chars,
        CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS div_ratio
      FROM documents),
    ranked AS (
      SELECT doc_id,
        ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r_len,
        ROW_NUMBER() OVER (ORDER BY div_ratio DESC, doc_id) AS r_div
      FROM scored),
    fused AS (
      SELECT doc_id, r_len, r_div,
        1.0 / ($k + CAST(r_len AS DOUBLE))
          + 1.0 / ($k + CAST(r_div AS DOUBLE)) AS rrf
      FROM ranked)
    SELECT doc_id, CAST(r_len AS BIGINT) AS r_len,
      CAST(r_div AS BIGINT) AS r_div, ROUND(rrf, 6) AS rrf_score
    FROM fused ORDER BY rrf DESC, doc_id LIMIT $top"""

  // ---------------------------------------------------------------- q396

  /** Exact tie-corrected ROC-AUC per event type: label is the odd
    * user_id (q328's generator), score is the 2-decimal value. AUC is
    * the normalized Mann-Whitney U computed from EXACT average ranks —
    * the corpus collapses to its distinct integer cents (per group),
    * the cumulative-count window yields 2·avgrank as an integer, and
    * U2 = 2·Σ_pos rank − n1(n1+1) stays integral, so auc_ppm is a
    * single integral division. No per-pair work, no doubles anywhere.
    */
  def rocAuc(events: DataFrame): DataFrame = {
    val vals = events.select(col("event_type"),
      (dec(col("value"), 2) * 100).cast("long").as("c"),
      (col("user_id") % 2 === 1).cast("long").as("pos"))
    val w = Window.partitionBy("event_type").orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byVal = vals.groupBy("event_type", "c")
      .agg(count(lit(1)).as("t"), sum("pos").as("tpos"))
      .withColumn("cum", sum("t").over(w))
      .withColumn("r2", lit(2) * col("cum") - col("t") + 1)
    byVal.groupBy("event_type")
      .agg(sum("t").as("n"), sum("tpos").as("n_pos"),
        sum((col("tpos") * col("r2")).cast("decimal(38,0)")).as("r2pos"))
      .select(col("event_type"), col("n"), col("n_pos"),
        expr("""(r2pos - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) * 500000
          DIV (CAST(n_pos AS DECIMAL(38,0)) * (n - n_pos))""")
          .cast("long").as("auc_ppm"))
      .orderBy("event_type")
  }

  private val rocAucOracle = """
    WITH vals AS (
      SELECT event_type,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        CAST(user_id % 2 = 1 AS BIGINT) AS pos
      FROM events),
    by_val AS (
      SELECT event_type, c, t, tpos,
        2 * SUM(t) OVER (PARTITION BY event_type ORDER BY c
          ROWS UNBOUNDED PRECEDING) - t + 1 AS r2
      FROM (SELECT event_type, c, COUNT(*) AS t, SUM(pos) AS tpos
            FROM vals GROUP BY 1, 2))
    SELECT event_type, CAST(SUM(t) AS BIGINT) AS n,
      CAST(SUM(tpos) AS BIGINT) AS n_pos,
      CAST((CAST(SUM(tpos * r2) AS HUGEINT)
            - CAST(SUM(tpos) AS HUGEINT) * (SUM(tpos) + 1)) * 500000
        // (CAST(SUM(tpos) AS HUGEINT) * (SUM(t) - SUM(tpos)))
        AS BIGINT) AS auc_ppm
    FROM by_val GROUP BY event_type ORDER BY event_type"""

  // ---------------------------------------------------------------- q397

  /** Binary-classifier confusion suite at five fixed score thresholds:
    * TP/FP/FN/TN are exact conditional counts in ONE corpus pass
    * (threshold list exploded against the per-(cents,label) rollup, so
    * the corpus is not re-scanned per threshold), and every derived
    * metric is either an exact ppm quotient (precision, recall, F1,
    * Youden J) or a single double expression over exact integers (MCC,
    * whose 4-way product needs decimal(38) headroom, not floats).
    */
  def confusionSuite(events: DataFrame): DataFrame = {
    val rolled = events.select(
        (dec(col("value"), 2) * 100).cast("long").as("c"),
        (col("user_id") % 2 === 1).cast("long").as("pos"))
      .groupBy("c", "pos").agg(count(lit(1)).as("n"))
    val swept = rolled
      .select(col("c"), col("pos"), col("n"),
        explode(expr("array(1000L, 2500L, 5000L, 10000L, 20000L)")).as("thr"))
      .groupBy("thr")
      .agg(
        sum(when(col("pos") === 1 && col("c") >= col("thr"), col("n")).otherwise(0L)).as("tp"),
        sum(when(col("pos") === 0 && col("c") >= col("thr"), col("n")).otherwise(0L)).as("fp"),
        sum(when(col("pos") === 1 && col("c") < col("thr"), col("n")).otherwise(0L)).as("fn"),
        sum(when(col("pos") === 0 && col("c") < col("thr"), col("n")).otherwise(0L)).as("tn"))
    swept.select(col("thr"), col("tp"), col("fp"), col("fn"), col("tn"),
        expr("tp * 1000000 DIV (tp + fp)").as("precision_ppm"),
        expr("tp * 1000000 DIV (tp + fn)").as("recall_ppm"),
        expr("2 * tp * 1000000 DIV (2 * tp + fp + fn)").as("f1_ppm"),
        expr("tp * 1000000 DIV (tp + fn) + tn * 1000000 DIV (tn + fp) - 1000000")
          .as("youden_ppm"),
        round(expr(
          """(CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
            | - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
            |/ sqrt(CAST(CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)
            |       * (tn + fp) * (tn + fn) AS DOUBLE))""".stripMargin), 6)
          .as("mcc"))
      .orderBy("thr")
  }

  private val confusionOracle = """
    WITH rolled AS (
      SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        CAST(user_id % 2 = 1 AS BIGINT) AS pos, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    swept AS (
      SELECT thr,
        CAST(SUM(CASE WHEN pos = 1 AND c >= thr THEN n ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN pos = 0 AND c >= thr THEN n ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN pos = 1 AND c < thr THEN n ELSE 0 END) AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN pos = 0 AND c < thr THEN n ELSE 0 END) AS BIGINT) AS tn
      FROM rolled, (SELECT unnest([1000, 2500, 5000, 10000, 20000]) AS thr)
      GROUP BY thr)
    SELECT CAST(thr AS BIGINT) AS thr, tp, fp, fn, tn,
      tp * 1000000 // (tp + fp) AS precision_ppm,
      tp * 1000000 // (tp + fn) AS recall_ppm,
      2 * tp * 1000000 // (2 * tp + fp + fn) AS f1_ppm,
      tp * 1000000 // (tp + fn) + tn * 1000000 // (tn + fp) - 1000000
        AS youden_ppm,
      ROUND((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
        - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
        / sqrt(CAST(CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)
               * (tn + fp) * (tn + fn) AS DOUBLE)), 6) AS mcc
    FROM swept ORDER BY thr"""

  // ---------------------------------------------------------------- q398

  /** Deterministic log-loss per event type under the rank-free
    * calibration p(c) = (c+1)/(cmax+2) (Laplace-smoothed score scaling
    * — a fixed, engine-independent transform): the corpus collapses to
    * per-(type, cents) label counts, each distinct score contributes
    * n_pos·ln p + n_neg·ln(1−p), and the cross-value reduction is a
    * pinned-order fold over the distinct-cents frame (transcendental
    * addends have no exact-decimal path — q185's documented
    * convention). Output is value-cardinality work after one shuffle.
    */
  def logLoss(events: DataFrame): DataFrame = {
    val rolled = events.select(col("event_type"),
        (dec(col("value"), 2) * 100).cast("long").as("c"),
        (col("user_id") % 2 === 1).cast("long").as("pos"))
      .groupBy("event_type", "c")
      .agg(count(lit(1)).as("n"), sum("pos").as("npos"))
    val cmax = rolled.agg(max("c").as("cmax"))
    rolled.crossJoin(broadcast(cmax))
      .withColumn("p", expr("CAST(c + 1 AS DOUBLE) / CAST(cmax + 2 AS DOUBLE)"))
      .groupBy("event_type")
      .agg(sum("n").as("n"), sum("npos").as("n_pos"),
        osum(expr("CAST(npos AS DOUBLE) * ln(p) + CAST(n - npos AS DOUBLE) * ln(1.0 - p)"),
          col("c")).as("ll_sum"))
      .select(col("event_type"), col("n"), col("n_pos"),
        round(expr("-ll_sum / CAST(n AS DOUBLE)"), 6).as("log_loss"))
      .orderBy("event_type")
  }

  private val logLossOracle = """
    WITH rolled AS (
      SELECT event_type,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
        COUNT(*) AS n,
        CAST(SUM(CAST(user_id % 2 = 1 AS BIGINT)) AS BIGINT) AS npos
      FROM events GROUP BY 1, 2),
    cm AS (SELECT MAX(c) AS cmax FROM rolled),
    terms AS (
      SELECT event_type, c, n, npos,
        CAST(c + 1 AS DOUBLE) / CAST(cmax + 2 AS DOUBLE) AS p
      FROM rolled, cm)
    SELECT event_type, CAST(SUM(n) AS BIGINT) AS n,
      CAST(SUM(npos) AS BIGINT) AS n_pos,
      ROUND(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(CAST(npos AS DOUBLE) * ln(p)
               + CAST(n - npos AS DOUBLE) * ln(1.0 - p) ORDER BY c)),
          (acc, x) -> acc + x) / CAST(SUM(n) AS DOUBLE), 6) AS log_loss
    FROM terms GROUP BY event_type ORDER BY event_type"""

  // ------------------------------------------------------------ queries

  override def queries: Seq[Q] = Seq(
    Q("q396_roc_auc", (s, d) => rocAuc(events(s, d)), Some(rocAucOracle)),
    Q("q397_confusion_suite",
      (s, d) => confusionSuite(events(s, d)), Some(confusionOracle)),
    Q("q398_log_loss", (s, d) => logLoss(events(s, d)), Some(logLossOracle)),
    Q("q350_rrf_fusion",
      (s, d) => rrfFusion(documents(s, d)), Some(rrfOracle())),
    Q("q327_power_analysis",
      (s, d) => powerAnalysis(events(s, d)), Some(powerOracle)),
    Q("q328_average_precision",
      (s, d) => averagePrecision(events(s, d)), Some(apOracle)),
    Q("q329_isotonic_pav",
      (s, d) => isotonicPav(events(s, d)), Some(isotonicOracle)),
    Q("q330_brier_decomposition",
      (s, d) => brierDecomposition(events(s, d)), Some(brierOracle)),
    Q("q331_fleiss_kappa",
      (s, d) => fleissKappa(documents(s, d)), Some(fleissOracle)),
  )
}
