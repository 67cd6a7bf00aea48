package graft.ops

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Tables._
import graft.Num.osum

/** Corpus-insight and distribution-comparison operators a curation
  * platform layers over the engine (SURVEY.md §2.9 extension surface):
  * species-richness estimation (Chao1 / Good-Turing coverage) for vocab
  * growth planning, inter-arrival burstiness of the event stream,
  * weighted-Jaccard vocabulary overlap between sources, 1-D earth
  * mover's distance between per-type value histograms, and lead-lag
  * cross-correlation of each event type against the aggregate series.
  * None exist in the reference (its analysis surface stops at binary
  * classifier metrics, `03a_Model Training.py:300-330`).
  *
  * Oracle-exactness discipline (graft-oracle-exactness): every
  * statistic reduces exact integers/decimals (token counts, integer
  * micros, cross-multiplied cumulative counts); doubles appear only in
  * final fixed-shape closed forms over identical operands — no float
  * is ever summed across rows.
  *
  * Scale discipline: each operator touches the corpus in one grouped
  * pass (token counts, per-user lags, bin counts, daily rollups); all
  * pairwise phases run on dimension-bounded frames (sources², types²,
  * bin spine, calendar days).
  */
object Insights extends QueryModule {

  // ---------------------------------------------------------------- q255

  /** Chao1 species-richness estimate and Good-Turing coverage of each
    * source's vocabulary: S_obs observed types, N1/N2 singleton and
    * doubleton types, Chao1 = S + N1(N1-1)/(2(N2+1)) (bias-corrected
    * form), coverage = 1 - N1/N. Answers "how much unseen vocabulary
    * remains in this source" — the dual of q209's Heaps-law fit. One
    * token-count shuffle; everything else is a per-source fold of
    * exact integers into one closed double form.
    */
  def chao1Richness(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val agg = tf.groupBy("source").agg(
      count(lit(1)).as("s_obs"),
      sum("c").cast("long").as("n_tokens"),
      sum((col("c") === 1).cast("long")).as("n1"),
      sum((col("c") === 2).cast("long")).as("n2"))
    agg.select(col("source"), col("s_obs"), col("n_tokens"), col("n1"), col("n2"),
      round(expr("""CAST(s_obs AS DOUBLE)
        | + CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)
        |   / (2.0 * CAST(n2 + 1 AS DOUBLE))""".stripMargin), 4).as("chao1"),
      round(expr("1.0 - CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)"), 6)
        .as("coverage"))
      .orderBy("source")
  }

  private val chao1Oracle = """
    WITH tf AS (
      SELECT source, tok, COUNT(*) AS c FROM (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY 1, 2),
    agg AS (
      SELECT source, COUNT(*) AS s_obs, CAST(SUM(c) AS BIGINT) AS n_tokens,
        CAST(SUM(CAST(c = 1 AS BIGINT)) AS BIGINT) AS n1,
        CAST(SUM(CAST(c = 2 AS BIGINT)) AS BIGINT) AS n2
      FROM tf GROUP BY 1)
    SELECT source, s_obs, n_tokens, n1, n2,
      ROUND(CAST(s_obs AS DOUBLE)
        + CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)
          / (2.0 * CAST(n2 + 1 AS DOUBLE)), 4) AS chao1,
      ROUND(1.0 - CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS coverage
    FROM agg ORDER BY source"""

  // ---------------------------------------------------------------- q256

  /** Inter-arrival burstiness per event type: whole-second gaps between
    * a user's consecutive events of one type (lag over (type, user),
    * pinned (ts, event_id) order), then the Goh-Barabasi burstiness
    * B = (sigma - mu)/(sigma + mu) and the coefficient of variation from
    * exact integer power sums (gap seconds <= 2.6e6, gap^2 <= 6.8e12 —
    * products stay in BIGINT, addends cast to DECIMAL(38,0) before the
    * order-independent sum). B ~ -1 is periodic, 0 Poisson, +1 bursty.
    */
  def burstiness(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("event_type", "user_id")
      .orderBy(col("ts"), col("event_id"))
    val gaps = events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev", lag("us", 1).over(byUser))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), expr("(us - prev) DIV 1000000").as("d"))
    gaps.groupBy("event_type").agg(
        count(lit(1)).as("n_gaps"),
        sum(col("d").cast("decimal(38,0)")).as("sd"),
        sum((col("d") * col("d")).cast("decimal(38,0)")).as("sdd"))
      .select(col("event_type"), col("n_gaps"),
        round(expr("CAST(sd AS DOUBLE) / CAST(n_gaps AS DOUBLE)"), 3)
          .as("mean_gap_s"),
        round(expr(
          """CASE WHEN sd > 0 THEN
            | sqrt(CAST(n_gaps AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
            |   / CAST(sd AS DOUBLE)
            | ELSE NULL END""".stripMargin), 6).as("cv"),
        round(expr(
          """CASE WHEN sqrt(CAST(n_gaps AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)) + CAST(sd AS DOUBLE) > 0 THEN
            | (sqrt(CAST(n_gaps AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)) - CAST(sd AS DOUBLE))
            |   / (sqrt(CAST(n_gaps AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)) + CAST(sd AS DOUBLE))
            | ELSE NULL END""".stripMargin), 6).as("burstiness"))
      .orderBy("event_type")
  }

  private val burstinessOracle = """
    WITH gaps AS (
      SELECT event_type, (us - prev) // 1000000 AS d FROM (
        SELECT event_type, epoch_us(ts) AS us,
          lag(epoch_us(ts)) OVER (PARTITION BY event_type, user_id
            ORDER BY ts, event_id) AS prev
        FROM events)
      WHERE prev IS NOT NULL),
    agg AS (
      SELECT event_type, COUNT(*) AS n_gaps,
        CAST(SUM(CAST(d AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sd,
        CAST(SUM(CAST(d * d AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sdd
      FROM gaps GROUP BY 1)
    SELECT event_type, n_gaps,
      ROUND(CAST(sd AS DOUBLE) / CAST(n_gaps AS DOUBLE), 3) AS mean_gap_s,
      ROUND(CASE WHEN sd > 0 THEN
        sqrt(CAST(n_gaps AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
          / CAST(sd AS DOUBLE)
        ELSE NULL END, 6) AS cv,
      ROUND(CASE WHEN sqrt(CAST(n_gaps AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)) + CAST(sd AS DOUBLE) > 0 THEN
        (sqrt(CAST(n_gaps AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)) - CAST(sd AS DOUBLE))
          / (sqrt(CAST(n_gaps AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)) + CAST(sd AS DOUBLE))
        ELSE NULL END, 6) AS burstiness
    FROM agg ORDER BY event_type"""

  // ---------------------------------------------------------------- q257

  /** Weighted-Jaccard vocabulary overlap between every source pair:
    * WJ = sum_t min(f_a, f_b) / sum_t max(f_a, f_b) over relative token
    * frequencies — computed EXACTLY by cross-multiplying integer counts
    * (min(c_a*N_b, c_b*N_a)) and using sum max = 2*N_a*N_b - sum min,
    * so no float is ever summed. Complements q222's JSD (which weights
    * by log-ratios): WJ is the mass-overlap view. The corpus is touched
    * once (token-count shuffle); the pairwise phase joins postings on
    * token, bounded by |sources|^2 per token — the source dimension is
    * small at every scale, so no all-pairs blowup on hot tokens.
    */
  def vocabOverlap(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .localCheckpoint() // reused as both join sides + totals
    val tot = tf.groupBy("source").agg(sum("c").cast("long").as("n"))
    val a = tf.select(col("source").as("sa"), col("tok"), col("c").as("ca"))
    val b = tf.select(col("source").as("sb"), col("tok"), col("c").as("cb"))
    a.join(b, "tok").filter(col("sa") < col("sb"))
      .join(broadcast(tot.select(col("source").as("sa"), col("n").as("na"))), "sa")
      .join(broadcast(tot.select(col("source").as("sb"), col("n").as("nb"))), "sb")
      .groupBy("sa", "sb", "na", "nb")
      .agg(count(lit(1)).as("n_shared"),
        sum(least(col("ca") * col("nb"), col("cb") * col("na"))
          .cast("decimal(38,0)")).as("smin"))
      .select(col("sa"), col("sb"), col("n_shared"),
        round(expr(
          """CAST(smin AS DOUBLE)
            | / (2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) - CAST(smin AS DOUBLE))""".stripMargin), 6)
          .as("wjaccard"))
      .orderBy("sa", "sb")
  }

  private val vocabOverlapOracle = """
    WITH tf AS MATERIALIZED (
      SELECT source, tok, COUNT(*) AS c FROM (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY 1, 2),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY 1),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb, ta.n AS na, tb.n AS nb,
        COUNT(*) AS n_shared,
        CAST(SUM(CAST(LEAST(a.c * tb.n, b.c * ta.n) AS DECIMAL(38,0)))
          AS DECIMAL(38,0)) AS smin
      FROM tf a
      JOIN tf b ON a.tok = b.tok AND a.source < b.source
      JOIN tot ta ON ta.source = a.source
      JOIN tot tb ON tb.source = b.source
      GROUP BY 1, 2, 3, 4)
    SELECT sa, sb, n_shared,
      ROUND(CAST(smin AS DOUBLE)
        / (2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) - CAST(smin AS DOUBLE)), 6)
        AS wjaccard
    FROM pairs ORDER BY sa, sb"""

  // ---------------------------------------------------------------- q258

  /** 1-D earth mover's distance between every pair of event types'
    * value histograms (unit bins: floor(value)): EMD = integral of
    * |F_a - F_b| over the bin spine, computed exactly as
    * sum_b |cum_a*N_b - cum_b*N_a| / (N_a*N_b). The CDF view
    * complements q190's PSI and q222's JSD (density views): EMD is the
    * metric that sees HOW FAR mass moved, not just that it differs.
    * One bin-count shuffle over the corpus; the spine (global max bin)
    * and the |types|^2 pair phase are dimension-sized.
    */
  def histEmd(events: DataFrame): DataFrame = {
    val binned = events
      .select(col("event_type"), floor(col("value")).cast("long").as("bin"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("c"))
      .localCheckpoint() // reused: spine bound, totals, both pair sides
    val mx = binned.agg(max("bin").as("mx"))
    val spine = binned.select("event_type").distinct()
      .crossJoin(broadcast(mx))
      .select(col("event_type"), explode(sequence(lit(0L), col("mx"))).as("bin"))
    val cum = spine.join(binned, Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"), coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("cum", sum("c").over(Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = binned.groupBy("event_type").agg(sum("c").as("n"))
    val withN = cum.join(broadcast(tot), "event_type")
    val ca = withN.select(col("event_type").as("ta"), col("bin"),
      col("cum").as("cuma"), col("n").as("na"))
    val cb = withN.select(col("event_type").as("tb"), col("bin"),
      col("cum").as("cumb"), col("n").as("nb"))
    ca.join(cb, "bin").filter(col("ta") < col("tb"))
      .groupBy("ta", "tb", "na", "nb")
      .agg(sum(abs(col("cuma") * col("nb") - col("cumb") * col("na"))
        .cast("decimal(38,0)")).as("sdiff"))
      .select(col("ta"), col("tb"), col("na"), col("nb"),
        round(expr(
          "CAST(sdiff AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))"), 6)
          .as("emd_bins"))
      .orderBy("ta", "tb")
  }

  private val histEmdOracle = """
    WITH binned AS MATERIALIZED (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS bin, COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    mx AS (SELECT MAX(bin) AS mx FROM binned),
    spine AS (
      SELECT t.event_type, u.bin
      FROM (SELECT DISTINCT event_type FROM binned) t
      CROSS JOIN (SELECT unnest(generate_series(0, mx)) AS bin FROM mx) u),
    cum AS (
      SELECT s.event_type, s.bin,
        SUM(COALESCE(b.c, 0)) OVER (PARTITION BY s.event_type ORDER BY s.bin
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM spine s LEFT JOIN binned b
        ON s.event_type = b.event_type AND s.bin = b.bin),
    tot AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
            FROM binned GROUP BY 1),
    withn AS (
      SELECT c.event_type, c.bin, c.cum, t.n
      FROM cum c JOIN tot t ON c.event_type = t.event_type),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb, a.n AS na, b.n AS nb,
        CAST(SUM(CAST(ABS(a.cum * b.n - b.cum * a.n) AS DECIMAL(38,0)))
          AS DECIMAL(38,0)) AS sdiff
      FROM withn a
      JOIN withn b ON a.bin = b.bin AND a.event_type < b.event_type
      GROUP BY 1, 2, 3, 4)
    SELECT ta, tb, na, nb,
      ROUND(CAST(sdiff AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6)
        AS emd_bins
    FROM pairs ORDER BY ta, tb"""

  // ---------------------------------------------------------------- q259

  /** Lead-lag cross-correlation of each event type's daily revenue
    * against the aggregate daily series at lags -3..+3: does a type
    * lead or trail the market? Same exact-cent machinery as q199's ACF
    * (decimal daily sums, integer power sums, one closed Pearson form)
    * but across series; zero-variance sides yield NULL. One daily
    * rollup shuffle; the 7-lag recombination runs on the
    * calendar-bounded frame.
    */
  def crossCorrelation(events: DataFrame, maxLag: Int = 3): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("decimal(18,0)")).as("x"))
      .localCheckpoint() // both the per-type side and the total derive from it
    val total = daily.groupBy("day")
      .agg(sum("x").cast("decimal(38,0)").as("y"))
    val corr = (-maxLag to maxLag).map { k =>
      val a = daily.select(col("event_type"), col("day"), col("x").as("xa"))
      val b = total.select(date_add(col("day"), -k).as("day"), col("y").as("yb"))
      a.join(b, Seq("day"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("xa")).cast("decimal(38,0)").as("sx"),
          sum(col("yb")).cast("decimal(38,0)").as("sy"),
          sum(col("xa") * col("xa")).cast("decimal(38,0)").as("sxx"),
          sum(col("yb") * col("yb")).cast("decimal(38,0)").as("syy"),
          sum(col("xa") * col("yb")).cast("decimal(38,0)").as("sxy"))
        .select(col("event_type"), lit(k.toLong).as("lag"), col("n").as("n_pairs"),
          round(expr(
            """CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
              |  AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN
              | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              | / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              |    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
              | ELSE NULL END""".stripMargin), 6).as("ccf"))
    }
    corr.reduce(_.union(_)).orderBy("event_type", "lag")
  }

  private def ccfLagSql(k: Int): String = s"""
    SELECT event_type, CAST($k AS BIGINT) AS lag, COUNT(*) AS n_pairs,
      ROUND(CASE WHEN CAST(COUNT(*) AS DOUBLE) * CAST(CAST(SUM(xa * xa) AS DECIMAL(38,0)) AS DOUBLE) - CAST(CAST(SUM(xa) AS DECIMAL(38,0)) AS DOUBLE) * CAST(CAST(SUM(xa) AS DECIMAL(38,0)) AS DOUBLE) > 0
            AND CAST(COUNT(*) AS DOUBLE) * CAST(CAST(SUM(yb * yb) AS DECIMAL(38,0)) AS DOUBLE) - CAST(CAST(SUM(yb) AS DECIMAL(38,0)) AS DOUBLE) * CAST(CAST(SUM(yb) AS DECIMAL(38,0)) AS DOUBLE) > 0 THEN
        (CAST(COUNT(*) AS DOUBLE) * CAST(CAST(SUM(xa * yb) AS DECIMAL(38,0)) AS DOUBLE)
          - CAST(CAST(SUM(xa) AS DECIMAL(38,0)) AS DOUBLE) * CAST(CAST(SUM(yb) AS DECIMAL(38,0)) AS DOUBLE))
        / (sqrt(CAST(COUNT(*) AS DOUBLE) * CAST(CAST(SUM(xa * xa) AS DECIMAL(38,0)) AS DOUBLE)
            - CAST(CAST(SUM(xa) AS DECIMAL(38,0)) AS DOUBLE) * CAST(CAST(SUM(xa) AS DECIMAL(38,0)) AS DOUBLE))
          * sqrt(CAST(COUNT(*) AS DOUBLE) * CAST(CAST(SUM(yb * yb) AS DECIMAL(38,0)) AS DOUBLE)
            - CAST(CAST(SUM(yb) AS DECIMAL(38,0)) AS DOUBLE) * CAST(CAST(SUM(yb) AS DECIMAL(38,0)) AS DOUBLE)))
        ELSE NULL END, 6) AS ccf
    FROM (SELECT a.event_type, a.x AS xa, t.y AS yb
          FROM daily a JOIN total t ON t.day = a.day + $k)
    GROUP BY event_type"""

  private def crossCorrOracle(maxLag: Int = 3): String = s"""
    WITH daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day,
        SUM(CAST(ROUND(value * 100, 0) AS DECIMAL(18,0))) AS x
      FROM events GROUP BY 1, 2),
    total AS MATERIALIZED (
      SELECT day, CAST(SUM(x) AS DECIMAL(38,0)) AS y FROM daily GROUP BY 1)
    ${(-maxLag to maxLag).map(ccfLagSql).mkString(" UNION ALL ")}
    ORDER BY event_type, lag"""

  // ---------------------------------------------------------------- q260

  /** Add-one-smoothed bigram language-model surprisal per source: the
    * LM trains on the whole corpus in one pass (bigram counts c(w1,w2),
    * context counts c(w1), vocab size V), then each doc's
    * cross-entropy -1/n * sum log2((c+1)/(ctx+V)) scores how
    * LM-predictable the source is — the bigram upgrade of q166's
    * unigram logprob and the standard perplexity-filter signal.
    * Probabilities are ratios of exact integers; the per-doc and
    * per-source reductions fold doubles in pinned (w1,w2) / doc_id
    * order. Shuffles are postings-sized; the LM join keys on bigram.
    */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      split(col("text"), " ").as("t"))
    val bg = toks.select(col("doc_id"), col("source"),
        explode(expr("""CASE WHEN size(t) >= 2
          |THEN transform(sequence(0, size(t)-2),
          |  i -> named_struct('w1', t[i], 'w2', t[i+1]))
          |ELSE array() END""".stripMargin)).as("b"))
      .select(col("doc_id"), col("source"), col("b.w1"), col("b.w2"))
      .localCheckpoint() // reused: LM counts + doc scoring
    val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    val cu = bg.groupBy("w1").agg(count(lit(1)).as("cu"))
    val vocab = toks.select(explode(col("t")).as("w")).distinct()
      .agg(count(lit(1)).as("v"))
    val dbg = bg.groupBy("doc_id", "source", "w1", "w2")
      .agg(count(lit(1)).as("k"))
    val perDoc = dbg
      .join(cb, Seq("w1", "w2")).join(cu, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("term", expr(
        """CAST(k AS DOUBLE) * log2((CAST(cb AS DOUBLE) + 1.0)
          | / (CAST(cu AS DOUBLE) + CAST(v AS DOUBLE)))""".stripMargin))
      .groupBy("doc_id", "source")
      .agg(sum("k").as("n_bg"),
        osum(col("term"), col("w1"), col("w2")).as("s"))
      .withColumn("xent", expr("-s / CAST(n_bg AS DOUBLE)"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(osum(col("xent"), col("doc_id")) / count(lit(1)).cast("double"), 6)
          .as("avg_xent_bits"))
      .orderBy("source")
  }

  private val bigramOracle = """
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    bg AS MATERIALIZED (
      SELECT doc_id, source,
        unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
      FROM toks),
    cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
    cu AS (SELECT w1, COUNT(*) AS cu FROM bg GROUP BY 1),
    vocab AS (
      SELECT COUNT(*) AS v FROM (
        SELECT DISTINCT unnest(t) AS w FROM toks)),
    dbg AS (
      SELECT doc_id, source, w1, w2, COUNT(*) AS k FROM bg GROUP BY 1, 2, 3, 4),
    terms AS (
      SELECT d.doc_id, d.source, d.w1, d.w2, d.k,
        CAST(d.k AS DOUBLE) * log2((CAST(cb.cb AS DOUBLE) + 1.0)
          / (CAST(cu.cu AS DOUBLE) + CAST(v.v AS DOUBLE))) AS term
      FROM dbg d
      JOIN cb ON d.w1 = cb.w1 AND d.w2 = cb.w2
      JOIN cu ON d.w1 = cu.w1
      CROSS JOIN vocab v),
    perdoc AS (
      SELECT doc_id, source, SUM(k) AS n_bg,
        -list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(term ORDER BY w1, w2)), (acc, x) -> acc + x)
          / CAST(SUM(k) AS DOUBLE) AS xent
      FROM terms GROUP BY 1, 2)
    SELECT source, COUNT(*) AS n_docs,
      ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(xent ORDER BY doc_id)), (acc, x) -> acc + x)
        / CAST(COUNT(*) AS DOUBLE), 6) AS avg_xent_bits
    FROM perdoc GROUP BY 1 ORDER BY source"""

  // ---------------------------------------------------------------- q261

  /** Two-iteration HITS hub/authority scores on the sparsified nation
    * trade digraph (same median-weight sparsifier as q246/q247). The
    * L1-normalized power iteration is kept EXACT by tracking integer
    * numerators with scalar denominators that cancel at each
    * normalization: a1 = indeg/m, h1(u) = sum_out indeg over S1,
    * a2(v) = sum_in h1-numerators over T2, h2 likewise — every score is
    * one integer/integer division at the end, so no float is ever
    * iterated. One corpus pass builds the edge list; the iteration runs
    * on the dimension-sized graph.
    */
  def hitsScores(li: DataFrame, orders: DataFrame, supplier: DataFrame,
      customer: DataFrame): DataFrame = {
    val weighted = li
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint()
    val medW = weighted.agg(expr("percentile(w, 0.5)").as("mw"))
    val dir = weighted.crossJoin(broadcast(medW))
      .filter(col("w").cast("double") >= col("mw"))
      .select("src", "dst")
      .localCheckpoint() // dimension-sized; reused 4x
    // a1 numerator: indegree (denominator m cancels on normalization)
    val a1 = dir.groupBy(col("dst").as("n")).agg(count(lit(1)).as("a1"))
    // h1 numerator: sum of endpoint indegrees
    val h1 = dir.join(a1.withColumnRenamed("n", "dst"), "dst")
      .groupBy(col("src").as("n")).agg(sum("a1").as("s1"))
    // a2 numerator: sum of in-neighbor h1 numerators
    val a2 = dir.join(h1.withColumnRenamed("n", "src"), "src")
      .groupBy(col("dst").as("n")).agg(sum("s1").as("t2"))
    // h2 numerator: sum of out-neighbor a2 numerators
    val h2 = dir.join(a2.withColumnRenamed("n", "dst"), "dst")
      .groupBy(col("src").as("n")).agg(sum("t2").as("s2"))
    val tot2 = a2.agg(sum("t2").as("tt")).crossJoin(h2.agg(sum("s2").as("ss")))
    val nodes = dir.select(col("src").as("n"))
      .union(dir.select(col("dst").as("n"))).distinct()
    nodes
      .join(a2, Seq("n"), "left").join(h2, Seq("n"), "left")
      .crossJoin(broadcast(tot2))
      .select(col("n").as("nationkey"),
        round(expr("CAST(COALESCE(t2, 0) AS DOUBLE) / CAST(tt AS DOUBLE)"), 6)
          .as("authority"),
        round(expr("CAST(COALESCE(s2, 0) AS DOUBLE) / CAST(ss AS DOUBLE)"), 6)
          .as("hub"))
      .orderBy("nationkey")
  }

  private val hitsOracle = """
    WITH weighted AS (
      SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      WHERE s_nationkey <> c_nationkey
      GROUP BY 1, 2),
    medw AS (SELECT quantile_cont(w, 0.5) AS mw FROM weighted),
    dir AS MATERIALIZED (
      SELECT src, dst FROM weighted, medw WHERE CAST(w AS DOUBLE) >= mw),
    a1 AS (SELECT dst AS n, COUNT(*) AS a1 FROM dir GROUP BY 1),
    h1 AS (
      SELECT d.src AS n, SUM(a1.a1) AS s1
      FROM dir d JOIN a1 ON d.dst = a1.n GROUP BY 1),
    a2 AS (
      SELECT d.dst AS n, SUM(h1.s1) AS t2
      FROM dir d JOIN h1 ON d.src = h1.n GROUP BY 1),
    h2 AS (
      SELECT d.src AS n, SUM(a2.t2) AS s2
      FROM dir d JOIN a2 ON d.dst = a2.n GROUP BY 1),
    tot AS (
      SELECT (SELECT SUM(t2) FROM a2) AS tt, (SELECT SUM(s2) FROM h2) AS ss),
    nodes AS (
      SELECT DISTINCT n FROM (SELECT src AS n FROM dir UNION SELECT dst FROM dir))
    SELECT nodes.n AS nationkey,
      ROUND(CAST(COALESCE(a2.t2, 0) AS DOUBLE) / CAST(tot.tt AS DOUBLE), 6)
        AS authority,
      ROUND(CAST(COALESCE(h2.s2, 0) AS DOUBLE) / CAST(tot.ss AS DOUBLE), 6) AS hub
    FROM nodes
    LEFT JOIN a2 ON nodes.n = a2.n
    LEFT JOIN h2 ON nodes.n = h2.n
    CROSS JOIN tot
    ORDER BY nationkey"""

  // ---------------------------------------------------------------- q262

  /** Zone-map effectiveness audit: lineitem is zoned by 512-order key
    * ranges (the row-group shape of an orderkey-clustered layout), each
    * zone keeps min/max l_shipdate, and for every ship year the audit
    * reports how many zones a ship-date predicate could prune, the rows
    * the surviving zones still scan, and the false-positive scan mass —
    * i.e. whether parquet row-group stats would save I/O under this
    * clustering, the decision input for q129's z-order. Two grouped
    * passes over the corpus (zone stats + per-year matches); the
    * year x zone recombination is dimension-sized.
    */
  def zoneMapAudit(li: DataFrame): DataFrame = {
    val zstats = li
      .groupBy(expr("l_orderkey DIV 512").as("zone"))
      .agg(count(lit(1)).as("n"), min("l_shipdate").as("min_d"),
        max("l_shipdate").as("max_d"))
      .localCheckpoint() // zone-count-sized; reused per year
    val matched = li
      .groupBy(year(col("l_shipdate")).as("y"))
      .agg(count(lit(1)).as("rows_matched"))
    val years = zstats
      .select(explode(sequence(lit(1995), lit(2001))).as("y"), col("zone"),
        col("n"), col("min_d"), col("max_d"))
    years
      .withColumn("scanned",
        !(col("max_d") < make_date(col("y"), lit(1), lit(1)) ||
          col("min_d") > make_date(col("y"), lit(12), lit(31))))
      .groupBy("y")
      .agg(count(lit(1)).as("n_zones"),
        sum(col("scanned").cast("long")).as("zones_scanned"),
        sum(when(col("scanned"), col("n")).otherwise(0L)).as("rows_scanned"))
      .join(matched, Seq("y"), "left")
      .select(col("y").cast("long").as("ship_year"), col("n_zones"),
        col("zones_scanned"),
        col("rows_scanned"),
        coalesce(col("rows_matched"), lit(0L)).as("rows_matched"),
        round(expr("CAST(zones_scanned AS DOUBLE) / CAST(n_zones AS DOUBLE)"), 6)
          .as("scan_fraction"),
        round(expr(
          """CASE WHEN rows_scanned > 0 THEN
            | (CAST(rows_scanned AS DOUBLE) - CAST(COALESCE(rows_matched, 0) AS DOUBLE))
            |   / CAST(rows_scanned AS DOUBLE)
            | ELSE NULL END""".stripMargin), 6).as("false_scan_fraction"))
      .orderBy("ship_year")
  }

  private val zoneMapOracle = """
    WITH zstats AS (
      SELECT l_orderkey // 512 AS zone, COUNT(*) AS n,
        MIN(l_shipdate) AS min_d, MAX(l_shipdate) AS max_d
      FROM lineitem GROUP BY 1),
    matched AS (
      SELECT CAST(year(l_shipdate) AS BIGINT) AS y, COUNT(*) AS rows_matched
      FROM lineitem GROUP BY 1),
    peryear AS (
      SELECT y.y, COUNT(*) AS n_zones,
        CAST(SUM(CAST(scanned AS BIGINT)) AS BIGINT) AS zones_scanned,
        CAST(SUM(CASE WHEN scanned THEN n ELSE 0 END) AS BIGINT) AS rows_scanned
      FROM (
        SELECT CAST(t.i AS BIGINT) AS y, z.n,
          NOT (z.max_d < make_date(CAST(t.i AS INT), 1, 1)
            OR z.min_d > make_date(CAST(t.i AS INT), 12, 31)) AS scanned
        FROM zstats z CROSS JOIN range(1995, 2002) t(i)) y
      GROUP BY 1)
    SELECT p.y AS ship_year, p.n_zones, p.zones_scanned, p.rows_scanned,
      COALESCE(m.rows_matched, 0) AS rows_matched,
      ROUND(CAST(p.zones_scanned AS DOUBLE) / CAST(p.n_zones AS DOUBLE), 6)
        AS scan_fraction,
      ROUND(CASE WHEN p.rows_scanned > 0 THEN
        (CAST(p.rows_scanned AS DOUBLE) - CAST(COALESCE(m.rows_matched, 0) AS DOUBLE))
          / CAST(p.rows_scanned AS DOUBLE)
        ELSE NULL END, 6) AS false_scan_fraction
    FROM peryear p LEFT JOIN matched m ON p.y = m.y
    ORDER BY ship_year"""

  // ---------------------------------------------------------------- q263

  /** SAX symbolic discretization of the daily order-revenue series:
    * z-normalize (mu/sigma from exact cent power sums), PAA into 32
    * rank-based segments, map each segment mean to a 4-letter alphabet
    * at the Gaussian quartile breakpoints (+-0.6745), then count motif
    * support for each sliding 4-symbol word — a plot-free way to find
    * repeated regimes in a 100 TB metric series. One daily rollup
    * shuffle; segmentation and motif counting run on the
    * calendar-bounded frame.
    */
  def saxMotifs(orders: DataFrame, segments: Int = 32): DataFrame = {
    // daily cents re-narrowed to DECIMAL(18,0) so c*c stays within
    // decimal width 37 in BOTH engines — DuckDB promotes a >38-width
    // decimal product to DOUBLE, which would break exact power sums
    // once daily cents pass 2^26.5
    val daily = orders
      .groupBy(date_trunc("day", col("o_orderdate")).cast("date").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("decimal(18,0)"))
        .cast("decimal(18,0)").as("c"))
    val stats = daily.agg(count(lit(1)).as("n"),
      sum("c").cast("decimal(38,0)").as("s"),
      sum(col("c") * col("c")).cast("decimal(38,0)").as("ss"))
    val seg = daily
      .withColumn("rn", row_number().over(Window.orderBy("day")))
      .crossJoin(broadcast(stats))
      .withColumn("bucket",
        floor((col("rn") - 1) * segments / col("n")).cast("long"))
      .groupBy("bucket", "n", "s", "ss")
      .agg(count(lit(1)).as("nb"), sum("c").cast("decimal(38,0)").as("sb"))
      .withColumn("z", expr(
        """CASE WHEN CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) > 0 THEN
          | (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
          | - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
          | / (sqrt(CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE))
          | ELSE NULL END""".stripMargin))
      .withColumn("symbol", expr(
        """CASE WHEN z IS NULL THEN NULL WHEN z < -0.6745 THEN 'a'
          |WHEN z < 0.0 THEN 'b'
          |WHEN z < 0.6745 THEN 'c' ELSE 'd' END""".stripMargin))
    val byBucket = Window.orderBy("bucket")
    val words = seg
      .withColumn("word", when(lead("symbol", 3).over(byBucket).isNotNull,
        concat(col("symbol"), lead("symbol", 1).over(byBucket),
          lead("symbol", 2).over(byBucket), lead("symbol", 3).over(byBucket))))
    words
      .withColumn("word_support",
        when(col("word").isNotNull,
          count(lit(1)).over(Window.partitionBy("word"))))
      .select(col("bucket"), col("nb").as("n_days"), round(col("z"), 6).as("paa_z"),
        col("symbol"), col("word"), col("word_support"))
      .orderBy("bucket")
  }

  private def saxOracle(segments: Int = 32): String = s"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
        CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(18,0)))
          AS DECIMAL(18,0)) AS c
      FROM orders GROUP BY 1),
    stats AS (
      -- HUGEINT square: DECIMAL(18)*DECIMAL(18) raises on overflow in
      -- DuckDB instead of widening; 128-bit integers keep the power
      -- sum exact like Spark's DECIMAL(37,0) product does
      SELECT COUNT(*) AS n, CAST(SUM(c) AS DECIMAL(38,0)) AS s,
        CAST(SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS DECIMAL(38,0)) AS ss
      FROM daily),
    seg AS (
      SELECT bucket, n, s, ss, COUNT(*) AS nb,
        CAST(SUM(c) AS DECIMAL(38,0)) AS sb
      FROM (
        SELECT c, n, s, ss,
          CAST(floor((row_number() OVER (ORDER BY day) - 1) * $segments
            / n) AS BIGINT) AS bucket
        FROM daily, stats)
      GROUP BY 1, 2, 3, 4),
    z AS (
      SELECT bucket, nb,
        CASE WHEN CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) > 0 THEN
          (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
          - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
          / (sqrt(CAST(n AS DOUBLE) * CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(n AS DOUBLE))
          ELSE NULL END AS z
      FROM seg),
    sym AS (
      SELECT bucket, nb, z,
        CASE WHEN z IS NULL THEN NULL WHEN z < -0.6745 THEN 'a'
        WHEN z < 0.0 THEN 'b'
        WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS symbol
      FROM z),
    words AS (
      SELECT bucket, nb, z, symbol,
        CASE WHEN lead(symbol, 3) OVER (ORDER BY bucket) IS NOT NULL THEN
          symbol || lead(symbol, 1) OVER (ORDER BY bucket)
            || lead(symbol, 2) OVER (ORDER BY bucket)
            || lead(symbol, 3) OVER (ORDER BY bucket) END AS word
      FROM sym)
    SELECT bucket, nb AS n_days, ROUND(z, 6) AS paa_z, symbol, word,
      CASE WHEN word IS NOT NULL THEN
        COUNT(*) OVER (PARTITION BY word) END AS word_support
    FROM words ORDER BY bucket"""

  // ---------------------------------------------------------------- q292

  /** Good-Turing frequency re-estimation per source: from the
    * frequency-of-frequencies spectrum N_r, the adjusted count
    * r* = (r+1)·N_{r+1}/N_r for r = 1..5 plus the unseen-mass estimate
    * P_0 = N_1/N — the smoothing dual of q255's Chao1 richness (same
    * spectrum, LM-smoothing view instead of species-richness view).
    * Two vocabulary-keyed aggregates (token counts → spectrum); the
    * r↔r+1 recombination is a |sources|×5 self-join of the tiny
    * spectrum frame. All inputs exact integers; r* is one fixed closed
    * form.
    */
  def goodTuring(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val spectrum = tf.groupBy("source", "c").agg(count(lit(1)).as("nr"))
      .localCheckpoint() // |sources|×|distinct counts|; reused by the shift join
    val totals = tf.groupBy("source").agg(sum("c").cast("long").as("n"))
    spectrum.filter(col("c") <= 5)
      .join(spectrum.select(col("source"), (col("c") - 1).as("c"),
        col("nr").as("nr_next")), Seq("source", "c"), "left")
      .join(totals, "source")
      .select(col("source"), col("c").cast("long").as("r"),
        col("nr").as("n_r"),
        coalesce(col("nr_next"), lit(0L)).as("n_r1"),
        round((col("c") + 1).cast("double")
          * coalesce(col("nr_next"), lit(0L)).cast("double")
          / col("nr").cast("double"), 6).as("r_star"),
        round(when(col("c") === 1,
          col("nr").cast("double") / col("n")), 6).as("p0_unseen"))
      .orderBy("source", "r")
  }

  private val goodTuringOracle = """
    WITH tf AS (
      SELECT source, tok, COUNT(*) AS c FROM (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY 1, 2),
    spectrum AS MATERIALIZED (
      SELECT source, c, COUNT(*) AS nr FROM tf GROUP BY 1, 2),
    totals AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY 1)
    SELECT s.source, CAST(s.c AS BIGINT) AS r, s.nr AS n_r,
      CAST(COALESCE(nx.nr, 0) AS BIGINT) AS n_r1,
      ROUND(CAST(s.c + 1 AS DOUBLE) * CAST(COALESCE(nx.nr, 0) AS DOUBLE)
        / CAST(s.nr AS DOUBLE), 6) AS r_star,
      ROUND(CASE WHEN s.c = 1
        THEN CAST(s.nr AS DOUBLE) / t.n END, 6) AS p0_unseen
    FROM spectrum s
    LEFT JOIN spectrum nx ON s.source = nx.source AND nx.c = s.c + 1
    JOIN totals t ON s.source = t.source
    WHERE s.c <= 5
    ORDER BY s.source, r"""

  // ---------------------------------------------------------------- q367

  /** Windowed funnel: signup → view → purchase with a 30-minute
    * max gap per step (the MATCH_RECOGNIZE-shaped sequential pattern,
    * expressed as per-step as-of joins: each step takes the FIRST
    * qualifying next-step event). Reports step reach, conversion ppm
    * (integer DIV) and the rank-exact lower-median step latencies.
    * Step joins shuffle on user_id only; each step's candidate set is
    * the step-k survivors, monotonically shrinking.
    */
  def windowedFunnel(events: DataFrame, gapUs: Long = 1800000000L): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      col("event_id"), unix_micros(col("ts")).as("us"))
    val sg = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("sid"), col("us").as("s_us"))
    val vw = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("us").as("v_us"))
    val pu = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("p_us"))
    val step1 = sg.join(vw, "user_id")
      .filter(col("v_us") > col("s_us") && col("v_us") <= col("s_us") + gapUs)
      .groupBy("user_id", "sid", "s_us").agg(min("v_us").as("t1"))
    val step2 = step1.join(pu, "user_id")
      .filter(col("p_us") > col("t1") && col("p_us") <= col("t1") + gapUs)
      .groupBy("user_id", "sid", "s_us", "t1").agg(min("p_us").as("t2"))
    // global agg after the rank filter so an EMPTY step still yields
    // one (NULL-median) row — a crossJoin against an empty frame would
    // annihilate the report. The latency rank is signup-proportional, so
    // it distributes via Dist (65 ms latency bands bucket the sort key).
    def lowerMedian(df: DataFrame, c: String, out: String) = Dist
      .withRowNumber(df.select(col(c).as("lat")),
        expr("lat DIV 65536"), Seq(col("lat")), "rk", Some("n"))
      .filter(col("rk") === expr("(n + 1) DIV 2"))
      .agg(min("lat").as(out))
    val nSg = sg.agg(count(lit(1)).as("n_signups"))
    val n1 = step1.agg(count(lit(1)).as("n_viewed"))
    val n2 = step2.agg(count(lit(1)).as("n_purchased"))
    val m1 = lowerMedian(step1.select((col("t1") - col("s_us")).as("l")), "l",
      "p50_signup_to_view_us")
    val m2 = lowerMedian(step2.select((col("t2") - col("t1")).as("l")), "l",
      "p50_view_to_purchase_us")
    nSg.crossJoin(n1).crossJoin(n2).crossJoin(m1).crossJoin(m2)
      .select(col("n_signups"), col("n_viewed"), col("n_purchased"),
        expr("n_viewed * 1000000 DIV n_signups").as("view_ppm"),
        expr("n_purchased * 1000000 DIV n_signups").as("purchase_ppm"),
        col("p50_signup_to_view_us"), col("p50_view_to_purchase_us"))
  }

  private val funnelOracle = """
    WITH e AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events),
    sg AS (SELECT user_id, event_id AS sid, us AS s_us FROM e
           WHERE event_type = 'signup'),
    vw AS (SELECT user_id, us AS v_us FROM e WHERE event_type = 'view'),
    pu AS (SELECT user_id, us AS p_us FROM e WHERE event_type = 'purchase'),
    step1 AS MATERIALIZED (
      SELECT s.user_id, s.sid, s.s_us, MIN(v.v_us) AS t1
      FROM sg s JOIN vw v ON v.user_id = s.user_id
        AND v.v_us > s.s_us AND v.v_us <= s.s_us + 1800000000
      GROUP BY 1, 2, 3),
    step2 AS MATERIALIZED (
      SELECT s.user_id, s.sid, s.t1, MIN(p.p_us) AS t2
      FROM step1 s JOIN pu p ON p.user_id = s.user_id
        AND p.p_us > s.t1 AND p.p_us <= s.t1 + 1800000000
      GROUP BY 1, 2, 3),
    l1 AS (SELECT t1 - s_us AS lat,
             ROW_NUMBER() OVER (ORDER BY t1 - s_us) AS rk FROM step1),
    l2 AS (SELECT t2 - t1 AS lat,
             ROW_NUMBER() OVER (ORDER BY t2 - t1) AS rk FROM step2),
    c AS (SELECT (SELECT COUNT(*) FROM sg) AS n_signups,
                 (SELECT COUNT(*) FROM step1) AS n_viewed,
                 (SELECT COUNT(*) FROM step2) AS n_purchased)
    SELECT n_signups, n_viewed, n_purchased,
      n_viewed * 1000000 // n_signups AS view_ppm,
      n_purchased * 1000000 // n_signups AS purchase_ppm,
      (SELECT CAST(lat AS BIGINT) FROM l1, c WHERE rk = (n_viewed + 1) // 2)
        AS p50_signup_to_view_us,
      (SELECT CAST(lat AS BIGINT) FROM l2, c
       WHERE rk = (n_purchased + 1) // 2) AS p50_view_to_purchase_us
    FROM c"""

  // ------------------------------------------------------------ queries

  override def queries: Seq[Q] = Seq(
    Q("q367_windowed_funnel",
      (s, d) => windowedFunnel(events(s, d)), Some(funnelOracle)),
    Q("q292_good_turing",
      (s, d) => goodTuring(documents(s, d)), Some(goodTuringOracle)),
    Q("q255_chao1_richness",
      (s, d) => chao1Richness(documents(s, d)), Some(chao1Oracle)),
    Q("q256_burstiness",
      (s, d) => burstiness(events(s, d)), Some(burstinessOracle)),
    Q("q257_vocab_overlap",
      (s, d) => vocabOverlap(documents(s, d)), Some(vocabOverlapOracle)),
    Q("q258_hist_emd",
      (s, d) => histEmd(events(s, d)), Some(histEmdOracle)),
    Q("q259_cross_correlation",
      (s, d) => crossCorrelation(events(s, d)), Some(crossCorrOracle())),
    Q("q260_bigram_surprisal",
      (s, d) => bigramSurprisal(documents(s, d)), Some(bigramOracle)),
    Q("q261_hits_scores",
      (s, d) => hitsScores(lineitem(s, d), orders(s, d), supplier(s, d),
        customer(s, d)),
      Some(hitsOracle)),
    Q("q262_zone_map_audit",
      (s, d) => zoneMapAudit(lineitem(s, d)), Some(zoneMapOracle)),
    Q("q263_sax_motifs",
      (s, d) => saxMotifs(orders(s, d)), Some(saxOracle())),
  )
}
