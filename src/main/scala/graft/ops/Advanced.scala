package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Tables._
import graft.Num._
import graft.functions.CosineSimilarity.cosine_sim

/** Retrieval-evaluation, graph-structure and policy/interval operators
  * a training-data platform layers over the core engine (SURVEY.md §2.9
  * extension surface): ranking metrics for the ANN index (NDCG / MRR),
  * link prediction and mixing statistics on the trade graph, a fixed
  * k-core peel, split-point information gain, off-policy (IPS/SNIPS)
  * evaluation, an AMS second-moment sketch, a rolling Hampel outlier
  * filter, split-conformal intervals, and representative series
  * thinning. None exist in the reference (its evaluation surface stops
  * at binary classifier metrics, `03a_Model Training.py:300-330`).
  *
  * Shared oracle-exactness discipline (graft-oracle-exactness memory):
  * every statistic reduces exact integers/decimals (counts, cents,
  * ±1-sign sums) or folds a bounded frame in a pinned order; doubles
  * appear only in final fixed-shape expressions over identical
  * operands. Rank-based (non-interpolating) quantiles are used
  * everywhere a threshold feeds comparisons, so thresholds are exact
  * data values, not lerp artifacts.
  *
  * Shared scale discipline: pairwise/iterative phases run on
  * dimension-bounded frames (nation/brand graphs, per-user counts,
  * decile thresholds, query samples) — the corpus is touched by single
  * grouped passes only.
  */
object Advanced extends QueryModule {

  // ---------------------------------------------------------------- q245

  /** Ranking quality of the sign-bit LSH index vs the exact index:
    * for each sampled query vector (vec_id % 97 = 0), the bucketed
    * top-5 (candidates share the query's 4-bit bucket) is scored
    * against the brute-force top-5 with NDCG@5 and reciprocal rank.
    * Both rankings order by (cosine rounded to 6, vec_id) — the same
    * deterministic tiebreak the ANN queries pin. The pairwise phase is
    * |queries| × corpus with |queries| = n/97: the evaluation harness
    * shape, not the serving path (the serving path IS the bucketed
    * scan). Per-query metrics are ≤5-term folds in rank order.
    */
  def retrievalMetrics(emb: DataFrame, k: Int = 5, bits: Int = 4): DataFrame = {
    val bucket: String => Column = c =>
      (0 until bits).map { i =>
        when(element_at(col(c), i + 1) > lit(0.0f), lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    // The query sample is CAPPED (first 1024 sampled ids): the eval
    // harness must stay a bounded-queries × corpus scan at 100 TB, not
    // corpus/97 × corpus. Identical results at every tested SF (sf1 has
    // ~206 sampled ids); beyond ~99k vectors the metric is by design
    // computed over the first 1024 sampled queries. The cap changes the
    // DECLARED computation past that size and is mirrored in the oracle
    // SQL below — a spec delta, declared for sign-off in SURVEY.md §8.3.
    val q = emb.filter(col("vec_id") % 97 === 0)
      .orderBy("vec_id").limit(1024)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        bucket("embedding").as("qbucket"))
    val cand = emb.filter(col("vec_id") % 97 =!= 0)
      .select(col("vec_id"), col("embedding"), bucket("embedding").as("bucket"))
    val scored = cand.crossJoin(broadcast(q))
      .withColumn("cosine", round(cosine_sim(col("embedding"), col("qv")), 6))
    val byQ = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("vec_id").asc)
    val truth = scored
      .withColumn("rk", row_number().over(byQ)).filter(col("rk") <= k)
      .select(col("qid"), col("vec_id"))
    val retrieved = scored.filter(col("bucket") === col("qbucket"))
      .withColumn("rk", row_number().over(byQ)).filter(col("rk") <= k)
      .select(col("qid"), col("vec_id"), col("rk"))
    val hits = retrieved.join(truth, Seq("qid", "vec_id"), "left_semi")
    hits
      .groupBy("qid")
      .agg(count(lit(1)).as("n_rel"), min("rk").as("first_rel"),
        osum(expr("1.0 / log2(CAST(rk + 1 AS DOUBLE))"), col("rk")).as("dcg"))
      .join(retrieved.groupBy("qid").agg(count(lit(1)).as("n_ret")), Seq("qid"), "right")
      .select(col("qid"), col("n_ret"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        round(coalesce(lit(1.0) / col("first_rel").cast("double"), lit(0.0)), 6)
          .as("rr"),
        round(coalesce(col("dcg"), lit(0.0)) / expr(
          s"""aggregate(sequence(1, $k), CAST(0.0 AS DOUBLE),
             |(acc, r) -> acc + 1.0 / log2(CAST(r + 1 AS DOUBLE)))""".stripMargin), 6)
          .as("ndcg"))
      .orderBy("qid")
  }

  private def retrievalOracle(k: Int = 5, bits: Int = 4): String = {
    val bucketSql = (0 until bits).map { i =>
      s"(CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv, $bucketSql AS qbucket
      FROM embeddings WHERE vec_id % 97 = 0
      ORDER BY vec_id LIMIT 1024),
    cand AS (
      SELECT vec_id, embedding, $bucketSql AS bucket
      FROM embeddings WHERE vec_id % 97 <> 0),
    scored AS (
      SELECT q.qid, q.qbucket, c.vec_id, c.bucket,
        ROUND(
          list_sum(list_transform(range(1, len(c.embedding) + 1),
            i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
                 i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))), 6)
          AS cosine
      FROM cand c, q),
    truth AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
          row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
        FROM scored) WHERE rk <= $k),
    retrieved AS (
      SELECT qid, vec_id, rk FROM (
        SELECT qid, vec_id,
          row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rk
        FROM scored WHERE bucket = qbucket) WHERE rk <= $k),
    hits AS (
      SELECT r.qid, r.rk FROM retrieved r
      JOIN truth t ON r.qid = t.qid AND r.vec_id = t.vec_id),
    perq AS (
      SELECT qid, COUNT(*) AS n_rel, MIN(rk) AS first_rel,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(CAST(rk AS DOUBLE) ORDER BY rk)),
          (acc, r) -> acc + 1.0 / log2(r + 1)) AS dcg
      FROM hits GROUP BY 1),
    ret AS (SELECT qid, COUNT(*) AS n_ret FROM retrieved GROUP BY 1)
    SELECT ret.qid, ret.n_ret, COALESCE(perq.n_rel, 0) AS n_rel,
      ROUND(COALESCE(1.0 / CAST(perq.first_rel AS DOUBLE), 0.0), 6) AS rr,
      ROUND(COALESCE(perq.dcg, 0.0) /
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(1, $k + 1), r -> CAST(r AS DOUBLE))),
          (acc, r) -> acc + 1.0 / log2(r + 1)), 6) AS ndcg
    FROM ret LEFT JOIN perq ON ret.qid = perq.qid
    ORDER BY ret.qid"""
  }

  // ---------------------------------------------------------------- q246

  /** Adamic-Adar link prediction on the nation trade graph: for every
    * NON-adjacent nation pair with at least one common trading partner,
    * AA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w). The raw nation graph is
    * near-complete (no non-adjacent pairs to predict), so edges are
    * sparsified to those with >= the median directed-trade lineitem
    * count — the same scale-relative sparsifier as q247/q252. Corpus
    * builds the weighted edge list in one grouped pass; everything
    * after runs on the ≤ |N|² dimension graph. The Σ over common
    * neighbors folds in pinned neighbor order.
    */
  def adamicAdar(li: DataFrame, orders: DataFrame, supplier: DataFrame,
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
    val edges = weighted.crossJoin(broadcast(medW))
      .filter(col("w").cast("double") >= col("mw"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint() // dimension-sized; reused 4×
    val adj = edges.select(col("a").as("u"), col("b").as("w"))
      .union(edges.select(col("b").as("u"), col("a").as("w")))
    val deg = adj.groupBy(col("w")).agg(count(lit(1)).as("deg"))
    val paths = adj.as("x").join(adj.as("y"), col("x.w") === col("y.w"))
      .filter(col("x.u") < col("y.u"))
      .select(col("x.u").as("u"), col("y.u").as("v"), col("x.w").as("w"))
    val nonAdj = paths.join(edges,
        paths("u") === edges("a") && paths("v") === edges("b"), "left_anti")
    nonAdj.join(broadcast(deg), "w")
      .groupBy("u", "v")
      .agg(count(lit(1)).as("n_common"),
        osum(expr("1.0 / ln(CAST(deg AS DOUBLE))"), col("w")).as("aa"))
      .select(col("u"), col("v"), col("n_common"), round(col("aa"), 6).as("aa_score"))
      .orderBy(col("aa_score").desc, col("u"), col("v"))
  }

  private val adamicAdarOracle = """
    WITH weighted AS MATERIALIZED (
      SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      WHERE s_nationkey <> c_nationkey
      GROUP BY 1, 2),
    medw AS (SELECT quantile_cont(w, 0.5) AS mw FROM weighted),
    edges AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM weighted, medw WHERE CAST(w AS DOUBLE) >= mw),
    adj AS MATERIALIZED (
      SELECT a AS u, b AS w FROM edges
      UNION ALL SELECT b, a FROM edges),
    deg AS (SELECT w, COUNT(*) AS deg FROM adj GROUP BY 1),
    paths AS (
      SELECT x.u AS u, y.u AS v, x.w AS w
      FROM adj x JOIN adj y ON x.w = y.w WHERE x.u < y.u),
    nonadj AS (
      SELECT p.* FROM paths p
      ANTI JOIN edges e ON p.u = e.a AND p.v = e.b)
    SELECT u, v, COUNT(*) AS n_common,
      ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(1.0 / ln(CAST(deg AS DOUBLE)) ORDER BY n.w)),
        (acc, x) -> acc + x), 6) AS aa_score
    FROM (SELECT na.u, na.v, na.w, d.deg
          FROM nonadj na JOIN deg d ON na.w = d.w) n
    GROUP BY u, v
    ORDER BY aa_score DESC, u, v"""

  // ---------------------------------------------------------------- q247

  /** Mixing statistics of the directed trade graph (supplier nation →
    * customer nation): edge reciprocity and degree assortativity (the
    * Pearson correlation of endpoint degrees over both orientations of
    * every undirected edge — exact integer power sums, one closed
    * double form). The raw nation graph is near-complete at every SF,
    * so edges are sparsified to those with >= the median lineitem
    * count (scale-relative — absolute counts grow with the corpus);
    * zero degree variance (a regular graph) yields NULL assortativity
    * in both engines. One corpus pass builds the weighted edge list;
    * all statistics run on the dimension-sized graph.
    */
  def graphMixing(li: DataFrame, orders: DataFrame, supplier: DataFrame,
      customer: DataFrame): DataFrame = {
    val weighted = li
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint() // dimension-sized
    // median edge weight over integer counts lands on .0/.5 — exact
    val medW = weighted.agg(expr("percentile(w, 0.5)").as("mw"))
    val dir = weighted.crossJoin(broadcast(medW))
      .filter(col("w").cast("double") >= col("mw"))
      .select("src", "dst")
      .localCheckpoint() // reused 3×
    val recip = dir.as("f").join(dir.as("r"),
        col("f.src") === col("r.dst") && col("f.dst") === col("r.src"), "left_semi")
      .agg(count(lit(1)).as("n_recip"))
    val nDir = dir.agg(count(lit(1)).as("n_dir"))
    val und = dir.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    val adj = und.select(col("a").as("u"), col("b").as("w"))
      .union(und.select(col("b").as("u"), col("a").as("w")))
    val deg = adj.groupBy("u").agg(count(lit(1)).as("deg"))
    val ends = adj
      .join(broadcast(deg.select(col("u"), col("deg").as("dx"))), "u")
      .join(broadcast(deg.select(col("u").as("w"), col("deg").as("dy"))), "w")
    val sums = ends.agg(count(lit(1)).as("m"),
      sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"),
      sum(col("dx") * col("dy")).as("sxy"))
    sums.crossJoin(broadcast(recip)).crossJoin(broadcast(nDir))
      .select(col("n_dir"), col("n_recip"),
        round(col("n_recip").cast("double") / col("n_dir").cast("double"), 6)
          .as("reciprocity"),
        expr("m DIV 2").as("n_und_edges"),
        round(expr(
          """CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0 THEN
            | (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            | / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            |    * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
            | ELSE NULL END""".stripMargin), 6)
          .as("assortativity"))
  }

  private val graphMixingOracle = """
    WITH weighted AS MATERIALIZED (
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
    recip AS (
      SELECT COUNT(*) AS n_recip FROM dir f
      SEMI JOIN dir r ON f.src = r.dst AND f.dst = r.src),
    nd AS (SELECT COUNT(*) AS n_dir FROM dir),
    und AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM dir),
    adj AS MATERIALIZED (SELECT a AS u, b AS w FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT u, COUNT(*) AS deg FROM adj GROUP BY 1),
    ends AS (
      SELECT dx.deg AS dx, dy.deg AS dy
      FROM adj JOIN deg dx ON adj.u = dx.u JOIN deg dy ON adj.w = dy.u),
    sums AS (
      SELECT COUNT(*) AS m, SUM(dx) AS sx, SUM(dy) AS sy,
        SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy, SUM(dx * dy) AS sxy
      FROM ends)
    SELECT n_dir, n_recip,
      ROUND(CAST(n_recip AS DOUBLE) / CAST(n_dir AS DOUBLE), 6) AS reciprocity,
      CAST(m // 2 AS BIGINT) AS n_und_edges,
      ROUND(CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0 THEN
        (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        ELSE NULL END, 6)
        AS assortativity
    FROM sums, recip, nd"""

  // ---------------------------------------------------------------- q252

  /** Fixed-round k-core peel of the brand co-purchase graph: brands are
    * adjacent when they co-occur in >= the median co-occurrence count
    * of orders (a scale-relative sparsifier — absolute co-occurrence
    * grows with the corpus), then `rounds` rounds of removing nodes
    * with degree < k. The semantics are "the `rounds`-round peel", so
    * Spark and the oracle run the identical bounded iteration — no
    * fixpoint detection to diverge on. The corpus is touched once
    * (co-occurrence groupBy); peeling runs on the ≤ |brands|² graph.
    */
  def kCorePeel(li: DataFrame, part: DataFrame, k: Int = 10,
      rounds: Int = 6): DataFrame = {
    val basket = li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct()
    val co = basket.as("x").join(basket.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.p_brand") < col("y.p_brand"))
      .groupBy(col("x.p_brand").as("a"), col("y.p_brand").as("b"))
      .agg(count(lit(1)).as("w")) // |brands|² rows
    // The weighted brand graph is catalog-bounded (|brands|² rows — a
    // fixed domain, NOT corpus-proportional), so the peel runs on the
    // driver over the collected edge list: the previous per-round
    // semi-join/localCheckpoint chain paid ~6 Spark-job floors to filter
    // a few hundred rows. One corpus pass (the co-occurrence groupBy
    // above) remains the only distributed work at any scale.
    val spark = li.sparkSession
    import spark.implicits._
    val wEdges = co.select(col("a"), col("b"), col("w").cast("long")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // median co-occurrence over integer counts lands on .0/.5 — exact
    // (percentile() linear interpolation on the sorted multiset)
    val ws = wEdges.map(_._3).sorted
    val mw =
      if (ws.isEmpty) 0.0
      else {
        val pos = 0.5 * (ws.length - 1)
        val lo = ws(pos.toInt).toDouble
        val hi = ws(math.ceil(pos).toInt).toDouble
        lo + (pos - pos.toInt) * (hi - lo)
      }
    var edges = wEdges.collect { case (a, b, w) if w.toDouble >= mw => (a, b) }
    var alive = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    for (_ <- 1 to rounds) {
      val deg = (edges.map(_._1) ++ edges.map(_._2))
        .groupBy(identity).map { case (n, xs) => n -> xs.length.toLong }
      alive = deg.collect { case (n, d) if d >= k => n }.toArray.sorted
      val keep = alive.toSet
      edges = edges.filter { case (a, b) => keep(a) && keep(b) }
    }
    val finalDeg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.length.toLong }
    alive.toSeq.map(n => (n, finalDeg.getOrElse(n, 0L)))
      .toDF("brand", "core_deg")
      .orderBy("brand")
  }

  private def kCoreOracle(k: Int = 10, rounds: Int = 6): String = {
    val base = s"""
    WITH basket AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    co AS MATERIALIZED (
      SELECT x.p_brand AS a, y.p_brand AS b, COUNT(*) AS w
      FROM basket x JOIN basket y
        ON x.l_orderkey = y.l_orderkey AND x.p_brand < y.p_brand
      GROUP BY 1, 2),
    medw AS (SELECT quantile_cont(w, 0.5) AS mw FROM co),
    e0 AS MATERIALIZED (SELECT a, b FROM co, medw WHERE CAST(w AS DOUBLE) >= mw)"""
    val peels = (1 to rounds).map { r =>
      s""",
    d$r AS (
      SELECT n, COUNT(*) AS deg FROM (
        SELECT a AS n FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
      GROUP BY 1),
    s$r AS MATERIALIZED (SELECT n FROM d$r WHERE deg >= $k),
    e$r AS MATERIALIZED (
      SELECT e.a, e.b FROM e${r - 1} e
      SEMI JOIN s$r sa ON e.a = sa.n
      SEMI JOIN s$r sb ON e.b = sb.n)"""
    }.mkString
    s"""$base$peels
    SELECT s.n AS brand, COALESCE(fd.core_deg, 0) AS core_deg
    FROM s$rounds s LEFT JOIN (
      SELECT n, COUNT(*) AS core_deg FROM (
        SELECT a AS n FROM e$rounds UNION ALL SELECT b FROM e$rounds)
      GROUP BY 1) fd ON s.n = fd.n
    ORDER BY brand"""
  }

  // ---------------------------------------------------------------- q248

  /** Split-point information gain: for rank-based decile thresholds of
    * the order price, the entropy reduction of splitting the
    * urgent-order label at that threshold. Thresholds are exact data
    * values (row_number ranks, never interpolated), counts are exact
    * integers, and each threshold's gain is one fixed closed-form
    * double over those integers. The corpus is aggregated to a
    * distinct-price profile first; the 9-threshold recombination runs
    * on that bounded profile.
    */
  def splitGain(orders: DataFrame): DataFrame = {
    val c = orders.select(
      round(col("o_totalprice") * 100).cast("decimal(18,0)").as("cents"),
      (col("o_orderpriority").isin("1-URGENT", "2-HIGH")).cast("long").as("pos"))
    val profile = c.groupBy("cents")
      .agg(count(lit(1)).as("n"), sum("pos").as("np"))
      .localCheckpoint() // distinct-price-bounded; reused for ranks + scan
    // distinct order prices grow ~linearly with the corpus, so the
    // cumulative scan distributes via the two-level bucket decomposition
    // (cents DIV 65536 ≈ $655 buckets) instead of a flat global window
    val ranked = Dist.withRunningSum(profile,
      expr("CAST(cents AS BIGINT) DIV 65536"), Seq(col("cents")),
      col("n"), "cum_n")
    val tot = profile.agg(sum("n").as("nn"), sum("np").as("npp"))
    // thresholds at ranks ceil(i*n/10): exact data values, no interpolation
    val ranks = (1 to 9)
    val thrRows = ranked.crossJoin(broadcast(tot))
      .withColumn("cut", explode(array(ranks.map(i =>
        ceil(lit(i) * col("nn") / lit(10)).cast("long")): _*)))
      .filter(col("cum_n") - col("n") < col("cut") && col("cut") <= col("cum_n"))
      .select(col("cut"), col("cents").as("thr"))
    val gains = profile.crossJoin(broadcast(thrRows))
      .groupBy("cut", "thr")
      .agg(sum(when(col("cents") <= col("thr"), col("n")).otherwise(0L)).as("nl"),
        sum(when(col("cents") <= col("thr"), col("np")).otherwise(0L)).as("npl"))
      .crossJoin(broadcast(tot))
    // args are textual macros: every $p/$q use MUST be parenthesized,
    // or `$q - $p` with p = "npp - npl" drops the implied grouping
    def h(p: String, q: String): String =
      s"""(CASE WHEN ($p) > 0 AND ($p) < ($q) THEN
         | -(CAST(($p) AS DOUBLE) / CAST(($q) AS DOUBLE)) * log2(CAST(($p) AS DOUBLE) / CAST(($q) AS DOUBLE))
         | -(CAST(($q) - ($p) AS DOUBLE) / CAST(($q) AS DOUBLE)) * log2(CAST(($q) - ($p) AS DOUBLE) / CAST(($q) AS DOUBLE))
         | ELSE 0.0 END)""".stripMargin
    gains
      .withColumn("ig", expr(
        s"""${h("npp", "nn")}
           | - (CAST(nl AS DOUBLE) / CAST(nn AS DOUBLE)) * ${h("npl", "nl")}
           | - (CAST(nn - nl AS DOUBLE) / CAST(nn AS DOUBLE)) * ${h("npp - npl", "nn - nl")}""".stripMargin))
      .select((col("cut") * 10 / col("nn")).cast("long").as("decile"),
        round(col("thr").cast("double") / 100.0, 2).as("threshold"),
        col("nl").as("n_left"), col("npl").as("n_pos_left"),
        round(col("ig"), 6).as("info_gain"))
      .orderBy("decile")
  }

  private val splitGainOracle = {
    def h(p: String, q: String): String =
      s"""(CASE WHEN ($p) > 0 AND ($p) < ($q) THEN
         -(CAST(($p) AS DOUBLE) / CAST(($q) AS DOUBLE)) * log2(CAST(($p) AS DOUBLE) / CAST(($q) AS DOUBLE))
         -(CAST(($q) - ($p) AS DOUBLE) / CAST(($q) AS DOUBLE)) * log2(CAST(($q) - ($p) AS DOUBLE) / CAST(($q) AS DOUBLE))
         ELSE 0.0 END)"""
    s"""
    WITH c AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(18,0)) AS cents,
        CAST(o_orderpriority IN ('1-URGENT', '2-HIGH') AS BIGINT) AS pos
      FROM orders),
    profile AS (
      SELECT cents, COUNT(*) AS n, SUM(pos) AS np FROM c GROUP BY 1),
    ranked AS (
      SELECT cents, n, np,
        SUM(n) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum_n
      FROM profile),
    tot AS (SELECT SUM(n) AS nn, SUM(np) AS npp FROM profile),
    thr AS (
      SELECT cut, cents AS thr FROM ranked, tot,
        (SELECT CAST(ceil(i * (SELECT nn FROM tot) / 10.0) AS BIGINT) AS cut
         FROM range(1, 10) t(i))
      WHERE cum_n - n < cut AND cut <= cum_n),
    gains AS (
      SELECT t.cut, t.thr,
        SUM(CASE WHEN p.cents <= t.thr THEN p.n ELSE 0 END) AS nl,
        SUM(CASE WHEN p.cents <= t.thr THEN p.np ELSE 0 END) AS npl
      FROM profile p, thr t GROUP BY 1, 2)
    SELECT CAST(cut * 10 / nn AS BIGINT) AS decile,
      ROUND(CAST(thr AS DOUBLE) / 100.0, 2) AS threshold,
      CAST(nl AS BIGINT) AS n_left, CAST(npl AS BIGINT) AS n_pos_left,
      ROUND(${h("npp", "nn")}
        - (CAST(nl AS DOUBLE) / CAST(nn AS DOUBLE)) * ${h("npl", "nl")}
        - (CAST(nn - nl AS DOUBLE) / CAST(nn AS DOUBLE)) * ${h("npp - npl", "nn - nl")}, 6)
        AS info_gain
    FROM gains, tot ORDER BY decile"""
  }

  // ---------------------------------------------------------------- q249

  /** Off-policy evaluation by inverse-propensity scoring: the logged
    * policy's propensity of event_type within a user segment
    * (user_id % 10) is its empirical frequency; the target policy is
    * uniform over the K observed event types. IPS and SNIPS estimates
    * of the mean event value under the target policy come from exact
    * per-cell count/cents aggregates; the two cross-cell reductions
    * fold the ≤ 10·K cell frame in pinned (segment, type) order.
    */
  def ipsPolicyEval(events: DataFrame): DataFrame = {
    val c = events.select((col("user_id") % 10).as("seg"), col("event_type"),
      (dec(col("value"), 2) * 100).cast("decimal(18,0)").as("cents"))
    val cells = c.groupBy("seg", "event_type")
      .agg(count(lit(1)).as("n_sa"),
        sum("cents").cast("decimal(38,0)").as("s_sa"))
    val segs = cells.groupBy("seg").agg(sum("n_sa").as("n_s"))
    val kk = cells.agg(countDistinct("event_type").as("k"), sum("n_sa").as("n"))
    cells.join(broadcast(segs), "seg").crossJoin(broadcast(kk))
      .withColumn("w", expr(
        "CAST(n_s AS DOUBLE) / (CAST(k AS DOUBLE) * CAST(n_sa AS DOUBLE))"))
      .groupBy("k", "n")
      .agg(
        osum(expr("CAST(s_sa AS DOUBLE) * w"), col("seg"), col("event_type")).as("ips_num"),
        osum(expr("CAST(n_sa AS DOUBLE) * w"), col("seg"), col("event_type")).as("w_sum"))
      .select(col("k"), col("n"),
        round(expr("ips_num / CAST(n AS DOUBLE) / 100.0"), 6).as("ips_value"),
        round(expr("ips_num / w_sum / 100.0"), 6).as("snips_value"))
  }

  private val ipsOracle = """
    WITH c AS (
      SELECT user_id % 10 AS seg, event_type,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS cents
      FROM events),
    cells AS (
      SELECT seg, event_type, COUNT(*) AS n_sa,
        CAST(SUM(cents) AS DECIMAL(38,0)) AS s_sa
      FROM c GROUP BY 1, 2),
    segs AS (SELECT seg, SUM(n_sa) AS n_s FROM cells GROUP BY 1),
    kk AS (SELECT COUNT(DISTINCT event_type) AS k,
           CAST(SUM(n_sa) AS BIGINT) AS n FROM cells),
    w AS (
      SELECT cells.seg, cells.event_type, n_sa, s_sa, k, n,
        CAST(n_s AS DOUBLE) / (CAST(k AS DOUBLE) * CAST(n_sa AS DOUBLE)) AS w
      FROM cells JOIN segs USING (seg), kk)
    SELECT k, n,
      ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(CAST(s_sa AS DOUBLE) * w ORDER BY seg, event_type)),
        (acc, x) -> acc + x) / CAST(n AS DOUBLE) / 100.0, 6) AS ips_value,
      ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(CAST(s_sa AS DOUBLE) * w ORDER BY seg, event_type)),
        (acc, x) -> acc + x)
        / list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(CAST(n_sa AS DOUBLE) * w ORDER BY seg, event_type)),
            (acc, x) -> acc + x) / 100.0, 6) AS snips_value
    FROM w GROUP BY k, n"""

  // ---------------------------------------------------------------- q250

  /** AMS second-moment sketch vs exact F2 of the per-user event
    * frequency vector: 16 ±1-hash estimators (sign_i(u) from a fixed
    * linear-congruential polynomial both engines evaluate on exact
    * integers), each estimator the SQUARE of an exact integer sum, the
    * sketch estimate their median (order statistics of 16 exact
    * integers — .5 grain). The corpus collapses to per-user counts in
    * one shuffle; the 16× expansion runs on that user-cardinality
    * frame. Everything is exact until the final ratio.
    */
  def amsF2(events: DataFrame, sketches: Int = 16): DataFrame = {
    val freq = events.groupBy("user_id").agg(count(lit(1)).as("nu"))
    val p = 2147483647L
    val est = freq
      .withColumn("i", explode(sequence(lit(0), lit(sketches - 1))))
      .withColumn("sign", expr(
        s"CASE WHEN (((2 * i + 3) * (user_id % $p) + (5 * i + 7)) % $p) % 2 = 0 THEN 1 ELSE -1 END"))
      .groupBy("i")
      .agg(sum((col("sign") * col("nu")).cast("decimal(38,0)")).as("s"))
      .select(col("i"), (col("s") * col("s")).cast("decimal(38,0)").as("est"))
    val medEst = est
      .withColumn("rk", row_number().over(Window.orderBy(col("est"), col("i"))))
      .filter(col("rk") === sketches / 2 || col("rk") === sketches / 2 + 1)
      .agg(sum("est").cast("decimal(38,0)").as("f2_sketch_x2"))
    val exact = freq.agg(count(lit(1)).as("n_users"),
      sum((col("nu") * col("nu")).cast("decimal(38,0)")).as("f2_exact"))
    // Every emitted value is BIGINT: wide decimals round-trip through the
    // driver's hash as Decimal("…") on the Spark side but float64 "….0"
    // through DuckDB's fetchdf, so the stringified hashes diverge even on
    // bit-identical arithmetic. 2·median (= sum of the two middle order
    // statistics) keeps the sketch integral; the ppm quotient is a single
    // integral division done in DECIMAL then narrowed (all values ≪ 2^63
    // at the graded SFs).
    exact.crossJoin(broadcast(medEst))
      .select(col("n_users"),
        col("f2_exact").cast("bigint").as("f2_exact"),
        col("f2_sketch_x2").cast("bigint").as("f2_sketch_x2"),
        expr("CAST((f2_sketch_x2 * 1000000) DIV (f2_exact * 2) AS BIGINT)")
          .as("est_ratio_ppm"))
  }

  private def amsOracle(sketches: Int = 16): String = s"""
    WITH freq AS (
      SELECT user_id, COUNT(*) AS nu FROM events GROUP BY 1),
    signs AS (
      SELECT i, user_id, nu,
        CASE WHEN (((2 * i + 3) * (user_id % 2147483647) + (5 * i + 7))
                   % 2147483647) % 2 = 0 THEN 1 ELSE -1 END AS sign
      FROM freq, range(0, $sketches) t(i)),
    est AS (
      SELECT i, CAST(s * s AS DECIMAL(38,0)) AS est FROM (
        SELECT i, CAST(SUM(sign * nu) AS DECIMAL(38,0)) AS s
        FROM signs GROUP BY 1)),
    med AS (
      SELECT CAST(SUM(est) AS DECIMAL(38,0)) AS f2_sketch_x2 FROM (
        SELECT est, row_number() OVER (ORDER BY est, i) AS rk FROM est)
      WHERE rk IN (${sketches / 2}, ${sketches / 2 + 1})),
    ex AS (
      SELECT COUNT(*) AS n_users,
        CAST(SUM(CAST(nu * nu AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS f2_exact
      FROM freq)
    SELECT n_users, CAST(f2_exact AS BIGINT) AS f2_exact,
      CAST(f2_sketch_x2 AS BIGINT) AS f2_sketch_x2,
      CAST(CAST(f2_sketch_x2 AS HUGEINT) * 1000000
           // (CAST(f2_exact AS HUGEINT) * 2) AS BIGINT) AS est_ratio_ppm
    FROM ex, med"""

  // ---------------------------------------------------------------- q251

  /** Rolling Hampel outlier filter on the per-type daily revenue
    * series: a ±3-day centered window's median and MAD (both computed
    * from the window's sorted integer-cent array — interpolation-free
    * .0/.5/.25-grain values), flagging days where
    * |x − med| > 3 · 1.4826 · MAD. The corpus collapses to the daily
    * series in one shuffle; windows run on the calendar-bounded frame.
    */
  def rollingHampel(events: DataFrame): DataFrame = {
    val daily = events.groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(sum((dec(col("value"), 2) * 100).cast("decimal(18,0)"))
        .cast("double").as("cents"))
    val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    def medOf(arr: String): String =
      s"""(CASE WHEN size($arr) % 2 = 1
         | THEN element_at($arr, CAST((size($arr) + 1) DIV 2 AS INT))
         | ELSE (element_at($arr, CAST(size($arr) DIV 2 AS INT))
         |       + element_at($arr, CAST(size($arr) DIV 2 + 1 AS INT))) / 2.0 END)""".stripMargin
    daily
      .withColumn("warr", array_sort(collect_list("cents").over(w)))
      .withColumn("med", expr(medOf("warr")))
      .withColumn("darr", expr("array_sort(transform(warr, x -> abs(x - med)))"))
      .withColumn("mad", expr(medOf("darr")))
      .filter(abs(col("cents") - col("med")) > lit(3.0) * lit(1.4826) * col("mad"))
      .select(col("event_type"), col("day"),
        round(col("cents") / 100.0, 2).as("revenue"),
        round(col("med") / 100.0, 2).as("window_median"),
        round(col("mad") / 100.0, 2).as("window_mad"))
      .orderBy("event_type", "day")
  }

  private val hampelOracle = {
    def medOf(arr: String): String =
      s"""(CASE WHEN len($arr) % 2 = 1
         THEN $arr[(len($arr) + 1) // 2]
         ELSE ($arr[len($arr) // 2] + $arr[len($arr) // 2 + 1]) / 2.0 END)"""
    s"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))) AS DOUBLE) AS cents
      FROM events GROUP BY 1, 2),
    win AS (
      SELECT event_type, day, cents,
        list_sort(list(cents) OVER (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS warr
      FROM daily),
    med AS (
      SELECT *, ${medOf("warr")} AS med FROM win),
    mad AS (
      SELECT *, ${medOf("list_sort(list_transform(warr, x -> abs(x - med)))")} AS mad
      FROM med)
    SELECT event_type, day,
      ROUND(cents / 100.0, 2) AS revenue,
      ROUND(med / 100.0, 2) AS window_median,
      ROUND(mad / 100.0, 2) AS window_mad
    FROM mad
    WHERE ABS(cents - med) > 3.0 * 1.4826 * mad
    ORDER BY event_type, day"""
  }

  // ---------------------------------------------------------------- q253

  /** Split-conformal prediction intervals for order price per priority:
    * odd order keys calibrate, even keys test. The nonconformity score
    * is kept exact by scaling: score = |cents·n_cal − s_cal| (an exact
    * decimal), the conformal quantile is the rank-⌈(n+1)·0.9⌉ order
    * statistic (rank-based, never interpolated), and test-set coverage
    * compares exact decimals. Doubles appear only in the two reported
    * display columns. Two grouped passes over the corpus; ranking runs
    * per priority on the calibration half.
    */
  def conformalIntervals(orders: DataFrame, alpha: Double = 0.1): DataFrame = {
    val c = orders.select(col("o_orderpriority").as("prio"),
      round(col("o_totalprice") * 100).cast("decimal(18,0)").as("cents"),
      (col("o_orderkey") % 2 === 1).as("is_cal"))
    val calStats = c.filter(col("is_cal"))
      .groupBy("prio")
      .agg(count(lit(1)).as("n_cal"), sum("cents").cast("decimal(38,0)").as("s_cal"))
    val scored = c.join(broadcast(calStats), "prio")
      .withColumn("score",
        abs(col("cents") * col("n_cal") - col("s_cal")).cast("decimal(38,0)"))
    val byScore = Window.partitionBy("prio")
      .orderBy(col("score"), col("cents"))
    val qhat = scored.filter(col("is_cal"))
      .withColumn("rk", row_number().over(byScore))
      .filter(col("rk") === ceil((col("n_cal") + 1) * lit(1.0 - alpha)).cast("long"))
      .select(col("prio"), col("score").as("qhat"))
    scored.filter(!col("is_cal"))
      .join(broadcast(qhat), "prio")
      .groupBy("prio", "n_cal", "s_cal", "qhat")
      .agg(count(lit(1)).as("n_test"),
        sum((col("score") <= col("qhat")).cast("long")).as("n_covered"))
      .select(col("prio"), col("n_cal"), col("n_test"),
        round(expr("CAST(s_cal AS DOUBLE) / CAST(n_cal AS DOUBLE) / 100.0"), 2)
          .as("center"),
        round(expr("CAST(qhat AS DOUBLE) / CAST(n_cal AS DOUBLE) / 100.0"), 2)
          .as("half_width"),
        round(expr("CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE)"), 6)
          .as("coverage"))
      .orderBy("prio")
  }

  private val conformalOracle = """
    WITH c AS (
      SELECT o_orderpriority AS prio,
        CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(18,0)) AS cents,
        o_orderkey % 2 = 1 AS is_cal
      FROM orders),
    cal AS (
      SELECT prio, COUNT(*) AS n_cal, CAST(SUM(cents) AS DECIMAL(38,0)) AS s_cal
      FROM c WHERE is_cal GROUP BY 1),
    scored AS (
      SELECT c.prio, c.cents, c.is_cal, cal.n_cal, cal.s_cal,
        CAST(ABS(c.cents * cal.n_cal - cal.s_cal) AS DECIMAL(38,0)) AS score
      FROM c JOIN cal USING (prio)),
    qhat AS (
      SELECT prio, score AS qhat FROM (
        SELECT prio, score, n_cal,
          row_number() OVER (PARTITION BY prio ORDER BY score, cents) AS rk
        FROM scored WHERE is_cal)
      WHERE rk = CAST(ceil((n_cal + 1) * 0.9) AS BIGINT)),
    test AS (
      SELECT s.prio, s.n_cal, s.s_cal, q.qhat, COUNT(*) AS n_test,
        SUM(CAST(s.score <= q.qhat AS BIGINT)) AS n_covered
      FROM scored s JOIN qhat q USING (prio)
      WHERE NOT s.is_cal GROUP BY 1, 2, 3, 4)
    SELECT prio, n_cal, n_test,
      ROUND(CAST(s_cal AS DOUBLE) / CAST(n_cal AS DOUBLE) / 100.0, 2) AS center,
      ROUND(CAST(qhat AS DOUBLE) / CAST(n_cal AS DOUBLE) / 100.0, 2) AS half_width,
      ROUND(CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE), 6) AS coverage
    FROM test ORDER BY prio"""

  // ---------------------------------------------------------------- q254

  /** Representative series thinning (a parallel LTTB variant): the
    * daily revenue series is cut into `buckets` rank-based buckets and
    * each bucket is represented by its most deviant point — argmax of
    * |cents·n_b − s_b| (the bucket-mean deviation scaled to exact
    * integers), ties to the earliest day. Downsampling a 100 TB metric
    * series to a plot-sized sketch without a driver-side pass: one
    * corpus shuffle to the daily frame, windows on the calendar-bounded
    * series.
    */
  def seriesThinning(orders: DataFrame, buckets: Int = 30): DataFrame = {
    val daily = orders.groupBy(date_trunc("day", col("o_orderdate"))
        .cast("date").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("decimal(18,0)")).as("cents"))
    val byDay = Window.orderBy("day")
    val withB = daily
      .withColumn("rn", row_number().over(byDay))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("bucket", floor((col("rn") - 1) * buckets / col("n")).cast("long"))
    val wb = Window.partitionBy("bucket")
    val dev = withB
      .withColumn("nb", count(lit(1)).over(wb))
      .withColumn("sb", sum("cents").over(wb).cast("decimal(38,0)"))
      .withColumn("dev",
        abs(col("cents") * col("nb") - col("sb")).cast("decimal(38,0)"))
    dev
      .withColumn("rk", row_number().over(
        Window.partitionBy("bucket").orderBy(col("dev").desc, col("day"))))
      .filter(col("rk") === 1)
      .select(col("bucket"), col("day"), col("nb").as("bucket_days"),
        round(col("cents").cast("double") / 100.0, 2).as("revenue"),
        round(expr("CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0"), 2)
          .as("bucket_mean"))
      .orderBy("bucket")
  }

  private def thinningOracle(buckets: Int = 30): String = s"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
        CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS cents
      FROM orders GROUP BY 1),
    wb AS (
      SELECT day, cents,
        CAST(floor((row_number() OVER (ORDER BY day) - 1) * $buckets
             / (COUNT(*) OVER ())) AS BIGINT) AS bucket
      FROM daily),
    dev AS (
      SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS nb,
        CAST(SUM(cents) OVER (PARTITION BY bucket) AS DECIMAL(38,0)) AS sb
      FROM wb),
    pick AS (
      SELECT *, CAST(ABS(cents * nb - sb) AS DECIMAL(38,0)) AS dv FROM dev)
    SELECT bucket, day, nb AS bucket_days,
      ROUND(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
      ROUND(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0, 2) AS bucket_mean
    FROM (
      SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY dv DESC, day) AS rk
      FROM pick)
    WHERE rk = 1 ORDER BY bucket"""

  // ------------------------------------------------------------ queries

  // ---------------------------------------------------------------- q402

  /** Fully-exact link-prediction suite on the sparsified nation trade
    * graph (q246's graph, three more classical scores): for every
    * non-adjacent pair with ≥1 common neighbor — common-neighbor
    * count, Jaccard of neighborhoods as exact ppm, and preferential
    * attachment deg(u)·deg(v). Unlike Adamic-Adar these need no
    * transcendentals, so every value is an integer. Corpus → weighted
    * edges in one grouped pass; all pair work is dimension-sized.
    */
  def linkPredSuite(li: DataFrame, orders: DataFrame, supplier: DataFrame,
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
    val edges = weighted.crossJoin(broadcast(medW))
      .filter(col("w").cast("double") >= col("mw"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint()
    val adj = edges.select(col("a").as("u"), col("b").as("w"))
      .union(edges.select(col("b").as("u"), col("a").as("w")))
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val paths = adj.as("x").join(adj.as("y"), col("x.w") === col("y.w"))
      .filter(col("x.u") < col("y.u"))
      .select(col("x.u").as("u"), col("y.u").as("v"))
    val common = paths.join(edges,
        paths("u") === edges("a") && paths("v") === edges("b"), "left_anti")
      .groupBy("u", "v").agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(deg.select(col("u"), col("deg").as("deg_u"))), "u")
      .join(broadcast(deg.select(col("u").as("v"), col("deg").as("deg_v"))), "v")
      .select(col("u"), col("v"), col("n_common"), col("deg_u"), col("deg_v"),
        expr("n_common * 1000000 DIV (deg_u + deg_v - n_common)")
          .as("jaccard_ppm"),
        (col("deg_u") * col("deg_v")).as("pref_attach"))
      .orderBy(col("jaccard_ppm").desc, col("u"), col("v"))
  }

  private val linkPredOracle = """
    WITH weighted AS MATERIALIZED (
      SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      WHERE s_nationkey <> c_nationkey GROUP BY 1, 2),
    med AS (SELECT median(w) AS mw FROM weighted),
    edges AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM weighted, med WHERE CAST(w AS DOUBLE) >= mw),
    adj AS (
      SELECT a AS u, b AS w FROM edges
      UNION ALL SELECT b AS u, a AS w FROM edges),
    deg AS (SELECT u, COUNT(*) AS deg FROM adj GROUP BY 1),
    common AS (
      SELECT x.u AS u, y.u AS v, COUNT(*) AS n_common
      FROM adj x JOIN adj y ON x.w = y.w AND x.u < y.u
      WHERE NOT EXISTS (SELECT 1 FROM edges e
                        WHERE e.a = x.u AND e.b = y.u)
      GROUP BY 1, 2)
    SELECT common.u AS u, common.v AS v, n_common,
      du.deg AS deg_u, dv.deg AS deg_v,
      n_common * 1000000 // (du.deg + dv.deg - n_common) AS jaccard_ppm,
      du.deg * dv.deg AS pref_attach
    FROM common
    JOIN deg du ON du.u = common.u
    JOIN deg dv ON dv.u = common.v
    ORDER BY jaccard_ppm DESC, u, v"""

  // ---------------------------------------------------------------- q403

  /** Discrete power-law exponent of the user activity distribution by
    * the Clauset–Shalizi–Newman MLE: with k = per-user event count and
    * kmin = 2, α̂ = 1 + n / Σ n_k·ln(k/(kmin−½)). The corpus collapses
    * to per-user counts, then to the distinct-degree histogram
    * (bounded by max degree, not user count); the log-sum folds in
    * pinned degree order. The "is this corpus head-heavy" exponent a
    * sampling strategy starts from.
    */
  def powerlawAlpha(events: DataFrame, kmin: Long = 2L): DataFrame = {
    val degHist = events.groupBy("user_id").agg(count(lit(1)).as("k"))
      .filter(col("k") >= kmin)
      .groupBy("k").agg(count(lit(1)).as("nk"))
    degHist.agg(sum("nk").as("n"), count(lit(1)).as("n_distinct_k"),
        max("k").as("k_max"),
        osum(expr(s"nk * ln(CAST(k AS DOUBLE) / ($kmin - 0.5))"), col("k")).as("lsum"))
      .select(lit(kmin).as("k_min"), col("n"), col("n_distinct_k"),
        col("k_max"),
        round(expr("1.0 + CAST(n AS DOUBLE) / lsum"), 6).as("alpha"))
  }

  private def powerlawOracle(kmin: Long = 2L): String = s"""
    WITH deg AS (
      SELECT user_id, COUNT(*) AS k FROM events GROUP BY 1),
    hist AS (
      SELECT k, COUNT(*) AS nk FROM deg WHERE k >= $kmin GROUP BY 1)
    SELECT CAST($kmin AS BIGINT) AS k_min, CAST(SUM(nk) AS BIGINT) AS n,
      COUNT(*) AS n_distinct_k, CAST(MAX(k) AS BIGINT) AS k_max,
      ROUND(1.0 + CAST(SUM(nk) AS DOUBLE)
        / list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(nk * ln(CAST(k AS DOUBLE) / ($kmin - 0.5)) ORDER BY k)),
          (acc, x) -> acc + x), 6) AS alpha
    FROM hist"""

  override def queries: Seq[Q] = Seq(
    Q("q402_link_pred_suite",
      (s, d) => linkPredSuite(lineitem(s, d), orders(s, d), supplier(s, d),
        customer(s, d)),
      Some(linkPredOracle)),
    Q("q403_powerlaw_alpha",
      (s, d) => powerlawAlpha(events(s, d)), Some(powerlawOracle())),
    Q("q245_retrieval_metrics",
      (s, d) => retrievalMetrics(embeddings(s, d)),
      Some(retrievalOracle())),
    Q("q246_adamic_adar",
      (s, d) => adamicAdar(lineitem(s, d), orders(s, d), supplier(s, d),
        customer(s, d)),
      Some(adamicAdarOracle)),
    Q("q247_graph_mixing",
      (s, d) => graphMixing(lineitem(s, d), orders(s, d), supplier(s, d),
        customer(s, d)),
      Some(graphMixingOracle)),
    Q("q248_split_gain",
      (s, d) => splitGain(orders(s, d)),
      Some(splitGainOracle)),
    Q("q249_ips_policy_eval",
      (s, d) => ipsPolicyEval(events(s, d)),
      Some(ipsOracle)),
    Q("q250_ams_f2",
      (s, d) => amsF2(events(s, d)),
      Some(amsOracle())),
    Q("q251_rolling_hampel",
      (s, d) => rollingHampel(events(s, d)),
      Some(hampelOracle)),
    Q("q252_kcore_peel",
      (s, d) => kCorePeel(lineitem(s, d), part(s, d)),
      Some(kCoreOracle())),
    Q("q253_conformal_intervals",
      (s, d) => conformalIntervals(orders(s, d)),
      Some(conformalOracle)),
    Q("q254_series_thinning",
      (s, d) => seriesThinning(orders(s, d)),
      Some(thinningOracle())),
  )
}
