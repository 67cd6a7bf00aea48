package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.SquaredL2.squared_l2

import graft.{Q, QueryModule}
import graft.Tables._
import graft.Num.{dec, sortedBy}
import graft.ops.Dist

/** Embedding-geometry curation operators (SURVEY.md §2.9 extension
  * surface): Gonzalez farthest-point (k-center) diversity seeding and
  * diagonal-Mahalanobis outlier scoring. Together with q269's
  * LSH-density screen they cover the geometric side of embedding
  * curation (q269 is combinatorial bucket sparsity; these are metric).
  * The reference has no embedding surface at all.
  *
  * Oracle-exactness discipline (graft-oracle-exactness): distances and
  * scores accumulate either per-dimension DECIMAL casts (exact,
  * order-independent — the k-center/Mahalanobis argmax paths) or, on
  * the anchor-distance hot paths, a pure-double fold in ARRAY (dim)
  * order whose DuckDB twin `list_reduce(list(term ORDER BY dim))`
  * performs the bit-identical IEEE add sequence (VecDist.d2Fold);
  * cross-row sums of those doubles are decimal-cast; ties break by
  * vec_id.
  *
  * Scale discipline: each greedy round touches the corpus once
  * (exploded rows×dims joined to the ≤k-row selected set — at 100 TB
  * the selected set broadcasts and the scan stays narrow); Mahalanobis
  * needs one pass for per-dim moments (64-row reduce) and one for
  * scores.
  */
object Geometry extends QueryModule {

  private def explodeDims(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim0", "xv")))
      .select(col("vec_id"), col("label"), (col("dim0") + 1).as("dim"),
        col("xv").cast("double").as("xv"))

  // ---------------------------------------------------------------- q279

  /** Gonzalez (1985) farthest-point k-center seeding, k=4: the seed is
    * the max-squared-norm vector; each round adds the vector farthest
    * (min-over-selected squared L2) from the selected set. Squared
    * distances are exact decimal sums — no sqrt, so selection is exact
    * and deterministic. The classic diversity-sampling / kmeans++-style
    * seeding primitive for corpus subset selection.
    */
  def kcenterSeeds(spark: SparkSession, emb: DataFrame): DataFrame = {
    import spark.implicits._
    import graft.functions.QuantizedSqDist.quantized_sq_dist
    // Each round is ONE narrow codegen pass over the vectors: the ≤3
    // selected seed embeddings are collected to the driver (each pick's
    // top-1 row carries its embedding — bounded, one row per round) and
    // inlined as float-array literals, so min-over-selected is
    // least(quantized_sq_dist(e, seed_1), ..) — a generated
    // long-accumulating loop per seed. quantized_sq_dist is pinned
    // bit-identical to the former interpreted
    // aggregate(zip_with(.. CAST((x-y)² AS DECIMAL(18,10)))) decimal
    // fold (QuantizedSqDistSpec): same per-term Cast quantization, same
    // exact DECIMAL(28,10) sum — that fold's per-term
    // Double.toString+BigDecimal parse, ×(1+2+3) seed evaluations ×
    // dims × |vecs|, was ~80-90% of q279's sf1 runtime. least() over
    // never-null decimals ≡ array_min over the per-seed fold values.
    // Seed-list rebuild scans (one corpus agg per round) are gone too.
    //
    // Norm seed: d²-to-the-zero-vector IS the squared-norm fold —
    // x−0.0 == x bit-exactly for every finite float (and (−0.0)² ==
    // 0.0 == (±0.0)·(±0.0)), so each per-term quantize sees the
    // identical double. Pinned in NativeExprSpec.
    val zeros = array_repeat(lit(0.0d), size(col("embedding")))
    val seed = emb
      .select(col("vec_id"), col("embedding"),
        quantized_sq_dist(col("embedding"), zeros).as("n2"))
      .orderBy(col("n2").desc, col("vec_id")).limit(1)
      .collect()(0)
    var selected = Seq(seed.getLong(0))
    var seedVecs = Seq(seed.getSeq[Float](1))
    val picks = Seq.newBuilder[(Int, Long, java.math.BigDecimal)]
    picks += ((1, seed.getLong(0), seed.getDecimal(2)))
    for (round <- 2 to 4) {
      val best = kcenterRoundFrame(emb, selected, seedVecs)
        .orderBy(col("min_d2").desc, col("vec_id")).limit(1)
        .collect()(0)
      selected = selected :+ best.getLong(0)
      seedVecs = seedVecs :+ best.getSeq[Float](1)
      picks += ((round, best.getLong(0), best.getDecimal(2)))
    }
    picks.result()
      .map { case (r, v, d) => (r.toLong, v, d.doubleValue()) }
      .toDF("round", "vec_id", "gap")
      .select(col("round"), col("vec_id"),
        round(col("gap"), 6).as("sq_gap"))
      .orderBy("round")
  }

  /** One greedy round's distance pass of [[kcenterSeeds]] (min over the
    * selected seeds, inlined as float-array literals).
    */
  private def kcenterRoundFrame(emb: DataFrame, selected: Seq[Long],
      seedVecs: Seq[Seq[Float]]): DataFrame = {
    import graft.functions.QuantizedSqDist.quantized_sq_dist
    val minD2 = seedVecs
      .map(sv => quantized_sq_dist(col("embedding"), lit(sv.toArray)))
      .reduce(least(_, _))
    emb.filter(!col("vec_id").isInCollection(selected))
      .select(col("vec_id"), col("embedding"), minD2.as("min_d2"))
  }

  private val kcenterOracle = """
    WITH x AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        CAST(unnest(embedding) AS DOUBLE) AS xv
      FROM embeddings),
    norms AS MATERIALIZED (
      SELECT vec_id, SUM(CAST(xv * xv AS DECIMAL(18,10))) AS n2
      FROM x GROUP BY 1),
    s1 AS MATERIALIZED (
      SELECT vec_id, n2 FROM norms ORDER BY n2 DESC, vec_id LIMIT 1),
    -- the selected side is materialized as a tiny (≤k·dims rows) frame
    -- BEFORE the dim-join: an IN-subquery filter left above the 64-key
    -- join makes DuckDB build the full x⋈x (rows²·dims) intermediate
    sx1 AS MATERIALIZED (
      SELECT vec_id, dim, xv FROM x
      WHERE vec_id IN (SELECT vec_id FROM s1)),
    d1 AS MATERIALIZED (
      SELECT t.vec_id, MIN(t.d2) AS min_d2 FROM (
        SELECT x.vec_id, s.vec_id AS sid,
          SUM(CAST((x.xv - s.xv) * (x.xv - s.xv) AS DECIMAL(18,10))) AS d2
        FROM x JOIN sx1 s ON x.dim = s.dim
        GROUP BY 1, 2) t
      GROUP BY 1),
    s2 AS MATERIALIZED (
      SELECT vec_id, min_d2 FROM d1
      WHERE vec_id NOT IN (SELECT vec_id FROM s1)
      ORDER BY min_d2 DESC, vec_id LIMIT 1),
    sel2 AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2),
    sx2 AS MATERIALIZED (
      SELECT vec_id, dim, xv FROM x
      WHERE vec_id IN (SELECT vec_id FROM sel2)),
    d2r AS MATERIALIZED (
      SELECT t.vec_id, MIN(t.d2) AS min_d2 FROM (
        SELECT x.vec_id, s.vec_id AS sid,
          SUM(CAST((x.xv - s.xv) * (x.xv - s.xv) AS DECIMAL(18,10))) AS d2
        FROM x JOIN sx2 s ON x.dim = s.dim
        GROUP BY 1, 2) t
      GROUP BY 1),
    s3 AS MATERIALIZED (
      SELECT vec_id, min_d2 FROM d2r
      WHERE vec_id NOT IN (SELECT vec_id FROM sel2)
      ORDER BY min_d2 DESC, vec_id LIMIT 1),
    sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM s3),
    sx3 AS MATERIALIZED (
      SELECT vec_id, dim, xv FROM x
      WHERE vec_id IN (SELECT vec_id FROM sel3)),
    d3r AS MATERIALIZED (
      SELECT t.vec_id, MIN(t.d2) AS min_d2 FROM (
        SELECT x.vec_id, s.vec_id AS sid,
          SUM(CAST((x.xv - s.xv) * (x.xv - s.xv) AS DECIMAL(18,10))) AS d2
        FROM x JOIN sx3 s ON x.dim = s.dim
        GROUP BY 1, 2) t
      GROUP BY 1),
    s4 AS (
      SELECT vec_id, min_d2 FROM d3r
      WHERE vec_id NOT IN (SELECT vec_id FROM sel3)
      ORDER BY min_d2 DESC, vec_id LIMIT 1),
    out AS (
      SELECT 1 AS round, vec_id, CAST(n2 AS DOUBLE) AS gap FROM s1
      UNION ALL SELECT 2, vec_id, CAST(min_d2 AS DOUBLE) FROM s2
      UNION ALL SELECT 3, vec_id, CAST(min_d2 AS DOUBLE) FROM s3
      UNION ALL SELECT 4, vec_id, CAST(min_d2 AS DOUBLE) FROM s4)
    SELECT CAST(round AS BIGINT) AS round, vec_id,
      ROUND(gap, 6) AS sq_gap
    FROM out ORDER BY round"""

  // ---------------------------------------------------------------- q280

  /** Diagonal-Mahalanobis outlier scoring: per-dimension mean/variance
    * from one exact-decimal moment pass, then score_i = Σ_j
    * (x_ij-μ_j)²/σ²_j accumulated as exact decimals. Reports per-label
    * outlier statistics (score > 2·dims flags a tail point under the
    * χ²₆₄ heuristic) plus the global top-3 outliers — the metric
    * complement of q269's bucket-sparsity screen.
    */
  def mahalanobisOutliers(emb: DataFrame): DataFrame = {
    val x = explodeDims(emb)
    // v = E[x²] - E[x]² in doubles over identical decimal→double operands
    // (the n·s2 - s1² integer form would overflow DECIMAL(38) at ~1e9 rows)
    // raw-xv sum on the exact 2^50 grid (graft.Num.bin50: scale-10
    // decimal casts tie on coarse float32 dyadics); xv² keeps dec — a
    // square's dyadic width is even so it can't tie at scale 10
    val moments = x.groupBy("dim").agg(
        count(lit(1)).as("n"),
        sum(graft.Num.bin50(col("xv"))).as("s1"),
        sum(dec(col("xv") * col("xv"), 10)).as("s2"))
      .select(col("dim"),
        expr(graft.Num.bin50MeanSql("s1", "n")).as("mu"),
        (col("s2").cast("double") / col("n")
          - expr(graft.Num.bin50MeanSql("s1", "n"))
            * expr(graft.Num.bin50MeanSql("s1", "n"))).as("v"))
    val scores = x.join(broadcast(moments), "dim")
      .withColumn("t", (col("xv") - col("mu")) * (col("xv") - col("mu"))
        / col("v"))
      .groupBy("vec_id", "label")
      .agg(sum(dec(col("t"), 9)).as("score"), count(lit(1)).as("dims"))
    val top = scores
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rnk") <= 3)
      .agg(concat_ws(",", transform(sortedBy(col("vec_id"), col("rnk")),
          s => s.cast("string"))).as("top_outliers"))
    scores.groupBy("label").agg(
        count(lit(1)).as("n_vecs"),
        (sum(col("score")).cast("double") / count(lit(1))).as("mean_raw"),
        max(col("score")).cast("double").as("max_raw"),
        sum((col("score") > col("dims") * 2).cast("long")).as("n_tail"))
      .select(col("label").cast("long").as("label"), col("n_vecs"),
        round(col("mean_raw"), 4).as("mean_score"),
        round(col("max_raw"), 4).as("max_score"), col("n_tail"))
      .crossJoin(broadcast(top))
      .orderBy("label")
  }

  private val mahalanobisOracle = s"""
    WITH x AS MATERIALIZED (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
        CAST(unnest(embedding) AS DOUBLE) AS xv
      FROM embeddings),
    moments AS (
      SELECT dim, COUNT(*) AS n,
        SUM(CAST(xv * 1.125899906842624e15 AS HUGEINT)) AS s1,
        SUM(CAST(xv * xv AS DECIMAL(18,10))) AS s2
      FROM x GROUP BY 1),
    mo AS (
      SELECT dim, ${graft.Num.bin50MeanDuck("s1", "n")} AS mu,
        CAST(s2 AS DOUBLE) / n
          - ${graft.Num.bin50MeanDuck("s1", "n")}
            * ${graft.Num.bin50MeanDuck("s1", "n")} AS v
      FROM moments),
    scores AS MATERIALIZED (
      SELECT x.vec_id, x.label,
        SUM(CAST((x.xv - mo.mu) * (x.xv - mo.mu) / mo.v AS DECIMAL(18,9)))
          AS score,
        COUNT(*) AS dims
      FROM x JOIN mo USING (dim)
      GROUP BY 1, 2),
    top AS (
      SELECT string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY rnk)
        AS top_outliers
      FROM (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS rnk
        FROM scores) WHERE rnk <= 3)
    SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n_vecs,
      ROUND(CAST(SUM(score) AS DOUBLE) / COUNT(*), 4) AS mean_score,
      ROUND(CAST(MAX(score) AS DOUBLE), 4) AS max_score,
      CAST(SUM(CAST(score > dims * 2 AS BIGINT)) AS BIGINT) AS n_tail,
      (SELECT top_outliers FROM top) AS top_outliers
    FROM scores GROUP BY label ORDER BY label"""

  // ---------------------------------------------------------------- q290

  /** Triplet-margin audit (hard-negative mining statistics): for a
    * deterministic FIXED-SIZE anchor sample (the 64 vec_ids smallest
    * under md5 order — an absolute budget, not a corpus fraction, so
    * the broadcast stays O(64·dims) at any corpus size), the nearest
    * same-label and nearest different-label neighbors give the triplet
    * margin d²(neg) − d²(pos); the per-label report shows mean margin
    * and violation share — the metric-learning health check run before
    * mining contrastive training pairs. Distances are exact decimal
    * sums. Anchor selection is a distributed TakeOrderedAndProject
    * (per-partition top-64, driver merge — no global sort); the
    * candidate join is one corpus pass against the broadcast anchors.
    */
  def tripletMargins(emb: DataFrame, nAnchors: Int = 64): DataFrame = {
    // Absolute anchor budget: md5-ordered top-N over the un-exploded id
    // set (one row per vector), picked via orderBy+limit → Spark plans
    // TakeOrderedAndProject, never a single-partition window.
    val anchorIds = emb
      .select(col("vec_id"),
        md5(col("vec_id").cast("string").cast("binary")).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(nAnchors)
      .select(col("vec_id").as("aid"))
    val anchors = emb.join(broadcast(anchorIds), col("vec_id") === col("aid"))
      .select(col("aid"), col("label").as("alabel"),
        col("embedding").as("aemb"))
    // one corpus pass × broadcast anchor ARRAYS: the distance is a
    // codegen'd zip_with fold (VecDist), value-identical to the exploded
    // per-dim decimal sum but with no dims-explode shuffle
    val d2 = emb.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("aid"))
      .select(col("vec_id"), col("label"), col("aid"), col("alabel"),
        squared_l2(col("embedding"), col("aemb")).as("d2"))
    val perAnchor = d2.groupBy("aid", "alabel").agg(
      min(when(col("label") === col("alabel"), col("d2"))).as("dpos"),
      min(when(col("label") =!= col("alabel"), col("d2"))).as("dneg"))
    perAnchor
      .filter(col("dpos").isNotNull && col("dneg").isNotNull)
      .withColumn("margin", col("dneg") - col("dpos"))
      .groupBy(col("alabel").cast("long").as("label"))
      .agg(count(lit(1)).as("n_anchors"),
        // margins are deterministic doubles (ordered-fold distances);
        // the cross-anchor sum is dec-cast for order independence
        round((sum(dec(col("margin"), 9)).cast("double") / count(lit(1))), 6)
          .as("mean_margin"),
        round(min(col("margin")), 6).as("min_margin"),
        sum((col("margin") <= 0).cast("long")).as("n_violations"))
      .orderBy("label")
  }

  // Whole-array distance folds (list_zip), NOT a per-dim explode: the
  // previous x⋈anchors USING (dim) materialized |vecs|·dims·anchors rows
  // plus per-group list() buffers — past the checker's 48 GB budget at
  // sf1. The fold runs in the same dim order over the same doubles, so
  // every d2 is bit-identical.
  private val tripletOracle = """
    WITH anchor_ids AS (
      SELECT vec_id AS aid FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
    anchors AS MATERIALIZED (
      SELECT e.vec_id AS aid, e.label AS alabel, e.embedding AS aemb
      FROM embeddings e JOIN anchor_ids a ON e.vec_id = a.aid),
    d2 AS MATERIALIZED (
      SELECT x.vec_id, x.label, a.aid, a.alabel,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(list_zip(x.embedding, a.aemb),
            p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
               * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
          (acc, v) -> acc + v) AS d2
      FROM embeddings x JOIN anchors a ON x.vec_id <> a.aid),
    per_anchor AS (
      SELECT aid, alabel,
        MIN(CASE WHEN label = alabel THEN d2 END) AS dpos,
        MIN(CASE WHEN label <> alabel THEN d2 END) AS dneg
      FROM d2 GROUP BY 1, 2)
    SELECT CAST(alabel AS BIGINT) AS label, COUNT(*) AS n_anchors,
      ROUND(CAST(SUM(CAST(dneg - dpos AS DECIMAL(18,9))) AS DOUBLE)
        / COUNT(*), 6) AS mean_margin,
      ROUND(MIN(dneg - dpos), 6) AS min_margin,
      CAST(SUM(CAST(dneg - dpos <= 0 AS BIGINT)) AS BIGINT) AS n_violations
    FROM per_anchor
    WHERE dpos IS NOT NULL AND dneg IS NOT NULL
    GROUP BY 1 ORDER BY label"""

  // ---------------------------------------------------------------- q291

  /** Product quantization (Jégou et al. 2011) codebook training audit:
    * the 64-dim space splits into two 32-dim subspaces, each learns a
    * 4-code codebook by one deterministic Lloyd round (seeds = the
    * subvectors of vec_id 1..4, the q182 convention), vectors re-assign
    * against the trained books, and the report gives per-cell occupancy
    * and quantization error — the audit behind every IVF-PQ vector
    * index (2 bytes/vector here vs 256, a 128× compression). All
    * distances/means are exact decimal sums; assignment ties break by
    * code id. Each phase is one corpus pass against a broadcast
    * codebook (8 codes × 32 dims).
    */
  def productQuantization(emb: DataFrame): DataFrame = {
    // Whole-half-array assignments: each vector carries its two 32-dim
    // subspace halves as arrays, and an assignment round folds the exact
    // DECIMAL(18,10)/(28,10) squared distance against the 4 broadcast
    // codewords per subspace in ONE narrow pass — the previous shape
    // joined a |vecs|·dims exploded frame against the codebook (a 4x row
    // multiplication) and ranked with a per-(vec,m) window, twice. Only
    // the codebook RE-ESTIMATE still explodes dims (per-dim bin50 means
    // need a per-dimension group), one pass instead of four.
    val halves = emb.select(col("vec_id"), explode(expr(
        """array(named_struct('m', 1, 'h', slice(embedding, 1, 32)),
          |      named_struct('m', 2, 'h', slice(embedding, 33, 32)))"""
          .stripMargin)).as("p"))
      .select(col("vec_id"), col("p.m").as("m"), col("p.h").as("h"))
      .localCheckpoint() // reused: 2 assignments + book re-estimate
    // book rows: (m, cid, cv: array<double> in subspace-local dim order).
    // The per-candidate distance is the native QuantizedSqDist expression
    // — bit-identical to the former interpreted aggregate(zip_with(...))
    // decimal fold (same per-term CAST AS DECIMAL(18,10) quantization,
    // exact sum), but a generated long-accumulating loop instead of
    // boxed per-element BigDecimal churn (that fold was ~80% of q291's
    // sf1 runtime across the two assignment passes).
    def assign(book: DataFrame): DataFrame =
      halves.join(broadcast(
          book.groupBy("m").agg(collect_list(struct(col("cid"), col("cv")))
            .as("cands"))), "m")
        .select(col("vec_id"), col("m"),
          // array_sort on (d2, cid) structs = the row_number(d2, cid) pick
          element_at(array_sort(transform(col("cands"), s =>
            struct(
              graft.functions.QuantizedSqDist
                .quantized_sq_dist(col("h"), s.getField("cv")).as("d2"),
              s.getField("cid").as("cid")))), 1)
          .as("best"))
        .select(col("vec_id"), col("m"),
          col("best.cid").as("cid"), col("best.d2").as("d2"))

    val seeds = halves.filter(col("vec_id").between(1, 4))
      .select(col("m"), col("vec_id").cast("int").as("cid"),
        expr("transform(h, x -> CAST(x AS DOUBLE))").as("cv"))
    val a1 = assign(seeds)
    // Codebook re-estimate as ONE whole-array pass: quantize each half to
    // bin50 fixed-point (identical rounding to the former per-dim
    // sum(bin50(xv)) — same double*2^50 → decimal cast) and sum
    // element-wise with the exact 128-bit vec_sum_dec aggregate, then
    // divide per dim through the split-double macro. Replaces the
    // |vecs|×32 posexplode + groupBy(m,cid,dim0) — the last per-dim
    // explode this operator had — with a |vecs|-row aggregate whose
    // shuffle is 8 codes × one 32-wide buffer.
    val book1 = a1.select("vec_id", "m", "cid")
      .join(halves, Seq("vec_id", "m"))
      .groupBy("m", "cid")
      .agg(graft.functions.VectorSumAgg.vec_sum_dec(expr(
          "transform(h, x -> CAST(CAST(x AS DOUBLE) * 1.125899906842624e15 AS DECIMAL(18,0)))"))
          .as("cs"),
        count(lit(1)).as("cm"))
      .select(col("m"), col("cid"),
        expr(s"transform(cs, s -> ${graft.Num.bin50MeanSql("s", "cm")})").as("cv"))
      .localCheckpoint() // 8 codes × 32-dim arrays; reused by assign + report
    val a2 = assign(book1)
    a2.groupBy(col("m").as("subspace"), col("cid").as("code"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("d2")).cast("double") / count(lit(1)), 6).as("avg_d2"))
      .join(book1 // first dim of each half
          .select(col("m").as("subspace"), col("cid").as("code"),
            round(element_at(col("cv"), 1), 6).as("c_dim1")),
        Seq("subspace", "code"))
      .select(col("subspace").cast("long").as("subspace"),
        col("code").cast("long").as("code"), col("n_members"),
        col("avg_d2"), col("c_dim1"))
      .orderBy("subspace", "code")
  }

  private val pqOracle = s"""
    WITH x AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        CAST(unnest(embedding) AS DOUBLE) AS xv,
        CASE WHEN generate_subscripts(embedding, 1) <= 32 THEN 1 ELSE 2 END
          AS m
      FROM embeddings),
    seeds AS MATERIALIZED (
      SELECT m, dim, CAST(vec_id AS INT) AS cid, xv AS cv
      FROM x WHERE vec_id BETWEEN 1 AND 4),
    d1 AS MATERIALIZED (
      SELECT x.vec_id, x.m, s.cid,
        SUM(CAST((x.xv - s.cv) * (x.xv - s.cv) AS DECIMAL(18,10))) AS d2
      FROM x JOIN seeds s ON x.m = s.m AND x.dim = s.dim
      GROUP BY 1, 2, 3),
    a1 AS MATERIALIZED (
      SELECT vec_id, m, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
          ORDER BY d2, cid) AS rn
        FROM d1) WHERE rn = 1),
    book1 AS MATERIALIZED (
      SELECT m, cid, dim, ${graft.Num.bin50MeanDuck("cs", "cm")} AS cv FROM (
        SELECT x.m, a.cid, x.dim,
          SUM(CAST(x.xv * 1.125899906842624e15 AS HUGEINT)) AS cs,
          COUNT(*) AS cm
        FROM a1 a JOIN x ON a.vec_id = x.vec_id AND a.m = x.m
        GROUP BY 1, 2, 3)),
    d2r AS MATERIALIZED (
      SELECT x.vec_id, x.m, b.cid,
        SUM(CAST((x.xv - b.cv) * (x.xv - b.cv) AS DECIMAL(18,10))) AS d2
      FROM x JOIN book1 b ON x.m = b.m AND x.dim = b.dim
      GROUP BY 1, 2, 3),
    a2 AS MATERIALIZED (
      SELECT vec_id, m, cid, d2 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
          ORDER BY d2, cid) AS rn
        FROM d2r) WHERE rn = 1)
    SELECT CAST(a.m AS BIGINT) AS subspace, CAST(a.cid AS BIGINT) AS code,
      COUNT(*) AS n_members,
      ROUND(CAST(SUM(a.d2) AS DOUBLE) / COUNT(*), 6) AS avg_d2,
      ROUND(MAX(b.cv), 6) AS c_dim1
    FROM a2 a JOIN book1 b ON a.m = b.m AND a.cid = b.cid
      AND b.dim = CASE WHEN a.m = 1 THEN 1 ELSE 33 END
    GROUP BY 1, 2 ORDER BY subspace, code"""

  // ------------------------------------------------------------ queries

  // ---------------------------------------------------------------- q332

  /** Embedding-space anisotropy audit (Ethayarajh 2019 / Mu & Viswanath
    * 2018): the mean pairwise cosine of the whole corpus, computed in
    * ONE pass via the Gram identity  Σᵢⱼ v̂ᵢ·v̂ⱼ = ‖Σᵢ v̂ᵢ‖², so the
    * n²-pair statistic costs one per-dim decimal sum. Unit-norm vectors
    * have ‖v̂‖² = 1 up to <1e-12 float error — the identity treats the
    * diagonal as exactly n on BOTH engines, so the tiny bias is shared
    * and the comparison is exact. High mean cosine = a collapsed /
    * anisotropic embedding space (embeddings occupy a narrow cone).
    */
  def anisotropy(emb: DataFrame): DataFrame = {
    val x = explodeDims(emb)
    val norms = x.groupBy("vec_id")
      .agg(sum(dec(col("xv") * col("xv"), 10)).as("n2"))
    val unit = x.join(norms, "vec_id")
      .select(col("dim"), (col("xv") / sqrt(col("n2").cast("double"))).as("u"))
    val dims = unit.groupBy("dim")
      .agg(sum(dec(col("u"), 12)).as("sd"), count(lit(1)).as("n"))
    dims.agg(max("n").as("n"),
        sum(expr("CAST(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) AS DECIMAL(38,12))"))
          .as("s"))
      .select(col("n").as("n_vecs"),
        round(expr("(CAST(s AS DOUBLE) - n) / (CAST(n AS DOUBLE) * (n - 1))"), 6)
          .as("mean_pairwise_cos"),
        round(expr("sqrt(CAST(s AS DOUBLE)) / n"), 6).as("mean_vector_norm"))
  }

  private val anisotropyOracle = """
    WITH x AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        CAST(unnest(embedding) AS DOUBLE) AS xv
      FROM embeddings),
    norms AS (
      SELECT vec_id, SUM(CAST(xv * xv AS DECIMAL(18,10))) AS n2
      FROM x GROUP BY 1),
    unitv AS (
      SELECT dim, x.xv / sqrt(CAST(n2 AS DOUBLE)) AS u
      FROM x JOIN norms USING (vec_id)),
    dims AS (
      SELECT dim, SUM(CAST(u AS DECIMAL(18,12))) AS sd, COUNT(*) AS n
      FROM unitv GROUP BY 1),
    agg AS (
      SELECT CAST(MAX(n) AS BIGINT) AS n,
        SUM(CAST(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) AS DECIMAL(38,12)))
          AS s
      FROM dims)
    SELECT n AS n_vecs,
      ROUND((CAST(s AS DOUBLE) - n) / (CAST(n AS DOUBLE) * (n - 1)), 6)
        AS mean_pairwise_cos,
      ROUND(sqrt(CAST(s AS DOUBLE)) / n, 6) AS mean_vector_norm
    FROM agg"""

  // ---------------------------------------------------------------- q341

  /** Contrastive-representation alignment & uniformity (Wang & Isola
    * 2020): alignment = mean ‖û−v̂‖² over positive pairs (same label,
    * consecutive by vec_id — a deterministic linear-size sample of the
    * quadratic pair set), uniformity = ln of the mean of exp(−2‖û−v̂‖²)
    * over label-agnostic pairs (consecutive in md5 order — the portable
    * shuffled sample). ‖û−v̂‖² = 2 − 2·cos via per-pair decimal dot
    * sums of unit components; both statistics are decimal-cast sums of
    * deterministic doubles. Low alignment + low (more negative)
    * uniformity = the healthy contrastive regime.
    */
  def alignmentUniformity(emb: DataFrame): DataFrame = {
    val x = explodeDims(emb)
    val norms = x.groupBy("vec_id")
      .agg(sum(dec(col("xv") * col("xv"), 10)).as("n2"))
    val unit = x.join(norms, "vec_id")
      .select(col("vec_id"), col("label"), col("dim"),
        (col("xv") / sqrt(col("n2").cast("double"))).as("u"))
      .localCheckpoint() // reused by both pairings
    def pairD2(ranked: DataFrame): DataFrame = {
      // rank established upstream; pair 2k-1 <-> 2k
      val lhs = ranked.filter(col("rk") % 2 === 1)
        .select((col("rk") + 1).as("rk2"), col("vec_id").as("a"))
      val rhs = ranked.filter(col("rk") % 2 === 0)
        .select(col("rk").as("rk2"), col("vec_id").as("b"))
      val pairs = lhs.join(rhs, "rk2").select("a", "b")
      pairs.join(unit.select(col("vec_id").as("a"), col("dim"),
          col("u").as("ua")), "a")
        .join(unit.select(col("vec_id").as("b"), col("dim"),
          col("u").as("ub")), Seq("b", "dim"))
        .groupBy("a", "b")
        .agg(sum(dec(col("ua") * col("ub"), 12)).as("dot"))
        .select((lit(2.0) - lit(2.0) * col("dot").cast("double")).as("d2"))
    }
    // both rankings distribute via the two-level bucket decomposition:
    // the per-label rank partitions by (label, vec_id DIV 65536); the
    // shuffled rank buckets on the md5 hex prefix (a prefix of the
    // leading sort key) — rk identical to the flat windows the oracle
    // keeps
    val ids = emb.select(col("vec_id"), col("label"))
    val posRank = Dist.withRowNumber(ids,
      expr("vec_id DIV 65536"), Seq(col("vec_id")), "rk",
      partition = Seq("label"))
      .withColumn("rk", col("rk").cast("long"))
      .withColumn("rk",
        // make ranks globally unique per label block: label * 2^40 + rk
        col("label").cast("long") * lit(1099511627776L) + col("rk"))
    val posD2 = pairD2(posRank)
    val rndRank = Dist.withRowNumber(
      ids.withColumn("h", md5(col("vec_id").cast("string").cast("binary"))),
      substring(col("h"), 1, 3), Seq(col("h"), col("vec_id")), "rk")
      .withColumn("rk", col("rk").cast("long"))
    val rndD2 = pairD2(rndRank)
    val align = posD2.agg(count(lit(1)).as("n_pos_pairs"),
      sum(dec(col("d2"), 12)).as("sa"))
    val unif = rndD2.agg(count(lit(1)).as("n_rand_pairs"),
      sum(dec(exp(lit(-2.0) * col("d2")), 12)).as("se"))
    align.crossJoin(broadcast(unif))
      .select(col("n_pos_pairs"),
        round(expr("CAST(sa AS DOUBLE) / n_pos_pairs"), 6).as("alignment"),
        col("n_rand_pairs"),
        round(expr("ln(CAST(se AS DOUBLE) / n_rand_pairs)"), 6)
          .as("uniformity"))
  }

  private val alignUnifOracle = """
    WITH x AS MATERIALIZED (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
        CAST(unnest(embedding) AS DOUBLE) AS xv
      FROM embeddings),
    norms AS (
      SELECT vec_id, SUM(CAST(xv * xv AS DECIMAL(18,10))) AS n2
      FROM x GROUP BY 1),
    unitv AS MATERIALIZED (
      SELECT x.vec_id, x.label, dim, x.xv / sqrt(CAST(n2 AS DOUBLE)) AS u
      FROM x JOIN norms USING (vec_id)),
    pos_rank AS (
      SELECT vec_id,
        CAST(label AS BIGINT) * 1099511627776
          + ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rk
      FROM embeddings),
    pos_pairs AS (
      SELECT l.vec_id AS a, r.vec_id AS b
      FROM (SELECT rk + 1 AS rk2, vec_id FROM pos_rank WHERE rk % 2 = 1) l
      JOIN (SELECT rk AS rk2, vec_id FROM pos_rank WHERE rk % 2 = 0) r
        USING (rk2)),
    rnd_rank AS (
      SELECT vec_id,
        CAST(ROW_NUMBER() OVER
          (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rk
      FROM embeddings),
    rnd_pairs AS (
      SELECT l.vec_id AS a, r.vec_id AS b
      FROM (SELECT rk + 1 AS rk2, vec_id FROM rnd_rank WHERE rk % 2 = 1) l
      JOIN (SELECT rk AS rk2, vec_id FROM rnd_rank WHERE rk % 2 = 0) r
        USING (rk2)),
    pos_d2 AS (
      SELECT 2.0 - 2.0 * CAST(SUM(CAST(ua.u * ub.u AS DECIMAL(18,12)))
          AS DOUBLE) AS d2
      FROM pos_pairs p
      JOIN unitv ua ON p.a = ua.vec_id
      JOIN unitv ub ON p.b = ub.vec_id AND ua.dim = ub.dim
      GROUP BY p.a, p.b),
    rnd_d2 AS (
      SELECT 2.0 - 2.0 * CAST(SUM(CAST(ua.u * ub.u AS DECIMAL(18,12)))
          AS DOUBLE) AS d2
      FROM rnd_pairs p
      JOIN unitv ua ON p.a = ua.vec_id
      JOIN unitv ub ON p.b = ub.vec_id AND ua.dim = ub.dim
      GROUP BY p.a, p.b),
    al AS (
      SELECT COUNT(*) AS n_pos_pairs,
        SUM(CAST(d2 AS DECIMAL(18,12))) AS sa
      FROM pos_d2),
    un AS (
      SELECT COUNT(*) AS n_rand_pairs,
        SUM(CAST(exp(-2.0 * d2) AS DECIMAL(18,12))) AS se
      FROM rnd_d2)
    SELECT n_pos_pairs,
      ROUND(CAST(sa AS DOUBLE) / n_pos_pairs, 6) AS alignment,
      n_rand_pairs,
      ROUND(ln(CAST(se AS DOUBLE) / n_rand_pairs), 6) AS uniformity
    FROM al, un"""

  // ---------------------------------------------------------------- q404

  /** Linear-time MMD² (Gretton's streaming estimator) between the two
    * label-parity halves of the embedding corpus: a "did these two
    * sources come from the same distribution" test that needs ONE pass
    * and O(n) kernel evaluations, not the O(n²) of the full U-statistic
    * — the scale path for distribution-shift checks at 100 TB. Vectors
    * are unit-normalized (q341's machinery), pairs are md5-deterministic
    * within each half, each quadruple contributes
    * h = k(x,x′)+k(y,y′)−k(x,y′)−k(x′,y) with the RBF kernel
    * exp(−‖a−b‖²) on units, and every cross-row sum of kernel doubles
    * goes through decimal(18,12) casts so partition order cannot move
    * the result.
    */
  def mmdLinear(emb: DataFrame): DataFrame = {
    val x = explodeDims(emb)
    val norms = x.groupBy("vec_id")
      .agg(sum(dec(col("xv") * col("xv"), 10)).as("n2"))
    val unit = x.join(norms, "vec_id")
      .select(col("vec_id"), col("dim"),
        (col("xv") / sqrt(col("n2").cast("double"))).as("u"))
      .localCheckpoint()
    val ids = emb.select(col("vec_id"), (col("label") % 2).as("g"))
      .withColumn("rk", row_number().over(Window.partitionBy("g")
        .orderBy(md5(col("vec_id").cast("string").cast("binary")),
          col("vec_id"))).cast("long"))
      .withColumn("i", expr("(rk + 1) DIV 2"))
      .withColumn("pos", col("rk") % 2)
    def pairsOf(gv: Int, an: String, bn: String) =
      ids.filter(col("g") === gv).groupBy("i")
        .agg(max(when(col("pos") === 1, col("vec_id"))).as(an),
          max(when(col("pos") === 0, col("vec_id"))).as(bn))
        .filter(col(an).isNotNull && col(bn).isNotNull)
    val quads = pairsOf(0, "xa", "xb").join(pairsOf(1, "ya", "yb"), "i")
    val pairsLong = quads.select(col("i"), explode(expr(
        "array(named_struct('kind', 'kxx', 'l', xa, 'r', xb)," +
          " named_struct('kind', 'kyy', 'l', ya, 'r', yb)," +
          " named_struct('kind', 'kxy1', 'l', xa, 'r', yb)," +
          " named_struct('kind', 'kxy2', 'l', xb, 'r', ya))")).as("p"))
      .select(col("i"), col("p.kind").as("kind"),
        col("p.l").as("a"), col("p.r").as("b"))
    val kvals = pairsLong
      .join(unit.select(col("vec_id").as("a"), col("dim"), col("u").as("ua")), "a")
      .join(unit.select(col("vec_id").as("b"), col("dim"), col("u").as("ub")),
        Seq("b", "dim"))
      .groupBy("i", "kind")
      .agg(sum(dec(col("ua") * col("ub"), 12)).as("dot"))
      .select(col("i"), col("kind"),
        exp(lit(2.0) * col("dot").cast("double") - lit(2.0)).as("k"))
    val h = kvals.groupBy("i").agg(
      (max(when(col("kind") === "kxx", col("k")))
        + max(when(col("kind") === "kyy", col("k")))
        - max(when(col("kind") === "kxy1", col("k")))
        - max(when(col("kind") === "kxy2", col("k")))).as("h"))
    h.agg(count(lit(1)).as("m"), sum(dec(col("h"), 12)).as("sh"))
      .select(col("m"),
        round(expr("CAST(sh AS DOUBLE) / m"), 6).as("mmd2_linear"))
  }

  private val mmdOracle = """
    WITH x AS MATERIALIZED (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
        CAST(unnest(embedding) AS DOUBLE) AS xv
      FROM embeddings),
    norms AS (
      SELECT vec_id, SUM(CAST(xv * xv AS DECIMAL(18,10))) AS n2
      FROM x GROUP BY 1),
    unitv AS MATERIALIZED (
      SELECT x.vec_id, dim, x.xv / sqrt(CAST(n2 AS DOUBLE)) AS u
      FROM x JOIN norms USING (vec_id)),
    ids AS (
      SELECT vec_id, label % 2 AS g,
        CAST(ROW_NUMBER() OVER (PARTITION BY label % 2
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rk
      FROM embeddings),
    ids2 AS (
      SELECT vec_id, g, (rk + 1) // 2 AS i, rk % 2 AS pos FROM ids),
    xp AS (
      SELECT i, MAX(CASE WHEN pos = 1 THEN vec_id END) AS xa,
        MAX(CASE WHEN pos = 0 THEN vec_id END) AS xb
      FROM ids2 WHERE g = 0 GROUP BY i
      HAVING MAX(CASE WHEN pos = 1 THEN vec_id END) IS NOT NULL
         AND MAX(CASE WHEN pos = 0 THEN vec_id END) IS NOT NULL),
    yp AS (
      SELECT i, MAX(CASE WHEN pos = 1 THEN vec_id END) AS ya,
        MAX(CASE WHEN pos = 0 THEN vec_id END) AS yb
      FROM ids2 WHERE g = 1 GROUP BY i
      HAVING MAX(CASE WHEN pos = 1 THEN vec_id END) IS NOT NULL
         AND MAX(CASE WHEN pos = 0 THEN vec_id END) IS NOT NULL),
    quads AS (SELECT xp.i, xa, xb, ya, yb FROM xp JOIN yp USING (i)),
    pl AS (
      SELECT i, 'kxx' AS kind, xa AS a, xb AS b FROM quads
      UNION ALL SELECT i, 'kyy', ya, yb FROM quads
      UNION ALL SELECT i, 'kxy1', xa, yb FROM quads
      UNION ALL SELECT i, 'kxy2', xb, ya FROM quads),
    kv AS (
      SELECT i, kind,
        exp(2.0 * CAST(SUM(CAST(ua.u * ub.u AS DECIMAL(18,12))) AS DOUBLE)
            - 2.0) AS k
      FROM pl
      JOIN unitv ua ON pl.a = ua.vec_id
      JOIN unitv ub ON pl.b = ub.vec_id AND ua.dim = ub.dim
      GROUP BY i, kind),
    hs AS (
      SELECT i,
        MAX(CASE WHEN kind = 'kxx' THEN k END)
        + MAX(CASE WHEN kind = 'kyy' THEN k END)
        - MAX(CASE WHEN kind = 'kxy1' THEN k END)
        - MAX(CASE WHEN kind = 'kxy2' THEN k END) AS h
      FROM kv GROUP BY i)
    SELECT COUNT(*) AS m,
      ROUND(CAST(SUM(CAST(h AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 6)
        AS mmd2_linear
    FROM hs"""

  override def queries: Seq[Q] = Seq(
    Q("q404_mmd_linear",
      (s, d) => mmdLinear(embeddings(s, d)), Some(mmdOracle)),
    Q("q341_alignment_uniformity",
      (s, d) => alignmentUniformity(embeddings(s, d)), Some(alignUnifOracle)),
    Q("q332_anisotropy",
      (s, d) => anisotropy(embeddings(s, d)), Some(anisotropyOracle)),
    Q("q279_kcenter_seeds",
      (s, d) => kcenterSeeds(s, embeddings(s, d)), Some(kcenterOracle)),
    Q("q280_mahalanobis",
      (s, d) => mahalanobisOutliers(embeddings(s, d)), Some(mahalanobisOracle)),
    Q("q290_triplet_margins",
      (s, d) => tripletMargins(embeddings(s, d)), Some(tripletOracle)),
    Q("q291_product_quantization",
      (s, d) => productQuantization(embeddings(s, d)), Some(pqOracle)),
  )
}
