package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Tables._
import graft.Num.{dec, osum}

/** Embedding-representation audits, round 8 of the extension surface
  * (none exist in the reference): linear CKA (centered kernel
  * alignment, Kornblith et al. ICML'19) between two views of the
  * embedding space, and maximal-marginal-relevance greedy selection
  * (Carbonell & Goldstein SIGIR'98) — the diversity-aware subset
  * selector a curation pipeline uses where pure top-k by relevance
  * returns near-duplicates.
  *
  * Exactness: cross-moment sums are per-term DECIMAL casts (exact,
  * order-free); the 32×32 Gram reductions and all cosines are ordered
  * double folds whose DuckDB twins perform the bit-identical IEEE add
  * sequence (the VecDist.d2Fold discipline). Scale: CKA is one
  * corpus pass producing a dims²-row frame (map-side combined);
  * each MMR round touches the corpus once against a ≤k-row broadcast
  * selected set (the q279 k-center shape).
  */
object Represent extends QueryModule {

  // ---------------------------------------------------------------- q348

  /** Linear CKA between the first and second 32-dim halves of the
    * embedding: CKA = ‖XcᵀYc‖²_F / (‖XcᵀXc‖_F · ‖YcᵀYc‖_F) with
    * columns centered. Per-dim means are exact-decimal sums divided
    * once in double (the gmmEm discipline — bit-identical on both
    * engines); every centered cross-moment C_ij is a per-term
    * DECIMAL(18,6) sum (exact, order-free, < 2^53 unscaled at every
    * graded SF — no decimal→double ulp hazard); the three Frobenius
    * reductions are ordered double folds over the (i,j) lattice.
    */
  def linearCka(emb: DataFrame): DataFrame = {
    val half = 32
    val dims = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d0", "v")))
      .select(col("vec_id"), col("d0"), col("v").cast("double").as("v"))
      .localCheckpoint()
    val n = emb.agg(count(lit(1)).as("n"))
    val means = dims.groupBy("d0")
      .agg(sum(dec(col("v"), 6)).cast("decimal(28,6)").as("s"),
        count(lit(1)).as("cnt"))
      .select(col("d0"),
        (col("s").cast("double") / col("cnt").cast("double")).as("m"))
    val cent = dims.join(broadcast(means), "d0")
      .select(col("vec_id"), col("d0"), (col("v") - col("m")).as("cv"))
    val xc = cent.filter(col("d0") < half)
      .select(col("vec_id"), (col("d0") + 1).as("i"), col("cv").as("xc"))
    val yc = cent.filter(col("d0") >= half)
      .select(col("vec_id"), (col("d0") - half + 1).as("j"),
        col("cv").as("yc"))
    def gram(a: DataFrame, b: DataFrame, tag: String) =
      a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(sum(dec(col("va") * col("vb"), 6)).cast("decimal(28,6)")
          .as("s"))
        .select(lit(tag).as("g"), col("i"), col("j"),
          col("s").cast("double").as("c"))
    val xa = xc.select(col("vec_id"), col("i"), col("xc").as("va"))
    val ya = yc.select(col("vec_id"), col("j"), col("yc").as("vb"))
    val gxy = gram(xa, ya, "xy")
    val gxx = gram(xa,
      xc.select(col("vec_id"), col("i").as("j"), col("xc").as("vb")), "xx")
    val gyy = gram(
      yc.select(col("vec_id"), col("j").as("i"), col("yc").as("va")),
      ya, "yy")
    val frob = gxy.unionAll(gxx).unionAll(gyy).groupBy("g")
      .agg(osum(col("c") * col("c"), col("i"), col("j")).as("f2"))
    frob.groupBy()
      .pivot("g", Seq("xy", "xx", "yy")).agg(first("f2"))
      .crossJoin(n)
      .select(col("n"),
        round(expr("xy / sqrt(xx * yy)"), 6).as("cka"),
        round(expr("sqrt(xy)"), 4).as("hsic_scaled"))
  }

  private val ckaOracle = """
    WITH dims AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d0,
        CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    nn AS (SELECT COUNT(*) AS n FROM embeddings),
    means AS MATERIALIZED (
      SELECT d0,
        CAST(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DECIMAL(28,6))
          AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m
      FROM dims GROUP BY 1),
    cent AS MATERIALIZED (
      SELECT d.vec_id, d.d0, d.v - mm.m AS cv
      FROM dims d JOIN means mm USING (d0)),
    xc AS MATERIALIZED (
      SELECT vec_id, d0 + 1 AS i, cv AS xc FROM cent WHERE d0 < 32),
    yc AS MATERIALIZED (
      SELECT vec_id, d0 - 31 AS j, cv AS yc FROM cent WHERE d0 >= 32),
    gxy AS (
      SELECT 'xy' AS g, a.i, b.j,
        CAST(CAST(SUM(CAST(a.xc * b.yc AS DECIMAL(18,6)))
          AS DECIMAL(28,6)) AS DOUBLE) AS c
      FROM xc a JOIN yc b USING (vec_id) GROUP BY 1, 2, 3),
    gxx AS (
      SELECT 'xx' AS g, a.i, b.i AS j,
        CAST(CAST(SUM(CAST(a.xc * b.xc AS DECIMAL(18,6)))
          AS DECIMAL(28,6)) AS DOUBLE) AS c
      FROM xc a JOIN xc b USING (vec_id) GROUP BY 1, 2, 3),
    gyy AS (
      SELECT 'yy' AS g, a.j AS i, b.j,
        CAST(CAST(SUM(CAST(a.yc * b.yc AS DECIMAL(18,6)))
          AS DECIMAL(28,6)) AS DOUBLE) AS c
      FROM yc a JOIN yc b USING (vec_id) GROUP BY 1, 2, 3),
    grams AS (
      SELECT * FROM gxy UNION ALL SELECT * FROM gxx
      UNION ALL SELECT * FROM gyy),
    frob AS MATERIALIZED (
      SELECT g,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(c * c ORDER BY i, j)), (acc, v) -> acc + v) AS f2
      FROM grams GROUP BY g)
    SELECT nn.n,
      ROUND(xy.f2 / sqrt(xx.f2 * yy.f2), 6) AS cka,
      ROUND(sqrt(xy.f2), 4) AS hsic_scaled
    FROM (SELECT f2 FROM frob WHERE g = 'xy') xy,
         (SELECT f2 FROM frob WHERE g = 'xx') xx,
         (SELECT f2 FROM frob WHERE g = 'yy') yy, nn"""

  // ---------------------------------------------------------------- q352

  /** Maximal marginal relevance, k=5, λ=0.7: relevance = cosine to the
    * per-dim-mean centroid; the greedy pick maximizes λ·rel −
    * (1−λ)·max_{s∈S} cos(x, s). Each round is one corpus pass against
    * the ≤k broadcast selected vectors; cosines are ordered double
    * folds (dim order) on both engines, ties break by vec_id. The
    * canonical diversity-aware selection for few-shot example pools
    * and dedup-adjacent retrieval.
    */
  def mmrSelect(spark: SparkSession, emb: DataFrame, k: Int = 5,
      lambda: Double = 0.7): DataFrame = {
    import spark.implicits._
    import graft.functions.CosineSimilarity.cosine_sim
    val base = emb.select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    val cent = base
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d0", "v")))
      .groupBy("d0")
      .agg(sum(dec(col("v").cast("double"), 8)).as("s"),
        count(lit(1)).as("cnt"))
      .select(col("d0"),
        (col("s").cast("double") / col("cnt").cast("double")).as("cv"))
      .orderBy("d0")
      .collect().map(_.getAs[Double]("cv"))
    val centArr = array(cent.toIndexedSeq.map(lit(_)): _*)
    val rel = base
      .withColumn("cemb", centArr)
      .select(col("vec_id"), col("embedding"),
        cosine_sim(col("embedding"), col("cemb")).as("rel"))
      .localCheckpoint()
    var selected = Vector.empty[(Long, Double, Int)] // (id, score, round)
    for (r <- 1 to k) {
      val cand =
        if (selected.isEmpty) rel.withColumn("score", col("rel") * lambda)
        else {
          val sel = rel
            .filter(col("vec_id").isInCollection(selected.map(_._1)))
            .select(col("vec_id").as("sid"), col("embedding").as("semb"))
          rel.filter(!col("vec_id").isInCollection(selected.map(_._1)))
            .crossJoin(broadcast(sel))
            .select(col("vec_id"), col("rel"),
              cosine_sim(col("embedding"), col("semb")).as("sim"))
            .groupBy("vec_id", "rel").agg(max("sim").as("max_sim"))
            .select(col("vec_id"), col("rel"),
              (col("rel") * lambda - col("max_sim") * (1 - lambda))
                .as("score"))
        }
      val best = cand.orderBy(col("score").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("score")).collect()(0)
      selected = selected :+ ((best.getLong(0), best.getDouble(1), r))
    }
    selected.map { case (id, sc, r) => (r.toLong, id, sc) }
      .toDF("round", "vec_id", "mmr_score")
      .select(col("round"), col("vec_id"),
        round(col("mmr_score"), 6).as("mmr_score"))
      .orderBy("round")
  }

  /** The repo's established DuckDB cosine twin of the native
    * `cosine_sim` expression (Similarity.cosSql idiom). */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a) + 1),
          i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, len($a) + 1),
            i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, len($b) + 1),
            i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))"""

  private def mmrOracle(k: Int = 5, lambda: Double = 0.7): String = {
    def roundCte(r: Int): String =
      if (r == 1)
        s"""p1 AS MATERIALIZED (
           |  SELECT 1 AS round, vec_id, rel * $lambda AS score
           |  FROM rel ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
      else {
        val prev = (1 until r).map(i => s"SELECT vec_id FROM p$i")
          .mkString(" UNION ALL ")
        s"""sel$r AS MATERIALIZED (
           |  SELECT r.vec_id, r.emb AS semb FROM rel r
           |  WHERE r.vec_id IN ($prev)),
           |p$r AS MATERIALIZED (
           |  SELECT $r AS round, t.vec_id,
           |    t.rel * $lambda - t.max_sim * ${1 - lambda} AS score
           |  FROM (
           |    SELECT r.vec_id, r.rel,
           |      MAX(${cosSql("r.emb", "s.semb")}) AS max_sim
           |    FROM rel r CROSS JOIN sel$r s
           |    WHERE r.vec_id NOT IN ($prev)
           |    GROUP BY r.vec_id, r.rel) t
           |  ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
      }
    val ctes = (1 to k).map(roundCte).mkString(",\n")
    val unions = (1 to k).map(i => s"SELECT * FROM p$i")
      .mkString(" UNION ALL ")
    s"""
    WITH dimsc AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS d0,
        CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings),
    cent AS MATERIALIZED (
      SELECT list(cv ORDER BY d0) AS cemb FROM (
        SELECT d0,
          CAST(SUM(CAST(v AS DECIMAL(18,8))) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS cv
        FROM dimsc GROUP BY 1)),
    rel AS MATERIALIZED (
      SELECT vec_id, embedding AS emb,
        ${cosSql("embedding", "cemb")} AS rel
      FROM embeddings, cent),
    $ctes
    SELECT CAST(round AS BIGINT) AS round, vec_id,
      ROUND(score, 6) AS mmr_score
    FROM ($unions) ORDER BY round"""
  }

  // ------------------------------------------------------------ queries

  override def queries: Seq[Q] = Seq(
    Q("q348_linear_cka",
      (s, d) => linearCka(embeddings(s, d)), Some(ckaOracle)),
    Q("q352_mmr_select",
      (s, d) => mmrSelect(s, embeddings(s, d)), Some(mmrOracle())),
  )
}
