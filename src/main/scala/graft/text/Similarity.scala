package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{Q, QueryModule}
import graft.Tables._
import graft.Num._

/** Similarity search over an embedding column (SURVEY.md §2.9):
  * brute-force cosine top-k as the exact baseline, and a sign-bit
  * LSH-bucketed variant as the scale path (prunes the candidate set to
  * one bucket of ~1/2^bits of the corpus before scoring; at 100 TB the
  * bucket id is a partition key so a query touches one partition).
  *
  * Dot products use `zip_with`/`aggregate` higher-order functions —
  * sequential fold per row, deterministic, no UDF (stays codegen-friendly
  * and shuffles nothing but the final top-k).
  */
object Similarity extends QueryModule {

  private def normExpr(a: String): Column = expr(
    s"sqrt(aggregate($a, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")

  import graft.functions.CosineSimilarity.cosine_sim

  /** Brute-force cosine top-k against the vec_id=0 query vector: the exact
    * baseline. Broadcast 1-row query side; a single narrow pass + TakeOrdered.
    * The scalar is the codegen'd CosineSimilarity expression (bit-identical
    * to the HOF fold, ~interpreter-free hot loop).
    */
  def knnBruteForce(emb: DataFrame, k: Int = 10): DataFrame =
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(
        emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))))
      .withColumn("cosine", round(cosine_sim(col("embedding"), col("qv")), 6))
      .select("vec_id", "label", "cosine")
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)

  private val knnOracle = """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    s AS (
      SELECT e.vec_id, e.label,
        list_sum(list_transform(range(1, len(e.embedding) + 1),
          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) AS dot,
        sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS en,
        sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
          i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))) AS qn
      FROM embeddings e, q WHERE e.vec_id <> 0)
    SELECT vec_id, label, ROUND(dot / (en * qn), 6) AS cosine
    FROM s ORDER BY cosine DESC, vec_id LIMIT 10"""

  /** Sign-bit bucket id over the first `bits` dimensions: the
    * deterministic LSH partitioner (a fixed-hyperplane random projection).
    */
  private def bucketOf(embCol: String, bits: Int): Column =
    (0 until bits).map { i =>
      when(element_at(col(embCol), i + 1) > lit(0.0f), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def bucketSql(c: String, bits: Int): String =
    (0 until bits).map { i =>
      s"(CASE WHEN $c[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** Bucketed (IVF/LSH-style) approximate nearest neighbors: score only
    * the query's bucket. 4 sign bits => ~1/16 of the corpus scanned.
    */
  def knnBucketed(emb: DataFrame, k: Int = 5, bits: Int = 4): DataFrame = {
    val withBucket = emb.withColumn("bucket", bucketOf("embedding", bits))
    val q = withBucket.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("bucket").as("qbucket"))
    withBucket.filter(col("vec_id") =!= 0)
      .join(broadcast(q), col("bucket") === col("qbucket"))
      .withColumn("cosine", round(cosine_sim(col("embedding"), col("qv")), 6))
      .select("vec_id", "label", "bucket", "cosine")
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Adaptive sign-bit count for the near-dup bucket: enough bits that
    * the EXPECTED bucket holds ~`target` vectors (within-bucket work is
    * quadratic in bucket size, so fixed bits would go quadratic in the
    * corpus as it grows 100×), floored at 8 (the historical width — all
    * test SFs sit below the floor, keeping results scale-stable) and
    * capped at 16 (beyond that, recall loss dominates; shard instead).
    * Mirrored verbatim in the oracle from its own COUNT(*).
    */
  private[text] def adaptiveBits(n: Long, target: Long = 256L): Int =
    math.max(8, math.min(16,
      math.ceil(math.log(math.max(1L, n).toDouble / target) / math.log(2.0)).toInt))

  /** Embedding-cosine near-duplicate pairs (the vector flavor of dedup,
    * SURVEY.md §2.9): candidates restricted to the same sign-bit LSH
    * bucket (cross-bucket near-dups are the documented recall tradeoff,
    * identical in the oracle), then exact cosine >= threshold. At scale
    * the bucket id is the shuffle key — pairs never leave their bucket
    * partition.
    *
    * The bucket WIDTH is adaptive: a 16-bit sign bucket is computed by
    * one codegen'd per-row expression, then masked down to
    * adaptiveBits(count) low bits — the count is a single driver-side
    * planning scalar (the same role AQE statistics play), so expected
    * bucket size stays ~constant as the corpus grows and the
    * within-bucket quadratic term never resurfaces. At the test SFs the
    * mask resolves to the historical 8 bits.
    */
  def embeddingDedupPairs(emb: DataFrame, threshold: Double = 0.4): DataFrame = {
    val bits = adaptiveBits(emb.count())
    val b = emb
      .withColumn("bucket",
        bucketOf("embedding", 16).bitwiseAND(lit((1L << bits) - 1)))
      .select("vec_id", "bucket", "embedding")
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine",
        round(cosine_sim(col("a.embedding"), col("b.embedding")), 6))
      .filter(col("cosine") >= lit(threshold))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  private val embeddingDedupOracle = s"""
    WITH bb AS (
      SELECT GREATEST(8, LEAST(16,
        CAST(CEIL(LOG2(CAST(COUNT(*) AS DOUBLE) / 256.0)) AS INT))) AS bits
      FROM embeddings),
    b AS (
      SELECT vec_id, embedding,
        (${bucketSql("embedding", 16)}) & ((CAST(1 AS BIGINT) << bits) - 1) AS bucket
      FROM embeddings, bb),
    p AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        ROUND(
          list_sum(list_transform(range(1, len(a.embedding) + 1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
           * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
              i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS cosine
      FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= 0.4 ORDER BY vec_a, vec_b"""

  private val knnBucketedOracle = s"""
    WITH b AS (
      SELECT vec_id, label, embedding,
        ${bucketSql("embedding", 4)} AS bucket
      FROM embeddings),
    q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0),
    s AS (
      SELECT e.vec_id, e.label, e.bucket,
        list_sum(list_transform(range(1, len(e.embedding) + 1),
          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) AS dot,
        sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
          i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))) AS en,
        sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
          i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))) AS qn
      FROM b e, q WHERE e.vec_id <> 0 AND e.bucket = q.qbucket)
    SELECT vec_id, label, CAST(bucket AS BIGINT) AS bucket,
      ROUND(dot / (en * qn), 6) AS cosine
    FROM s ORDER BY cosine DESC, vec_id LIMIT 5"""

  /** Per-label embedding statistics: counts, exact-decimal average norm and
    * average first component (a centroid-style reduction).
    */
  def embeddingStats(emb: DataFrame): DataFrame =
    emb.withColumn("norm", normExpr("embedding"))
      .withColumn("dim1", element_at(col("embedding"), 1).cast("double"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vectors"),
        (sum(dec(col("norm"), 8)).cast("double") / count(lit(1))).as("avg_norm"),
        (sum(dec(col("dim1"), 8)).cast("double") / count(lit(1))).as("avg_dim1"),
        min(col("norm")).as("min_norm"),
        max(col("norm")).as("max_norm"))
      .orderBy("label")

  private val embStatsOracle = """
    WITH s AS (
      SELECT label,
        sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
          i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS norm,
        CAST(embedding[1] AS DOUBLE) AS dim1
      FROM embeddings)
    SELECT label, COUNT(*) AS n_vectors,
      CAST(SUM(CAST(norm AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS avg_norm,
      CAST(SUM(CAST(dim1 AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS avg_dim1,
      MIN(norm) AS min_norm, MAX(norm) AS max_norm
    FROM s GROUP BY label ORDER BY label"""

  /** Per-label centroids via the custom `vec_sum_dec`
    * TypedImperativeAggregate (graft.functions.VectorSumDecAgg): one
    * fixed-width buffer per group with partial merge — shuffle is
    * |labels| x 64 values instead of the row x width explosion a
    * posexplode-based mean would shuffle. Per-dim sums accumulate as
    * exact decimal fixed-point (order-independent — the repo's
    * decimal-sum rule; raw double accumulation would depend on
    * partition-merge order and only match the oracle while round(...,6)
    * masks ULP noise). Output in long form (label, dim, centroid).
    */
  def labelCentroids(emb: DataFrame): DataFrame = {
    import graft.functions.VectorSumAgg.vec_sum_dec
    val agg = emb.groupBy("label")
      .agg(vec_sum_dec(expr(
          "transform(cast(embedding as array<double>), x -> cast(x as decimal(18,8)))"))
          .as("vsum"),
        count(lit(1)).as("n_vectors"))
    agg.select(col("label"), col("n_vectors"),
        posexplode(col("vsum")).as(Seq("dim0", "s")))
      .select(col("label"), (col("dim0") + 1).cast("long").as("dim"),
        col("n_vectors"),
        round(col("s").cast("double") / col("n_vectors"), 6).as("centroid"))
      .orderBy("label", "dim")
  }

  private val centroidsOracle = """
    WITH u AS (
      SELECT label,
        unnest(range(1, len(embedding) + 1)) AS dim,
        unnest(list_transform(embedding,
          x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(18,8)))) AS v
      FROM embeddings)
    SELECT label, CAST(dim AS BIGINT) AS dim, COUNT(*) AS n_vectors,
      ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS centroid
    FROM u GROUP BY label, dim ORDER BY label, dim"""

  /** IVF with a deterministic flat quantizer: the first `cells` vectors
    * (vec_id 1..cells) serve as fixed coarse centroids; every vector is
    * assigned to its max-cosine centroid (tiebreak: lowest centroid id)
    * and a query probes only its own cell. Unlike the KMeans variant
    * (q39, solver-dependent ⇒ rows-only) this assignment is pure
    * relational algebra, so the whole inverted-file layout is
    * oracle-checked. Scale shape: centroid table broadcasts (it is tiny
    * by construction), assignment is an N x cells scored join pruned to
    * argmax per row; at 100 TB the cell id becomes the partition key.
    */
  def knnIvfFlat(emb: DataFrame, k: Int = 10, cells: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = emb.filter(col("vec_id").between(1, cells))
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))
    val wA = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cent_id"))
    // localCheckpoint: `assigned` feeds both the broadcast query side and
    // the probe side — without it the full N x cells scoring pass and its
    // window shuffle would execute twice
    val assigned = emb.crossJoin(broadcast(cents))
      .withColumn("csim", cosine_sim(col("embedding"), col("cv")))
      .withColumn("rk", row_number().over(wA))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("label"), col("embedding"),
        col("cent_id").as("cell"))
      .localCheckpoint()
    val q = assigned.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("cell").as("qcell"))
    assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(q), col("cell") === col("qcell"))
      .withColumn("cosine", round(cosine_sim(col("embedding"), col("qv")), 6))
      .select("vec_id", "label", "cell", "cosine")
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a) + 1),
          i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, len($a) + 1),
            i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, len($b) + 1),
            i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))"""

  private val knnIvfFlatOracle = s"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cv
      FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
    sc AS (
      SELECT e.vec_id, e.label, e.embedding, c.cent_id,
        ${cosSql("e.embedding", "c.cv")} AS csim
      FROM embeddings e CROSS JOIN cents c),
    ranked AS (
      SELECT vec_id, label, embedding, cent_id AS cell,
        row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cent_id) AS rk
      FROM sc),
    a AS (SELECT vec_id, label, embedding, cell FROM ranked WHERE rk = 1),
    q AS (SELECT embedding AS qv, cell AS qcell FROM a WHERE vec_id = 0),
    s AS (
      SELECT a.vec_id, a.label, a.cell,
        ROUND(${cosSql("a.embedding", "q.qv")}, 6) AS cosine
      FROM a, q WHERE a.vec_id <> 0 AND a.cell = q.qcell)
    SELECT vec_id, label, CAST(cell AS BIGINT) AS cell, cosine
    FROM s ORDER BY cosine DESC, vec_id LIMIT 10"""

  /** Int8 scalar quantization of the embedding column — the compression
    * step an ANN index runs before storage (4x smaller than float32,
    * 8x smaller than float64). Per-dimension min/max come from ONE
    * distributed pass (posexplode + grouped min/max: shuffle is
    * |dims| x partials, nothing row-sized), are folded into two
    * 64-element arrays, and broadcast back onto the corpus; each vector
    * then quantizes in a single codegen-friendly pass: code_j =
    * floor((x_j - mn_j) * 255 / (mx_j - mn_j)), plus the max absolute
    * reconstruction error as the quality audit. All per-row arithmetic
    * is scalar double ops in a pinned evaluation order, so codes AND
    * error are bit-identical in the oracle — no sums, no rounding
    * ambiguity beyond the final round(...,6).
    */
  def quantizeEmbeddings(emb: DataFrame): DataFrame = {
    val dims = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("pos"), col("x").cast("double").as("x"))
      .groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
    val minmax = dims.agg(
      sortedBy(col("mn"), col("pos")).as("mins"),
      sortedBy(col("mx"), col("pos")).as("maxs"))
    // codes serialize to a '|'-joined string: the compare harness sorts
    // rows by every column, and raw array cells are unsortable there
    emb.crossJoin(broadcast(minmax))
      .select(col("vec_id"),
        expr("""concat_ws('|', transform(transform(embedding, (x, i) -> CASE
            WHEN element_at(maxs, i + 1) = element_at(mins, i + 1) THEN 0
            ELSE CAST(floor((CAST(x AS DOUBLE) - element_at(mins, i + 1)) * 255.0D
                      / (element_at(maxs, i + 1) - element_at(mins, i + 1))) AS INT)
            END), c -> CAST(c AS STRING)))""").as("codes"),
        round(expr("""array_max(transform(embedding, (x, i) -> CASE
            WHEN element_at(maxs, i + 1) = element_at(mins, i + 1) THEN 0.0D
            ELSE abs(CAST(x AS DOUBLE) - (element_at(mins, i + 1)
                 + floor((CAST(x AS DOUBLE) - element_at(mins, i + 1)) * 255.0D
                         / (element_at(maxs, i + 1) - element_at(mins, i + 1)))
                   * (element_at(maxs, i + 1) - element_at(mins, i + 1)) / 255.0D))
            END))"""), 6).as("max_abs_err"))
      .orderBy("vec_id")
  }

  private val quantizeOracle = """
    WITH u AS (
      SELECT unnest(embedding) AS x, unnest(range(1, len(embedding) + 1)) AS i
      FROM embeddings),
    dims AS (
      SELECT i, MIN(CAST(x AS DOUBLE)) AS mn, MAX(CAST(x AS DOUBLE)) AS mx
      FROM u GROUP BY i),
    mm AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs FROM dims)
    SELECT vec_id,
      array_to_string(list_transform(list_transform(embedding, (x, i) -> CASE
        WHEN maxs[i] = mins[i] THEN 0
        ELSE CAST(floor((CAST(x AS DOUBLE) - mins[i]) * 255.0 / (maxs[i] - mins[i])) AS INT)
        END), c -> CAST(c AS VARCHAR)), '|') AS codes,
      ROUND(list_max(list_transform(embedding, (x, i) -> CASE
        WHEN maxs[i] = mins[i] THEN 0.0
        ELSE abs(CAST(x AS DOUBLE) - (mins[i]
             + floor((CAST(x AS DOUBLE) - mins[i]) * 255.0 / (maxs[i] - mins[i]))
               * (maxs[i] - mins[i]) / 255.0))
        END)), 6) AS max_abs_err
    FROM embeddings, mm
    ORDER BY vec_id"""

  /** Nearest-centroid classification with a confusion matrix: per-label
    * mean vectors (exact decimal sums — order-independent, so the
    * centroids are bit-identical across engines), then every vector is
    * assigned to its max-cosine centroid (tiebreak: lowest label) and the
    * (true label, predicted) counts are emitted. The centroid table is a
    * |labels| x width broadcast; assignment is a narrow scored pass over
    * the corpus — at 100 TB this is one map stage plus a confusion-matrix
    * sized aggregate. The decimal sums are read back through a VARCHAR
    * round-trip on the oracle side (DuckDB's HUGEINT->DOUBLE is not
    * correctly rounded; via VARCHAR it is).
    */
  def centroidClassify(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorSumAgg.vec_sum_dec
    val cents = emb.groupBy(col("label").as("c_label"))
      .agg(vec_sum_dec(expr(
          "transform(cast(embedding as array<double>), x -> cast(x as decimal(18,8)))"))
          .as("vsum"),
        count(lit(1)).as("n"))
      .select(col("c_label"),
        expr("transform(vsum, s -> cast(s as double) / n)").as("centroid"))
    val wV = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("c_label"))
    emb.crossJoin(broadcast(cents))
      .withColumn("cos", cosine_sim(col("embedding"), col("centroid")))
      .withColumn("rk", row_number().over(wV))
      .filter(col("rk") === 1)
      .groupBy(col("label"), col("c_label").as("predicted"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("label", "predicted")
  }

  private val centroidClassifyOracle = s"""
    WITH u AS (
      SELECT label, unnest(range(1, len(embedding) + 1)) AS dim,
        unnest(list_transform(embedding,
          x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(18,8)))) AS v
      FROM embeddings),
    cd AS (SELECT label AS c_label, dim,
        CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) / COUNT(*) AS cv
      FROM u GROUP BY label, dim),
    cl AS (SELECT c_label, list(cv ORDER BY dim) AS centroid FROM cd GROUP BY c_label),
    s AS (SELECT e.vec_id, e.label, cl.c_label,
        ${cosSql("e.embedding", "centroid")} AS cos
      FROM embeddings e, cl),
    p AS (SELECT vec_id, label, c_label FROM s
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label) = 1)
    SELECT label, c_label AS predicted, COUNT(*) AS n_vectors
    FROM p GROUP BY label, c_label ORDER BY label, predicted"""

  /** Random-projection (JL) dimensionality reduction with a recall audit:
    * embeddings project 64 -> 16 dims through a FIXED deterministic ±1
    * sign matrix (a keyed parity hash — solver-free, so the whole
    * operator is oracle-checkable, unlike trained reductions), then the
    * q30 query runs in the reduced space and each reduced-space hit is
    * flagged against the exact top-k. At 100 TB the projection is a
    * narrow 4× data reduction applied scan-side before any index build;
    * the audit is the recall number that justifies (or vetoes) it.
    */
  def randomProjectionKnn(emb: DataFrame, outDims: Int = 16, k: Int = 10): DataFrame = {
    val proj = expr(s"""transform(sequence(0, ${outDims - 1}), j ->
      aggregate(sequence(0, size(embedding) - 1), cast(0.0 as double),
        (acc, i) -> acc + cast(element_at(embedding, i + 1) as double)
          * (case when (i + 1) * (j + 7) * 2654435761 % 1000000007 % 2 = 0
             then 1.0 else -1.0 end)))""")
    val projected = emb.withColumn("p", proj)
    val q = projected.filter(col("vec_id") === 0)
      .select(col("p").as("qp"))
    val top = projected.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("pcos", round(cosine_sim(col("p"), col("qp")), 6))
      .orderBy(col("pcos").desc, col("vec_id"))
      .limit(k)
    val exact = knnBruteForce(emb, k).select(col("vec_id"))
      .withColumn("x", lit(1L))
    top.join(exact, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("pcos"),
        coalesce(col("x"), lit(0L)).as("in_exact_topk"))
      .orderBy(col("pcos").desc, col("vec_id"))
  }

  private val randomProjectionOracle = s"""
    WITH pr AS (
      SELECT vec_id, label,
        list_transform(range(0, 16), j ->
          list_sum(list_transform(range(0, len(embedding)),
            i -> CAST(embedding[i + 1] AS DOUBLE)
              * (CASE WHEN (i + 1) * (j + 7) * 2654435761 % 1000000007 % 2 = 0
                 THEN 1.0 ELSE -1.0 END)))) AS p
      FROM embeddings),
    q AS (SELECT p AS qp FROM pr WHERE vec_id = 0),
    top AS (
      SELECT pr.vec_id, pr.label, ROUND(${cosSql("p", "qp")}, 6) AS pcos
      FROM pr, q WHERE pr.vec_id <> 0
      ORDER BY pcos DESC, pr.vec_id LIMIT 10),
    ex AS (
      SELECT e.vec_id,
        ${cosSql("e.embedding", "qe.qv")} AS cos
      FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) qe
      WHERE e.vec_id <> 0
      ORDER BY ROUND(cos, 6) DESC, e.vec_id LIMIT 10)
    SELECT top.vec_id, top.label, top.pcos,
      CAST(CASE WHEN ex.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
        AS in_exact_topk
    FROM top LEFT JOIN ex ON top.vec_id = ex.vec_id
    ORDER BY pcos DESC, top.vec_id"""

  /** Per-dimension robust scaling statistics (median + IQR) for an
    * embedding column — the normalization a feature pipeline fits before
    * serving. One posexplode (narrow: rows × dims, no shuffle until the
    * per-dim aggregation, which has exactly `dims` groups) then exact
    * interpolated percentiles per dimension. At 100 TB the per-dim
    * groups are huge but only `dims` of them exist — sort-based
    * aggregation per group key is the right plan, and the result (64
    * rows) broadcasts back for the apply step.
    */
  def robustScale(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select((col("pos") + 1).cast("long").as("dim"), // 1-based like the oracle's generate_subscripts
        col("v").cast("double").as("v"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        dec(expr("percentile(v, 0.5)"), 6).cast("double").as("med"),
        dec(expr("percentile(v, 0.75) - percentile(v, 0.25)"), 6)
          .cast("double").as("iqr"))
      .orderBy("dim")

  private val robustScaleOracle = """
    WITH ex AS (SELECT unnest(embedding) AS v,
        generate_subscripts(embedding, 1) AS dim FROM embeddings)
    SELECT CAST(dim AS BIGINT) AS dim, COUNT(*) AS n,
      CAST(CAST(quantile_cont(CAST(v AS DOUBLE), 0.5) AS DECIMAL(18,6)) AS DOUBLE) AS med,
      CAST(CAST(quantile_cont(CAST(v AS DOUBLE), 0.75)
        - quantile_cont(CAST(v AS DOUBLE), 0.25) AS DECIMAL(18,6)) AS DOUBLE) AS iqr
    FROM ex GROUP BY dim ORDER BY dim"""

  /** Deterministic Lloyd k-means (2 iterations, k=4) over the embedding
    * corpus — the clustering primitive behind IVF index build and
    * diversity-aware curation, spelled so every step is exact or
    * pinned: seeds are vec_id 1..k (no RNG), assignment minimizes
    * |c|² − 2·x·c (the |x|² term is argmin-invariant, so it is never
    * computed) with centroid-id tiebreak, and centroid updates are
    * exact decimal per-dim sums via the `vec_sum_dec` partial-merge
    * aggregate (order-independent — identical across partitionings and
    * engines). Scale shape: centroids broadcast (k rows), assignment is
    * a narrow map over the corpus, the update shuffles k×width decimal
    * buffers — two corpus passes total, the textbook distributed Lloyd
    * step. Output pins the full final membership (exact vec_id sums per
    * cluster), not just sizes.
    */
  def kmeansLite(emb: DataFrame, k: Int = 4): DataFrame = {
    import graft.functions.VectorSumAgg.vec_sum_dec
    import org.apache.spark.sql.expressions.Window
    val x = emb.select(col("vec_id"), expr("cast(embedding as array<double>)").as("x"))
      .localCheckpoint() // both assignment passes scan it
    def withNorm(cents: DataFrame): DataFrame = cents.withColumn("cn2",
      expr("aggregate(zip_with(c, c, (a, b) -> a * b), 0d, (s, v) -> s + v)"))
    def assign(cents: DataFrame): DataFrame = {
      val scored = x.crossJoin(broadcast(withNorm(cents)))
        .withColumn("d", col("cn2") - lit(2.0) *
          expr("aggregate(zip_with(x, c, (a, b) -> a * b), 0d, (s, v) -> s + v)"))
      val w = Window.partitionBy("vec_id").orderBy(col("d"), col("cid"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("x"), col("cid"))
    }
    val seeds = x.filter(col("vec_id").between(1, k))
      .select(col("vec_id").cast("long").as("cid"), col("x").as("c"))
    val cents1 = assign(seeds).groupBy("cid")
      .agg(vec_sum_dec(expr("transform(x, v -> cast(v as decimal(18,8)))")).as("s"),
        count(lit(1)).as("n"))
      .select(col("cid"), expr("transform(s, v -> cast(v as double) / n)").as("c"))
    assign(cents1).groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        sum(col("vec_id")).as("member_sum"))
      .join(cents1.select(col("cid"),
        round(element_at(col("c"), 1), 6).as("c_dim1")), "cid")
      .select(col("cid"), col("n_members"), col("member_sum"), col("c_dim1"))
      .orderBy("cid")
  }

  // dot products as explicit left folds (list_reduce with a prepended
  // zero) so the summation order matches Spark's sequential aggregate()
  private def foldDot(a: String, b: String) =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])), (s, v) -> s + v)"""

  private val kmeansOracle = s"""
    WITH x AS (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      FROM embeddings),
    seeds AS (
      SELECT CAST(vec_id AS BIGINT) AS cid, x AS c,
        ${foldDot("x", "x")} AS cn2
      FROM x WHERE vec_id BETWEEN 1 AND 4),
    s1 AS (
      SELECT x.vec_id, x.x, s.cid, s.cn2 - 2.0 * ${foldDot("x.x", "s.c")} AS d
      FROM x, seeds s),
    a1 AS (
      SELECT vec_id, x, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM s1) WHERE rn = 1),
    dims AS (
      SELECT cid,
        unnest(range(1, len(x) + 1)) AS dim,
        unnest(list_transform(x, v -> CAST(CAST(v AS DOUBLE) AS DECIMAL(18,8)))) AS v
      FROM a1),
    c1 AS (
      SELECT cid, list(CAST(sv AS DOUBLE) / n ORDER BY dim) AS c
      FROM (SELECT cid, dim, SUM(v) AS sv, COUNT(*) AS n
            FROM dims GROUP BY cid, dim)
      GROUP BY cid),
    c1n AS (SELECT cid, c, ${foldDot("c", "c")} AS cn2 FROM c1),
    s2 AS (
      SELECT x.vec_id, x.vec_id AS vid, c.cid, c.cn2 - 2.0 * ${foldDot("x.x", "c.c")} AS d
      FROM x, c1n c),
    a2 AS (
      SELECT vec_id, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM s2) WHERE rn = 1)
    SELECT a2.cid, COUNT(*) AS n_members,
      CAST(SUM(a2.vec_id) AS BIGINT) AS member_sum,
      ROUND(c1.c[1], 6) AS c_dim1
    FROM a2 JOIN c1 ON a2.cid = c1.cid
    GROUP BY a2.cid, c1.c ORDER BY a2.cid"""

  /** Batched per-label kNN: for EVERY label, the k vectors nearest that
    * label's exact-decimal centroid — the multi-query ANN shape (one
    * query per class) a training pipeline runs to mine class prototypes
    * and hard positives. One centroid aggregate (|labels| × dims
    * shuffle), one broadcast join scoring each row against ITS label's
    * centroid, then the k-bounded native top_k_by aggregate — per-label
    * winners travel as k-row buffers, never a corpus sort. Ordering key
    * is the 6-decimal cosine in exact micro-units (a LONG), ties to the
    * lowest vec_id — identical to the oracle's window ordering.
    */
  def labelKnn(emb: DataFrame, k: Int = 3): DataFrame = {
    import graft.functions.VectorSumAgg.vec_sum_dec
    import graft.functions.TopKByAgg.top_k_by
    val cents = emb.groupBy("label")
      .agg(vec_sum_dec(expr(
          "transform(cast(embedding as array<double>), x -> cast(x as decimal(18,8)))"))
          .as("vsum"),
        count(lit(1)).as("nv"))
      .select(col("label"),
        expr("transform(vsum, s -> cast(s as double) / nv)").as("cent"))
    val scored = emb.join(broadcast(cents), "label")
      .withColumn("cosine", round(cosine_sim(col("embedding"), col("cent")), 6))
    scored.groupBy("label")
      .agg(top_k_by(struct(col("vec_id"), col("cosine")),
        round(col("cosine") * 1000000).cast("long"), -col("vec_id"), k).as("top"))
      .select(col("label"), posexplode(col("top")).as(Seq("rank0", "r")))
      .select(col("label"), (col("rank0") + 1).cast("long").as("rnk"),
        col("r.vec_id").as("vec_id"), col("r.cosine").as("cosine"))
      .orderBy("label", "rnk")
  }

  private val labelKnnOracle = """
    WITH u AS (
      SELECT label,
        unnest(range(1, len(embedding) + 1)) AS dim,
        unnest(list_transform(embedding,
          x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(18,8)))) AS v
      FROM embeddings),
    csum AS (
      SELECT label, dim, SUM(v) AS s, COUNT(*) AS nv
      FROM u GROUP BY label, dim),
    cent AS (
      SELECT label, list(CAST(s AS DOUBLE) / nv ORDER BY dim) AS cent
      FROM csum GROUP BY label),
    scored AS (
      SELECT e.label, e.vec_id,
        ROUND(list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CAST(e.embedding[i] AS DOUBLE) * c.cent[i]))
          / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
           * sqrt(list_sum(list_transform(range(1, len(c.cent) + 1),
              i -> c.cent[i] * c.cent[i])))), 6) AS cosine
      FROM embeddings e JOIN cent c USING (label)),
    ranked AS (
      SELECT label, vec_id, cosine,
        row_number() OVER (PARTITION BY label ORDER BY cosine DESC, vec_id) AS rnk
      FROM scored)
    SELECT label, CAST(rnk AS BIGINT) AS rnk, vec_id, cosine
    FROM ranked WHERE rnk <= 3 ORDER BY label, rnk"""

  override def queries: Seq[Q] = Seq(
    Q("q219_label_knn",
      (s, d) => labelKnn(embeddings(s, d)), Some(labelKnnOracle)),
    Q("q182_kmeans_lite",
      (s, d) => kmeansLite(embeddings(s, d)), Some(kmeansOracle)),
    Q("q136_robust_scale",
      (s, d) => robustScale(embeddings(s, d)), Some(robustScaleOracle)),
    Q("q128_random_projection",
      (s, d) => randomProjectionKnn(embeddings(s, d)), Some(randomProjectionOracle)),
    Q("q114_centroid_classify",
      (s, d) => centroidClassify(embeddings(s, d)), Some(centroidClassifyOracle)),
    Q("q105_embedding_quantize",
      (s, d) => quantizeEmbeddings(embeddings(s, d)), Some(quantizeOracle)),
    Q("q30_knn_brute_force",
      (s, d) => knnBruteForce(embeddings(s, d)), Some(knnOracle)),
    Q("q31_knn_bucketed",
      (s, d) => knnBucketed(embeddings(s, d)), Some(knnBucketedOracle)),
    Q("q32_embedding_stats",
      (s, d) => embeddingStats(embeddings(s, d)), Some(embStatsOracle)),
    Q("q37_label_centroids",
      (s, d) => labelCentroids(embeddings(s, d)), Some(centroidsOracle)),
    Q("q38_embedding_dedup",
      (s, d) => embeddingDedupPairs(embeddings(s, d)), Some(embeddingDedupOracle)),
    Q("q39_knn_ivf", (s, d) => knnIvf(s, d), None),
    Q("q63_knn_ivf_flat",
      (s, d) => knnIvfFlat(embeddings(s, d)), Some(knnIvfFlatOracle)),
  )

  /** IVF-style ANN with a trained coarse quantizer: KMeans centroids
    * partition the corpus; a query probes only its nearest centroid's
    * cell (rows-only: centroid positions are solver-dependent). At scale
    * the cell id is the partition key — the classic inverted-file layout.
    */
  def knnIvf(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      k: Int = 10, cells: Int = 16): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val emb = embeddings(spark, sfDir)
      .withColumn("fv", array_to_vector(col("embedding").cast("array<double>")))
    // 10 Lloyd iterations suffice for a coarse quantizer (cells only need
    // to partition the space, not converge to optimal centroids)
    val km = new KMeans().setK(cells).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("fv").setPredictionCol("cell")
    val model = km.fit(emb)
    val cellOf = model.transform(emb).select("vec_id", "label", "embedding", "cell")
    val q = cellOf.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("cell").as("qcell"))
    cellOf.filter(col("vec_id") =!= 0)
      .join(broadcast(q), col("cell") === col("qcell"))
      .withColumn("cosine", round(cosine_sim(col("embedding"), col("qv")), 6))
      .select("vec_id", "label", "cell", "cosine")
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }
}
