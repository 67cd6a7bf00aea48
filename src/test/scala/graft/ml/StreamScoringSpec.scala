package graft.ml

import graft.SparkSpec
import graft.imaging.{ImageQueries, ImageUdfs}
import graft.ingest.Ingest
import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.scheduler.SparkListenerStageCompleted
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Entry point C end-to-end: train on a batch of images, score a stream,
  * assert the scored-table contract (rows > 0, scores in [0,1], schema
  * (path, score) — the reference CI's only real assertion plus ours).
  */
class StreamScoringSpec extends SparkSpec {

  test("streaming image scoring into the (path, score) sink") {
    val src = Files.createTempDirectory("score_src")
    val out = Files.createTempDirectory("score_out")
    val cp  = Files.createTempDirectory("score_cp")
    ImageQueries.writeCorpus(src)

    val labeled = Ingest.batch(spark, src.toString).select("statistics", "label")
    val model = StreamScoring.trainOnImages(spark, labeled)

    val q = StreamScoring.scoreStream(spark, model, src.toString, out.toString, cp.toString)
    q.awaitTermination()

    val scored = spark.read.parquet(out.toString)
    assert(scored.columns.toSeq == Seq("path", "score"))
    assert(scored.count() == 24)
    assert(scored.filter(col("score") < 0 || col("score") > 1).count() == 0)
  }

  /** The 24-image corpus ingested by the streaming pipeline into a
    * date-partitioned parquet sink (the `cv.images` table). */
  private lazy val sink: String = {
    val src = Files.createTempDirectory("sink_src")
    val out = Files.createTempDirectory("sink_out").resolve("images").toString
    ImageQueries.writeCorpus(src)
    Ingest.stream(spark, src.toString, out,
      Files.createTempDirectory("sink_cp").toString).awaitTermination()
    out
  }
  private val corpusSize = 24

  test("trainOnImages reads the ingest sink's rows in one stage") {
    val sinkDf = spark.read.parquet(sink)
    val stages = eventsDuring(StreamScoring.trainOnImages(spark, sinkDf))
      .collect { case e: SparkListenerStageCompleted => e.stageInfo }
    val reads = stages.filter(_.taskMetrics.inputMetrics.recordsRead == corpusSize)
    assert(reads.size == 1, s"${reads.size} stages read all $corpusSize sink rows")
  }

  test("trainOnImages leaves the persisted RDDs as it found them") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    StreamScoring.trainOnImages(spark, spark.read.parquet(sink))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("trainOnImages starts at most two Spark jobs") {
    val sinkDf = spark.read.parquet(sink)
    val jobs = jobsDuring(StreamScoring.trainOnImages(spark, sinkDf))
    assert(jobs.size <= 2, s"${jobs.size} jobs")
  }

  /** MLlib's own fit of the scoring head, over one partition. */
  private def mllibFit(labeled: DataFrame): LogisticRegressionModel =
    new LogisticRegression().setLabelCol("y").setMaxIter(50)
      .fit(StreamScoring.imageFeatures(spark, labeled)
        .select(col("features"), col("label").cast("double").as("y")).coalesce(1))

  private def assertSameBits(a: LogisticRegressionModel, b: LogisticRegressionModel): Unit = {
    def bits(m: LogisticRegressionModel) =
      (m.coefficients.toArray :+ m.intercept).map(java.lang.Double.doubleToRawLongBits).toSeq
    assert(bits(a) == bits(b), s"${a.coefficients} ${a.intercept} vs ${b.coefficients} ${b.intercept}")
  }

  test("the driver fit equals MLlib's one-partition fit bit for bit") {
    val sinkDf = spark.read.parquet(sink).select("statistics", "label")
    val batch = Ingest.batch(spark, ImageQueries.sharedCorpusDir.toString)
      .select("statistics", "label")
    for ((labeled, rows) <- Seq(sinkDf -> corpusSize, batch -> corpusSize,
        sinkDf.union(batch) -> 2 * corpusSize)) {
      assert(labeled.count() == rows)
      assertSameBits(StreamScoring.trainOnImages(spark, labeled), mllibFit(labeled))
    }
  }

  test("trainOnImages fails on a one-class training set") {
    val oneClass = spark.read.parquet(sink).select("statistics", "label")
      .filter(col("label") === 1)
    val e = intercept[IllegalArgumentException](StreamScoring.trainOnImages(spark, oneClass))
    assert(e.getMessage.contains("two label classes"))
  }

  test("imageFeatures over the ingest sink does not read the JPEG bytes") {
    val df = StreamScoring.imageFeatures(spark, spark.read.parquet(sink)).select("features")
    val scans = df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1)
    assert(!scans.head.requiredSchema.fieldNames.contains("content"),
      scans.head.requiredSchema.simpleString)
  }

  test("a model trained from the stored statistics equals one from recomputed statistics") {
    ImageUdfs.register(spark)
    val sinkDf = spark.read.parquet(sink)
    val stored = StreamScoring.trainOnImages(spark, sinkDf.select("statistics", "label"))
    val recomputed = StreamScoring.trainOnImages(spark,
      sinkDf.withColumn("statistics", expr("get_image_statistics(content)"))
        .select("statistics", "label"))
    assert(stored.coefficients.toArray.sameElements(recomputed.coefficients.toArray),
      s"${stored.coefficients} vs ${recomputed.coefficients}")
    assert(stored.intercept == recomputed.intercept)
  }

  test("tf-idf pipeline runs over documents") {
    val r = TextPipeline.tfidf(spark, sf("sf0.001"))
    assert(r.count() > 0)
    assert(r.filter(col("n_tokens") <= 0).count() == 0)
  }
}
