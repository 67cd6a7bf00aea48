package graft.ml

import org.apache.spark.ml.classification.{DriverLogisticRegression, LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.imaging.ImageUdfs

/** Entry point C (SURVEY.md §3.3): streaming inference. The binaryFile
  * stream is enriched with the U2 statistics features and scored
  * by a broadcast MLlib model inside the task thread (no Arrow hop, no
  * Python worker — the Spark-native replacement for the reference's
  * pandas-UDF scoring, 04a_Model Deployment.py:231-268), then appended to
  * the unpartitioned scored sink (S5: path, score — FIXTURES.md A.3).
  */
object StreamScoring {

  /** Feature vector for an image row: the U2 statistics means/stddevs —
    * the engine-extracted featurizer (SURVEY.md M2: frozen featurizer +
    * trainable linear head), read from the persisted U2 struct in `df`'s
    * `statistics` column, which ingest writes once per image
    * (02_Data Ingest.py:252-282), so a read of the ingest sink decodes no
    * JPEG.
    */
  def imageFeatures(spark: SparkSession, df: DataFrame): DataFrame =
    df.withColumn("features", array_to_vector(
      concat(col("statistics.mean"),
        col("statistics.stddev"),
        array(col("statistics.entropy")))))

  /** Train the scoring head on labeled images (`statistics`, `label`).
    * The 7-feature training frame is collected in one Spark job and
    * fitted on the driver by `DriverLogisticRegression`, whose model
    * equals MLlib's fit over one partition bit for bit (03a_Model
    * Training.py:210-233); MLlib's own fit runs one Spark job per L-BFGS
    * loss evaluation.
    */
  def trainOnImages(spark: SparkSession, labeled: DataFrame): LogisticRegressionModel =
    DriverLogisticRegression.fit(
      new LogisticRegression()
        .setFeaturesCol("features").setLabelCol("y").setMaxIter(50),
      imageFeatures(spark, labeled)
        .select(col("features"), col("label").cast("double").as("y")))

  /** U3/S5: streaming scoring into the (path, score) parquet sink. */
  def scoreStream(spark: SparkSession, model: LogisticRegressionModel,
      srcDir: String, outDir: String, checkpointDir: String): StreamingQuery = {
    ImageUdfs.register(spark)
    val src = spark.readStream
      .format("binaryFile")
      .schema(graft.imaging.ImageSchema.binaryFileSchema)
      .option("pathGlobFilter", "*.jpg")
      .option("recursiveFileLookup", "true")
      .load(srcDir)
      .withColumn("statistics", expr("get_image_statistics(content)"))
    val scored = model.transform(imageFeatures(spark, src))
      .select(col("path"),
        element_at(vector_to_array(col("probability")), 2).as("score"))
    val w = scored.writeStream
      .format("parquet")
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
    graft.Streams.start(spark)(w.start(outDir))
  }
}
