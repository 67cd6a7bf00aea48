package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.imaging.ImageUdfs

/** The flagship streaming ingest pipeline (SURVEY.md §3.1, entry point A):
  * binaryFile source -> filename-derived columns (F1-F5, the reference's
  * exact expr strings, 02_Data Ingest.py:93-100) -> U1 metadata -> U2
  * statistics -> parquet sink partitioned by date with AvailableNow
  * trigger (the OSS equivalent of the reference's Delta + trigger-once
  * sink, 02:273-282; SURVEY.md §1.4).
  *
  * Scale posture: BYTE-based admission control via the OSS file source's
  * own maxBytesPerTrigger (Spark 4 FileStreamOptions) — the same
  * semantics as the reference's cloudFiles.maxBytesPerTrigger
  * (02_Data Ingest.py:63,74: cores × 512 MB per cycle), protecting the
  * cluster from a device-backlog burst regardless of file-size mix; a
  * files-count cap remains available for tests. The pipeline is a narrow
  * per-file map — no shuffle anywhere; the date partitioning makes
  * downstream date-filtered scans prune directories.
  */
object Ingest {

  /** F1-F5 projection chain. The reference authored these under ANSI-off
    * Spark, where a non-conforming filename null-fills every derived
    * column; this build runs Spark 4's default ANSI mode, so the
    * positional indexes and casts use their try_/element_at-safe forms —
    * one odd `photo.jpg` in the source directory must null-fill its row,
    * not crash the whole ingest stream. Original reference strings kept
    * as trailing comments (02_Data Ingest.py:93-100).
    */
  def withPathMeta(df: DataFrame): DataFrame =
    df.withColumn("file_name",
        expr("reverse(split(path,'/'))[0]"))                                   // 02:95 (split yields >=1 token)
      .withColumn("timestamp",
        expr("try_to_timestamp(split(file_name,'_')[0])"))                     // 02:96 to_timestamp(split(..)[0])
      .withColumn("date", expr("to_date(timestamp)"))                          // 02:97
      .withColumn("device_id",                                                 // 02:98 reverse(split(reverse(split(f,'_',2)[1]),'_',2)[1])
        expr("reverse(try_element_at(split(reverse(try_element_at(" +
          "split(file_name,'_',2), 2)),'_',2), 2))"))
      .withColumn("label",                                                     // 02:99 cast(split(reverse(split(f,'[.]')[0]),'_')[0] as int)
        expr("try_cast(split(reverse(split(file_name,'[.]')[0]),'_')[0] as int)"))

  /** U1 + U2 enrichment via the registered UDF names (02:209-212, 257-260). */
  def enrich(spark: SparkSession, df: DataFrame): DataFrame = {
    ImageUdfs.register(spark)
    withPathMeta(df)
      .withColumn("metadata", expr("get_image_metadata(content)"))
      .withColumn("statistics", expr("get_image_statistics(content)"))
  }

  /** Streaming ingest: S1 source options per 02_Data Ingest.py:61-76.
    * Admission is byte-based by default, mirroring the reference's
    * `cloudFiles.maxBytesPerTrigger = defaultParallelism * 512 MB`
    * (02:63,74) via the OSS source's equivalent option; pass
    * `maxFilesPerTrigger > 0` instead for a count cap (tests use this —
    * the two options are mutually exclusive in FileStreamOptions).
    */
  def stream(spark: SparkSession, srcDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 0,
      maxBytesPerTrigger: Long = 0L): StreamingQuery = {
    graft.LocalFs.install(spark)
    val admission: Long =
      if (maxBytesPerTrigger > 0) maxBytesPerTrigger
      else spark.sparkContext.defaultParallelism * 512L * 1024 * 1024
    val reader = spark.readStream
      .format("binaryFile")
      .schema(graft.imaging.ImageSchema.binaryFileSchema) // streaming sources require an explicit schema
      .option("pathGlobFilter", "*.jpg")
      .option("recursiveFileLookup", "true")
    val src = (if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader.option("maxBytesPerTrigger", admission))
      .load(srcDir)
    enrich(spark, src).writeStream
      .format("parquet")
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .partitionBy("date")
      .trigger(Trigger.AvailableNow())
      .start(outDir)
  }

  /** Batch variant of the same plan (tests + the demo query). */
  def batch(spark: SparkSession, srcDir: String): DataFrame = {
    val src = spark.read
      .format("binaryFile")
      .option("pathGlobFilter", "*.jpg")
      .option("recursiveFileLookup", "true")
      .load(srcDir)
    enrich(spark, src)
  }
}
