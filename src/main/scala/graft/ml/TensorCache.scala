package graft.ml

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The Petastorm-style training-cache materialization (S3 + A2,
  * 03a_Model Training.py:117-126): write the training DataFrame to
  * parquet with row-group size = total-bytes / parallelism so the shard
  * count is at least the reader parallelism, with the byte size computed
  * by the reference's `sum(4 + length(content))` aggregate (F6/F7 + S7
  * driver collect). The MLlib path doesn't need this cache (it trains on
  * the DataFrame directly, SURVEY.md §3.2) — it exists for framework
  * parity and as the engine's sized-parquet writer.
  */
object TensorCache {

  /** Byte sizing per 03a:121-122: lit(4) label width + payload length.
    * coalesce: sum over zero rows is null — an empty cache is 0 bytes,
    * not an NPE.
    */
  def datasetBytes(df: DataFrame, payloadCol: String): Long =
    df.agg(coalesce(sum(lit(4L) + length(col(payloadCol)).cast("long")), lit(0L)))
      .collect()(0).getLong(0)

  def materialize(spark: SparkSession, df: DataFrame, payloadCol: String,
      outDir: String): Long = {
    val bytes = datasetBytes(df, payloadCol)
    val rowGroup = math.max(bytes / spark.sparkContext.defaultParallelism, 1L << 20)
    df.write
      .option("parquet.block.size", rowGroup)
      .mode("overwrite")
      .parquet(outDir)
    rowGroup
  }

  /** S8 fs maintenance (02_Data Ingest.py:27-31, 03a:109-112): recursive
    * delete via the Hadoop FileSystem API (works for any supported fs).
    */
  def rmRecursive(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  /** S6 DDL (02_Data Ingest.py:36-37): the reference's statements, with
    * the identifier backtick-quoted and the location literal escaped —
    * raw interpolation would break on quotes in paths (and invite
    * injection from caller-supplied names).
    */
  def recreateDatabase(spark: SparkSession, db: String, location: String): Unit = {
    val dbQ = "`" + db.replace("`", "``") + "`"
    val locQ = location.replace("'", "\\'")
    spark.sql(s"drop database if exists $dbQ cascade")
    spark.sql(s"create database if not exists $dbQ location '$locQ'")
  }
}
