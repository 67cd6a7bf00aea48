package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet table loader for the driver corpus (TESTDATA.md): one file
  * per table under `sfDir` (or a Spark-written directory of part files),
  * schema identical across SFs. Each read takes its schema from a parquet
  * footer on the driver ([[schema]]), so building a frame starts no job.
  */
object Tables {
  /** Spark's inference rule for one file, without the inference job: the
    * footer of `path`, or of a directory's first data file in path order
    * (names starting `_` or `.` skipped); Spark's row metadata when the
    * writer left it, else the parquet schema converted under the session
    * conf. Sets `nanosAsLong` first: without it a TIMESTAMP(NANOS) footer
    * (the driver corpus' events `ts`) fails to convert, and so does the
    * scan that reads it.
    */
  def schema(spark: SparkSession, path: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path); val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val file = if (!st.isDirectory) st else fs.listStatus(p)
      .filter(f => f.isFile && !"_.".contains(f.getPath.getName.head))
      .minByOption(_.getPath.toString)
      .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val meta = try reader.getFileMetaData finally reader.close()
    Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
  }

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame =
    readEvents(s, d)(s.read.schema(_).parquet(s"$d/events.parquet"))

  /** The events table through `read` (a batch or stream reader, given
    * the footer schema) with `ts` as session TIMESTAMP, however the
    * corpus stores it: TIMESTAMP(NANOS) and the ScaleUp output's bigint
    * nanos read as long ([[schema]] sets nanosAsLong; `ns div 1000` is
    * lossless on micro-precision data),
    * TIMESTAMP_MICROS reads as NTZ, and a Spark-written copy is TIMESTAMP.
    */
  private[graft] def readEvents(s: SparkSession, d: String)(
      read: StructType => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = read(schema(s, s"$d/events.parquet"))
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // a TIMESTAMP_MICROS corpus reads as NTZ; the engine contract is
      // session-time TIMESTAMP (watermarks and unix_micros reject NTZ),
      // and with the session pinned UTC the cast preserves the instant
      case _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Spread a degenerate scan across the session's parallelism before a
    * CPU-HEAVY per-row stage (md5-per-shingle signatures, per-doc n-gram
    * counting, shingle hashing). The driver corpus is ONE parquet row
    * group per table at every local SF, so a parquet scan — and with it
    * the entire map side of every stage up to the first exchange — runs
    * as a SINGLE task regardless of core count (row groups are the
    * parquet split atom; byte-range splits of a one-group file read
    * nothing). This is guide §2.5's "one huge unsplittable file" input
    * skew: repartition right after the read, BEFORE the expensive
    * projection. Project to the needed columns BEFORE calling (the
    * shuffle carries every column it is given, §2.3).
    *
    * One rule ([[shouldFan]]): fan out iff the optimizer's sizeInBytes
    * estimate is at least 2 MB AND the frame has fewer partitions than
    * `defaultParallelism` (cores locally, executors×cores on a cluster;
    * at production split counts this alone makes fanout the identity).
    */
  def fanout(df: DataFrame): DataFrame =
    if (shouldFan(df)) df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df

  private val FanMinBytes = 2L * 1024 * 1024

  /** The estimate is file bytes for a scan, scaled down by schema-default
    * column widths under a projection; Spark 4 carries a scan's stats
    * through `localCheckpoint`. The size gate keeps the repartition's
    * fixed cost (one exchange + a task wave AQE will not coalesce for a
    * user repartition) off inputs whose single-task map work is smaller:
    * on the sf0.1 corpus all three sites estimate 0.25-0.40 MB and stay
    * unfanned; on the ScaleUp ×10 corpus they fan 2 → 4 splits at
    * local[4] and each wins (q235 3.9-4.5 → 2.2 s, q28 2.6-3.2 → 1.8 s,
    * q27 7.0-7.2 → 5.3-6.0 s). The partition count is read only above
    * the gate; `.rdd.getNumPartitions` plans the frame and starts no job,
    * also over an aggregation under AQE (`FanoutSpec` pins both).
    */
  private def shouldFan(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes >= FanMinBytes &&
      df.rdd.getNumPartitions < df.sparkSession.sparkContext.defaultParallelism
}

/** Shared numeric helpers for DuckDB-oracle bit-exactness.
  *
  * Floating sums are order-dependent at the last bit, and Spark's partial
  * aggregation order differs from DuckDB's. Casting each addend to DECIMAL
  * first makes the sum exact and order-independent; the final cast back to
  * DOUBLE is then deterministic and identical across engines. A decimal
  * rounding boundary (x.5 at scale s>=1) is never exactly representable as
  * a binary double, so the double->decimal cast itself is also
  * engine-independent.
  *
  * Terms a DECIMAL cast cannot carry exactly (logs, powers, ratios) use
  * the second tool, [[Num.osum]]: collect `(key…, value)`, sort it, and
  * fold left from 0.0. Both engines then add the same doubles in the same
  * order. The DuckDB twin is
  * `list_reduce(list_prepend(CAST(0 AS DOUBLE), list(v ORDER BY k…, v)), (a, x) -> a + x)`.
  */
object Num {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.DecimalType

  // native DECIMAL(18,s) quantizer: identical semantics to
  // `c.cast(DecimalType(18, scale))` (it delegates to that very Cast for
  // non-double inputs and uncertain values) with a proven integer fast
  // path for the double hot case — see graft.functions.DecCast
  def dec(c: Column, scale: Int = 2): Column =
    graft.functions.DecCast.dec_cast(c, scale)

  /** Exact, order-independent sum of a double column, returned as double. */
  def dsum(c: Column, scale: Int = 2): Column = sum(dec(c, scale)).cast("double")

  /** Deterministic average: exact decimal sum divided by count. */
  def davg(c: Column, scale: Int = 2): Column = dsum(c, scale) / count(lit(1))

  // collect (by…, v) and sort it; fields are named by position so a key
  // column called `v` cannot shadow the value
  private def sorted(v: Column, by: Column*): Column =
    array_sort(collect_list(struct(
      by.zipWithIndex.map { case (k, i) => k.as(s"_$i") } :+ v.as("_v"): _*)))

  /** Aggregate: the values of `v` in ascending `(by…, v)` order. */
  def sortedBy(v: Column, by: Column*): Column =
    transform(sorted(v, by: _*), e => e.getField("_v"))

  /** Aggregate: left fold from 0.0 of `v` in ascending `(by…, v)` order,
    * independent of how rows reach the aggregate. A NULL value makes the
    * sum NULL. */
  def osum(v: Column, by: Column*): Column =
    aggregate(sorted(v, by: _*), lit(0.0), (acc, x) => acc + x.getField("_v"))

  /** x·2^50 as an exact decimal integer. The power-of-two multiply is
    * exact in IEEE doubles, and for float32-origin data (|x| ≳ 1e-8,
    * ulp ≥ 2^-50) the product IS an integer — so the decimal cast can
    * never land on a rounding tie. Raw float32 columns are precisely
    * the coarse-dyadic population where a plain `CAST(x AS
    * DECIMAL(p,s))` ties (e.g. -0.22314453125 at scale 10, q308/sf1)
    * and the engines split: Spark rounds the SHORTEST decimal repr
    * HALF_UP while DuckDB rounds the full binary expansion half-even.
    * Use this for sums of raw float-origin values; squares/products are
    * tie-free at even scales (their dyadic width is even) and may keep
    * the plain dec() cast.
    */
  def bin50(c: Column): Column =
    (c * lit(1.125899906842624e15)).cast(DecimalType(38, 0))

  /** Exact-integer decimal → double via the 2^52/2^26 three-part split:
    * each part is an integer < 2^53 whose decimal→double cast is exact
    * on both engines; reassembly is one fixed IEEE op sequence. Textual
    * SQL macro (Spark dialect) so the DuckDB oracle twin below stays a
    * verbatim mirror. Beyond 2^53 a direct CAST(decimal AS DOUBLE)
    * differs between Spark (BigDecimal) and DuckDB (int128) by 1 ulp.
    */
  def splitDblSql(v: String): String =
    s"""(CASE WHEN ($v) < 0 THEN -1.0D ELSE 1.0D END * (
       |  CAST((abs($v) - (abs($v) % 4503599627370496)) / 4503599627370496 AS DOUBLE) * 4503599627370496.0D
       |  + CAST(CAST(abs($v) % 4503599627370496 AS BIGINT) DIV 67108864 AS DOUBLE) * 67108864.0D
       |  + CAST(CAST(abs($v) % 67108864 AS BIGINT) AS DOUBLE)))""".stripMargin

  /** DuckDB twin of [[splitDblSql]] (HUGEINT in place of DECIMAL). */
  def splitDblDuck(v: String): String =
    s"""((CASE WHEN ($v) < 0 THEN -1.0 ELSE 1.0 END) * (
       |  CAST(abs($v) // 4503599627370496 AS DOUBLE) * 4503599627370496.0
       |  + CAST((abs($v) % 4503599627370496) // 67108864 AS DOUBLE) * 67108864.0
       |  + CAST(abs($v) % 67108864 AS DOUBLE)))""".stripMargin

  /** Deterministic mean of a [[bin50]] sum: split-convert, descale by
    * 2^50, divide by the count — the same three IEEE ops on both
    * engines. */
  def bin50MeanSql(s: String, n: String): String =
    s"(${splitDblSql(s)} / 1.125899906842624e15 / ($n))"

  /** DuckDB twin of [[bin50MeanSql]]; pair with
    * `SUM(CAST(xv * 1.125899906842624e15 AS HUGEINT))`. */
  def bin50MeanDuck(s: String, n: String): String =
    s"(${splitDblDuck(s)} / 1.125899906842624e15 / ($n))"
}
