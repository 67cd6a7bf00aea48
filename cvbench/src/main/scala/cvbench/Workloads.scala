package cvbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.imaging.{ImageOps, ImageUdfs}
import graft.ingest.Ingest
import graft.ml.StreamScoring

/** Brackets one operation: `built()` after the call into the engine,
  * `stop()` after its action. Epoch ms line up with listener events. */
final class Timer {
  val startMs: Long = System.currentTimeMillis()
  val startNs: Long = System.nanoTime()
  var builtMs = -1L
  var stopNs = -1L
  var stopMs = -1L
  def built(): Unit = builtMs = System.currentTimeMillis()
  def stop(): Unit = { stopNs = System.nanoTime(); stopMs = System.currentTimeMillis() }
}

/** What one pass's operations share; `tracer` is set on traced passes. */
final class Ctx(val spark: SparkSession, val input: String, val seed: Long, val passDir: Path,
    tracer: Option[Tracer]) {
  val state = scala.collection.mutable.Map.empty[String, Any]
  var opKey = ""
  /** Record the final plan of the action `df` runs next. */
  def want(df: DataFrame): Unit = tracer.foreach(_.want(df, opKey))
  def streamStarted(id: java.util.UUID): Unit = tracer.foreach(_.streamStarted(id))
}

/** One operation. `run` times itself through the [[Timer]] and returns
  * the check of its output, which the caller runs outside every timer:
  * None when correct, else the reason. */
trait Op {
  def name: String
  def sql: Boolean
  def run(c: Ctx, t: Timer): () => Option[String]
}

trait Workload {
  def name: String
  /** One set-up repetition: generate this run's inputs under `dir`. */
  def setup(spark: SparkSession, dir: String, seed: Long): Unit
  /** The operations of pass `pass`, in the order that pass runs them. */
  def pass(seed: Long, pass: Int): Seq[Op]
  /** Per-layer metrics the workload measures itself (traced runs). */
  def driverLayers(spark: SparkSession, input: String): Map[String, Double] = Map.empty
}

object Workloads {
  val all: Seq[Workload] = Seq(ImageIngest, SqlWorkload.distAnalytics)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))
}

/** A fixed list of registered queries over the generated corpus; the
  * seed only shuffles each pass's order. The action computes the row
  * count and the order-insensitive digest of the full result in one job
  * chain, so every timed execution is also checked and no output column
  * is pruned away. */
final class SqlWorkload(val name: String, val queries: Seq[String]) extends Workload {
  private lazy val registry = graft.SparkEntry.queries
  private lazy val expected = Digest.load(scala.io.Source.fromInputStream(
    getClass.getResourceAsStream("/expected.tsv"), "UTF-8").getLines())

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = Corpus.write(spark, dir)

  def pass(seed: Long, pass: Int): Seq[Op] =
    new scala.util.Random(seed * 7919 + pass).shuffle(queries).map(op)

  private def op(q: String): Op = new Op {
    val name = q
    val sql = true
    def run(c: Ctx, t: Timer): () => Option[String] = {
      val df = registry(q)(c.spark, c.input)
      t.built()
      val digest = Digest.frame(df)
      c.want(digest)
      val (rows, d) = Digest.read(digest.collect().head)
      t.stop()
      () => expected.get(q).fold(Option("no expected result stored"))(
        Digest.mismatch(_, rows, Some(d)))
    }
  }
}

object SqlWorkload {
  /** Dist-family queries: `ops.Dist` prefix scans (q151 running min,
    * q152 ntile, q248 running sum), `Tables.fanout` (q171; q196 is the
    * query whose exchange count the keyed fanout raised) and eager
    * `localCheckpoint`s (q151, q171, q248). */
  val distAnalytics = new SqlWorkload("dist_analytics", Seq(
    "q151_skyline_parts", "q152_equidepth_bins", "q171_basket_lift",
    "q196_spearman", "q248_split_gain"))

}

/** The paper's pipeline on a seeded frame corpus: batch enrich, streaming
  * ingest into a date-partitioned sink in small micro-batches, a sink
  * read, tensorize, features, training and stream scoring. Data
  * dependencies fix the order of the operations. */
object ImageIngest extends Workload {
  val name = "image_ingest"
  val FrameCount = 32
  val FilesPerTrigger = 8
  val TensorLength = 3 * 224 * 224
  val BandMass = Frames.Side.toLong * Frames.Side

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = {
    Frames.write(dir, seed, FrameCount)
    ImageUdfs.register(spark)
  }

  // file_name, device_id, label, date, width, height, per-band histogram mass
  private def enrichedProjection(df: DataFrame): DataFrame = df.select(
    col("file_name"), col("device_id"), col("label"), col("date").cast("string").as("date"),
    col("metadata.width"), col("metadata.height"),
    expr("transform(sequence(0, 2), b -> aggregate(slice(statistics.histogram, b * 256 + 1, 256), 0L, (a, x) -> a + x))").as("mass"))

  private def checkFrames(rows: Seq[Row], expected: Seq[Frames.Truth]): Option[String] = {
    val byName = expected.map(t => t.fileName -> t).toMap
    if (rows.length != expected.length) Some(s"${rows.length} rows for ${expected.length} frames")
    else rows.iterator.map { r =>
      byName.get(r.getString(0)) match {
        case None => Some(s"unknown file ${r.getString(0)}")
        case Some(t) =>
          if (r.getString(1) != t.deviceId) Some(s"${t.fileName}: device_id ${r.getString(1)}")
          else if (r.getInt(2) != t.label) Some(s"${t.fileName}: label ${r.getInt(2)}")
          else if (r.getString(3) != t.date.toString) Some(s"${t.fileName}: date ${r.getString(3)}")
          else if (r.getInt(4) != Frames.Side || r.getInt(5) != Frames.Side)
            Some(s"${t.fileName}: size ${r.getInt(4)}x${r.getInt(5)}")
          else if (r.getSeq[Long](6) != Seq(BandMass, BandMass, BandMass))
            Some(s"${t.fileName}: histogram mass ${r.getSeq[Long](6)}")
          else None
      }
    }.collectFirst { case Some(e) => e }
  }

  private def sink(c: Ctx) = c.passDir.resolve("images").toString

  private def op(n: String)(body: (Ctx, Timer) => () => Option[String]): Op = new Op {
    val name = n
    val sql = false
    def run(c: Ctx, t: Timer): () => Option[String] = body(c, t)
  }

  private val batchEnrich = op("batch_enrich") { (c, t) =>
    val df = Ingest.batch(c.spark, c.input)
    t.built()
    val p = enrichedProjection(df)
    c.want(p)
    val rows = p.collect().toSeq
    t.stop()
    c.state("batch") = rows
    () => checkFrames(rows, (0 until FrameCount).map(Frames.truth(c.seed, _)))
  }

  private val streamIngest = op("stream_ingest") { (c, t) =>
    val q = Ingest.stream(c.spark, c.input, sink(c), c.passDir.resolve("ingest-ckpt").toString,
      maxFilesPerTrigger = FilesPerTrigger)
    t.built()
    c.streamStarted(q.id)
    q.awaitTermination()
    t.stop()
    c.state("ingest_query") = q.id
    () => {
      val files = Files.walk(Paths.get(sink(c))).iterator().asScala
        .filter(f => f.toString.endsWith(".parquet")).toSeq
      c.state("sink_files") = (files.length, files.map(Files.size).sum)
      val batches = q.recentProgress.count(_.numInputRows > 0)
      val want = (FrameCount + FilesPerTrigger - 1) / FilesPerTrigger
      q.exception.map(e => s"stream failed: ${e.getMessage}")
        .orElse(Option.when(batches != want)(s"$batches micro-batches, expected $want"))
    }
  }

  private val sinkRead = op("sink_read") { (c, t) =>
    val df = c.spark.read.parquet(sink(c))
    t.built()
    val p = enrichedProjection(df)
    c.want(p)
    val rows = p.collect().toSeq
    t.stop()
    () => {
      val batch = c.state.get("batch").map(_.asInstanceOf[Seq[Row]]).getOrElse(Nil)
      def key(rs: Seq[Row]) = rs.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
      Option.when(key(rows) != key(batch))(s"sink rows differ from batch rows (${rows.length} vs ${batch.length})")
    }
  }

  private val tensorize = op("tensorize") { (c, t) =>
    val df = c.spark.read.parquet(sink(c)).select(size(expr("tensorize(content)")).as("n"))
    t.built()
    c.want(df)
    val lengths = df.collect().map(_.getInt(0))
    t.stop()
    () => Option.when(lengths.length != FrameCount || lengths.exists(_ != TensorLength))(
      s"tensor lengths ${lengths.distinct.mkString(",")} over ${lengths.length} rows")
  }

  private val features = op("features") { (c, t) =>
    val df = StreamScoring.imageFeatures(c.spark, c.spark.read.parquet(sink(c)))
    t.built()
    val p = df.select(vector_to_array(col("features")).as("f"))
    c.want(p)
    val fs = p.collect().map(_.getSeq[Double](0))
    t.stop()
    () => Option.when(fs.length != FrameCount || fs.exists(f => f.length != 7 || f.exists(_.isNaN)))(
      s"feature vectors malformed over ${fs.length} rows")
  }

  private val train = op("train") { (c, t) =>
    val labeled = c.spark.read.parquet(sink(c))
    t.built()
    val model = StreamScoring.trainOnImages(c.spark, labeled)
    t.stop()
    c.state("model") = model
    () => Option.when(model.numFeatures != 7 || model.coefficients.toArray.exists(_.isNaN))(
      s"model has ${model.numFeatures} features")
  }

  private val scoreStream = op("score_stream") { (c, t) =>
    val out = c.passDir.resolve("scored").toString
    val model = c.state("model").asInstanceOf[LogisticRegressionModel]
    val q = StreamScoring.scoreStream(c.spark, model, c.input, out,
      c.passDir.resolve("score-ckpt").toString)
    t.built()
    c.streamStarted(q.id)
    q.awaitTermination()
    t.stop()
    () => q.exception.map(e => s"stream failed: ${e.getMessage}").orElse {
      val s = c.spark.read.parquet(out).agg(count(lit(1)), min("score"), max("score")).head()
      Option.when(s.getLong(0) != FrameCount || s.getDouble(1) < 0 || s.getDouble(2) > 1)(
        s"scored ${s.getLong(0)} rows, scores in [${s.get(1)}, ${s.get(2)}]")
    }
  }

  def pass(seed: Long, pass: Int): Seq[Op] =
    Seq(batchEnrich, streamIngest, sinkRead, tensorize, features, train, scoreStream)

  /** Per-image cost of each imaging layer on the driver thread, through
    * the public `ImageOps` / `ImageUdfs` functions: the median over three
    * rounds of the mean over 16 frames. */
  override def driverLayers(spark: SparkSession, input: String): Map[String, Double] = {
    val frames = Files.list(Paths.get(input)).iterator().asScala.toSeq.sortBy(_.toString)
      .take(16).map(Files.readAllBytes)
    def perImageMs(f: Array[Byte] => Any): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      frames.foreach(f)
      (System.nanoTime() - t0) / 1e6 / frames.length
    })
    Map(
      "imaging.decode_ms" -> perImageMs(ImageOps.decode),
      "imaging.metadata_ms" -> perImageMs(b => ImageUdfs.getImageMetadata.call(b)),
      "imaging.statistics_ms" -> perImageMs(b => ImageUdfs.getImageStatistics.call(b)),
      "imaging.tensorize_ms" -> perImageMs(b => ImageUdfs.tensorize.call(b)))
  }
}
