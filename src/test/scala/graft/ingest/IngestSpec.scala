package graft.ingest

import graft.SparkSpec
import graft.imaging.ImageQueries
import java.nio.file.Files

/** Streaming ingest tests (SURVEY.md §5.2.4): AvailableNow over a temp
  * dir, appended rows, checkpoint idempotence on restart (02:268).
  */
class IngestSpec extends SparkSpec {

  test("F1-F5 filename parsing matches the capture format") {
    import spark.implicits._
    val df = Seq("/x/y/2021-10-07T09:15:23_rpi_sensor_3_1.jpg")
      .toDF("path")
    val r = Ingest.withPathMeta(df)
      .select("file_name", "timestamp", "date", "device_id", "label")
      .collect()(0)
    assert(r.getString(0) == "2021-10-07T09:15:23_rpi_sensor_3_1.jpg")
    assert(r.getTimestamp(1).toString == "2021-10-07 09:15:23.0")
    assert(r.getDate(2).toString == "2021-10-07")
    assert(r.getString(3) == "rpi_sensor_3")
    assert(r.getInt(4) == 1)
  }

  test("F1-F5 null-fill (not crash) on non-conforming filenames under ANSI") {
    // the reference ran ANSI-off where a stray file null-fills its derived
    // columns; this build runs default-ANSI Spark 4, so the try_-safe
    // forms must reproduce that null-filling instead of aborting ingest
    import spark.implicits._
    val df = Seq("/x/photo.jpg", "/x/a_b.jpg", "/x/nounderscore").toDF("path")
    val rows = Ingest.withPathMeta(df)
      .select("file_name", "timestamp", "date", "device_id", "label")
      .collect()
    assert(rows.length == 3, "no row may crash out")
    val photo = rows(0)
    assert(photo.getString(0) == "photo.jpg")
    assert(photo.isNullAt(1) && photo.isNullAt(2) && photo.isNullAt(3))
  }

  test("batch ingest over synthetic corpus: enrichment complete") {
    val dir = Files.createTempDirectory("ingest_batch")
    ImageQueries.writeCorpus(dir)
    val df = Ingest.batch(spark, dir.toString)
    val n = df.count()
    assert(n == 24)
    assert(df.filter("metadata is null or statistics is null").count() == 0)
    assert(df.filter("label not in (0, 1)").count() == 0)
    assert(df.select("device_id").distinct().count() == 4) // 2 devices x 2 shot suffixes
  }

  test("streaming ingest: AvailableNow appends all rows; restart appends none") {
    val src = Files.createTempDirectory("ingest_src")
    val out = Files.createTempDirectory("ingest_out")
    val cp  = Files.createTempDirectory("ingest_cp")
    ImageQueries.writeCorpus(src)

    val q1 = Ingest.stream(spark, src.toString, out.toString, cp.toString)
    q1.awaitTermination()
    val n1 = spark.read.parquet(out.toString).count()
    assert(n1 == 24, s"first run rows $n1")

    // restart with same checkpoint: no new files => no duplicate rows
    val q2 = Ingest.stream(spark, src.toString, out.toString, cp.toString)
    q2.awaitTermination()
    val n2 = spark.read.parquet(out.toString).count()
    assert(n2 == 24, s"idempotent restart rows $n2")

    // partitioned by date on disk
    val dateDirs = new java.io.File(out.toString).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("date="))
    assert(dateDirs.length == 3, s"date partitions ${dateDirs.length}")
  }

  test("byte-based admission: maxBytesPerTrigger splits AvailableNow into capped micro-batches") {
    val src = Files.createTempDirectory("ingest_bsrc")
    val out = Files.createTempDirectory("ingest_bout")
    val cp  = Files.createTempDirectory("ingest_bcp")
    ImageQueries.writeCorpus(src)
    val sizes = Files.walk(src).iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var total = 0L; var maxFile = 0L
    sizes.forEachRemaining { p =>
      if (p.toString.endsWith(".jpg")) { val s = Files.size(p); total += s; maxFile = math.max(maxFile, s) }
    }
    // cap ≈ a third of the corpus: forces >=3 admission cycles but always
    // admits at least one file (the source takes files until the cap is
    // exceeded, so a batch holds >=1 file regardless of file sizes)
    val cap = math.max(maxFile, total / 3)
    val q = Ingest.stream(spark, src.toString, out.toString, cp.toString,
      maxBytesPerTrigger = cap)
    q.awaitTermination()
    assert(spark.read.parquet(out.toString).count() == 24, "all rows admitted across cycles")
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 2,
      s"byte cap must split the backlog into multiple micro-batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows < 24), "no single batch may admit the whole corpus")
  }

  test("manifest-swap commit: readers never see a torn commit; versions time-travel") {
    import spark.implicits._
    val table = Files.createTempDirectory("atomic_sink").toString + "/t"
    // v1: two rows
    val v1 = AtomicSink.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), table)
    assert(v1 == 1L)
    assert(AtomicSink.read(spark, table).count() == 2)
    // CRASH WINDOW: data staged but never committed — readers must stay
    // on v1 (the Delta-style guarantee the plain parquet sink lacked)
    AtomicSink.stage(Seq((99L, "torn")).toDF("id", "s"), table)
    assert(AtomicSink.read(spark, table).count() == 2,
      "staged-but-uncommitted files leaked into the snapshot")
    assert(AtomicSink.versions(spark, table) == Seq(1L))
    // v2: append commit — snapshot = v1 files + new files
    val v2 = AtomicSink.commit(Seq((3L, "c")).toDF("id", "s"), table)
    assert(v2 == 2L)
    assert(AtomicSink.read(spark, table).count() == 3)
    // historical snapshot stays readable (commits never rewrite data)
    assert(AtomicSink.read(spark, table, version = 1L).count() == 2)
    // concurrent committers serialize to distinct consecutive versions
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val vs = Await.result(Future.sequence((10 to 13).map(i =>
        Future(AtomicSink.commit(Seq((i.toLong, s"r$i")).toDF("id", "s"), table)))),
        Duration.Inf)
      assert(vs.sorted == (3L to 6L), vs.sorted.toString)
      assert(AtomicSink.read(spark, table).count() == 7)
    } finally pool.shutdown()
  }
}
