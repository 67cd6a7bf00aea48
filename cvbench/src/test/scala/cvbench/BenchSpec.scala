package cvbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a percentile is reportable only with at least ten samples beyond it") {
    assert(Stats.reportablePercentile(19).isEmpty)
    assert(Stats.reportablePercentile(20).contains(50.0))
    assert(Stats.reportablePercentile(99).contains(50.0))
    assert(Stats.reportablePercentile(100).contains(90.0))
    assert(Stats.reportablePercentile(999).contains(90.0))
    assert(Stats.reportablePercentile(1000).contains(99.0))
    assert(Stats.reportablePercentile(10000).contains(99.9))
    for (n <- Seq(20, 57, 100, 345, 1000, 12345); p <- Stats.reportablePercentile(n))
      assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("geomean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(0.5, 2.0)) - 1.0) < 1e-12)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }

  test("driver-only time subtracts the union of job spans, counting overlaps once") {
    // op [0, 100): jobs [10, 30) and [20, 50) overlap, [90, 120) sticks out
    assert(Stats.unionLength(Seq((10L, 30L), (20L, 50L), (90L, 120L)), 0, 100) == 50)
    assert(Stats.driverOnly(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 120L))) == 50)
    assert(Stats.driverOnly(0, 100, Nil) == 100)
    assert(Stats.driverOnly(0, 100, Seq((0L, 100L), (5L, 6L))) == 0)
    assert(Stats.unionLength(Seq((40L, 60L), (10L, 20L)), 0, 100) == 30)
  }

  test("the digest ignores row order and partitioning") {
    import spark.implicits._
    val rows = Seq((1L, "a", 1.5), (2L, "b", -0.25), (2L, "b", -0.25), (3L, null, 0.0))
    val a = rows.toDF("k", "s", "x")
    val b = rows.reverse.toDF("k", "s", "x").repartition(3)
    assert(Digest.of(a) == Digest.of(b))
    assert(Digest.of(a)._1 == 4)
  }

  test("a changed value, a lost duplicate or a renamed column fails the check") {
    import spark.implicits._
    val a = Seq((1L, "a"), (2L, "b"), (2L, "b")).toDF("k", "s")
    val (rows, digest) = Digest.of(a)
    val exp = Digest.Expected(rows, Some(digest))
    assert(Digest.mismatch(exp, rows, Some(digest)).isEmpty)
    val changed = Digest.of(Seq((1L, "a"), (2L, "c"), (2L, "b")).toDF("k", "s"))
    assert(Digest.mismatch(exp, changed._1, Some(changed._2)).exists(_.startsWith("digest")))
    val deduped = Digest.of(a.distinct())
    assert(Digest.mismatch(exp, deduped._1, Some(deduped._2)).exists(_.startsWith("rows")))
    val renamed = Digest.of(a.toDF("k", "t"))
    assert(Digest.mismatch(exp, renamed._1, Some(renamed._2)).isDefined)
    // a row-count-only expectation ignores the digest but not the count
    assert(Digest.mismatch(Digest.Expected(rows, None), rows, Some("0")).isEmpty)
    assert(Digest.mismatch(Digest.Expected(rows, None), rows + 1, None).isDefined)
  }

  test("the stored expectations parse, and cover every SQL operation") {
    val exp = Digest.load(scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/expected.tsv"), "UTF-8").getLines())
    assert(SqlWorkload.distAnalytics.queries.toSet == exp.keySet)
  }

  test("generators are deterministic for a seed and differ across seeds") {
    def pixels(seed: Long, i: Int) = {
      val img = Frames.frame(seed, i)._2
      img.getRGB(0, 0, Frames.Side, Frames.Side, null, 0, Frames.Side).toSeq
    }
    assert(Frames.frame(7, 3)._1 == Frames.frame(7, 3)._1)
    assert(pixels(7, 3) == pixels(7, 3))
    assert(pixels(7, 3) != pixels(8, 3))
    assert(Frames.truth(7, 3) == Frames.frame(7, 3)._1)
    assert((0 until ImageIngest.FrameCount).map(Frames.truth(7, _).fileName).distinct.length ==
      ImageIngest.FrameCount)
    val a = Corpus.tables(Corpus.sf001)
    val b = Corpus.tables(Corpus.sf001)
    assert(a.map(t => (t._1, t._3)) == b.map(t => (t._1, t._3)))
  }

  test("the seed shuffles the pass order of a fixed operation list") {
    val w = SqlWorkload.distAnalytics
    val p = w.pass(1, 0).map(_.name)
    assert(p == w.pass(1, 0).map(_.name))
    assert(p.sorted == w.queries.sorted)
    assert((0 until 5).map(w.pass(1, _).map(_.name)).distinct.length > 1)
  }
}
