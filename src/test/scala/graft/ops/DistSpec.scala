package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The two-level prefix scan (Dist) must be row-for-row identical to
  * the flat global windows it replaces — including NTILE's uneven-tile
  * convention, inclusive and exclusive frames, every combiner and NULL
  * buckets — while never opening a window wider than one bucket.
  */
class DistSpec extends SparkSpec {

  private def ev = Tables.events(spark, sf("sf0.001"))
    .select(col("event_id"), col("user_id"), col("value"))

  test("withRowNumber equals flat global row_number (ties included)") {
    val flat = ev.withColumn("rn", row_number().over(
      Window.orderBy(col("value"), col("event_id"))))
    val dist = Dist.withRowNumber(ev,
      expr("CAST(value * 100 AS BIGINT) DIV 256"),
      Seq(col("value"), col("event_id")), "rn")
    assert(flat.select("event_id", "rn").exceptAll(
      dist.select("event_id", "rn")).isEmpty)
    assert(dist.count() == ev.count())
  }

  test("withRowNumber partitioned equals flat per-partition row_number, and total matches") {
    val part = col("user_id") % 7
    val keyed = ev.withColumn("grp", part)
    val flat = keyed.withColumn("rn", row_number().over(
        Window.partitionBy("grp").orderBy(col("value"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("grp")))
    val dist = Dist.withRowNumber(keyed,
      expr("CAST(value * 100 AS BIGINT) DIV 256"),
      Seq(col("value"), col("event_id")), "rn", Some("n"),
      partition = Seq("grp"))
    assert(flat.select("event_id", "rn", "n").exceptAll(
      dist.select("event_id", "rn", "n")).isEmpty)
  }

  test("withNtile matches SQL NTILE for a bin count that doesn't divide n") {
    val flat = ev.withColumn("bin", ntile(7).over(
      Window.orderBy(col("value"), col("event_id"))).cast("long"))
    val dist = Dist.withNtile(ev,
      expr("CAST(value * 100 AS BIGINT) DIV 256"),
      Seq(col("value"), col("event_id")), 7)
    assert(flat.select("event_id", "bin").exceptAll(
      dist.select("event_id", "bin")).isEmpty)
  }

  test("withRunningSum equals flat cumulative sum") {
    val base = ev.groupBy((col("user_id") % 997).as("k"))
      .agg(count(lit(1)).as("n"))
    val flat = base.withColumn("cum", sum("n").over(Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val dist = Dist.withRunningSum(base,
      expr("k DIV 64"), Seq(col("k")), col("n"), "cum")
    assert(flat.select("k", "cum").exceptAll(
      dist.select("k", "cum")).isEmpty)
  }

  // every shape the prefix scan serves, over rows whose bucket may be
  // NULL: a NULL value gives a NULL bucket, which must rank first like
  // the flat ASC NULLS FIRST order (an inner equi-join would drop them)
  private def evn = ev.withColumn("value",
    when(col("event_id") % 11 === 0, lit(null)).otherwise(col("value")))
  private val nBkt = expr("CAST(value * 100 AS BIGINT) DIV 256")
  private val nOrd = Seq(col("value"), col("event_id"))
  private def running(w: WindowSpec, exclusive: Boolean = false) =
    w.rowsBetween(Window.unboundedPreceding, if (exclusive) -1L else Window.currentRow)
  private def flatW = Window.orderBy(nOrd: _*)

  private def assertSame(flat: DataFrame, dist: DataFrame, cols: String*): Unit = {
    assert(evn.filter(nBkt.isNull).count() > 0, "fixture must hold NULL buckets")
    val (f, d) = (flat.select(cols.map(col): _*), dist.select(cols.map(col): _*))
    assert(d.count() == f.count(), "no row may be dropped")
    assert(f.exceptAll(d).isEmpty && d.exceptAll(f).isEmpty)
  }

  test("exclusive running min equals the flat window (NULL buckets included)") {
    val flat = evn.withColumn("m", min("user_id").over(running(flatW, exclusive = true)))
    val dist = Dist.withRunningMinExcl(evn, nBkt, nOrd, col("user_id"), "m")
    assertSame(flat, dist, "event_id", "m")
  }

  test("inclusive running max equals the flat window (the q346 shape)") {
    val flat = evn.withColumn("m", max("user_id").over(running(flatW)))
    val dist = Dist.prefixScan(evn, nBkt, nOrd,
      Seq(Dist.Scan(col("user_id"), Dist.Max, "m")))
    assertSame(flat, dist, "event_id", "m")
  }

  test("exclusive running sum equals the flat window, 0 before the first row (the q196 shape)") {
    val flat = evn.withColumn("s", coalesce(sum("user_id").over(
      running(flatW, exclusive = true)), lit(0L)))
    val dist = Dist.prefixScan(evn, nBkt, nOrd,
      Seq(Dist.Scan(col("user_id"), Dist.Sum, "s")), exclusive = true)
    assertSame(flat, dist, "event_id", "s")
  }

  test("partitioned inclusive running sum equals the flat per-partition window (the q195 shape)") {
    val keyed = evn.withColumn("grp", col("user_id") % 7)
    val flat = keyed.withColumn("s", sum("user_id").over(
      running(Window.partitionBy("grp").orderBy(nOrd: _*))))
    val dist = Dist.prefixScan(keyed, nBkt, nOrd,
      Seq(Dist.Scan(col("user_id"), Dist.Sum, "s")), partition = Seq("grp"))
    assertSame(flat, dist, "event_id", "s")
  }

  test("row number plus a running sum in one scan equal the flat windows (the q368 shape)") {
    val flat = evn
      .withColumn("j", row_number().over(flatW).cast("long"))
      .withColumn("s", sum("user_id").over(running(flatW)))
    val dist = Dist.prefixScan(evn, nBkt, nOrd,
      Seq(Dist.Scan(lit(1L), Dist.Sum, "j"), Dist.Scan(col("user_id"), Dist.Sum, "s")))
    assertSame(flat, dist, "event_id", "j", "s")
  }

  test("no window in the decomposed plan is wider than one bucket (no empty partitionSpec over the corpus)") {
    val shapes = Seq(
      Dist.withRowNumber(ev, nBkt, nOrd, "rn"),
      Dist.withNtile(ev, nBkt, nOrd, 7), // carries the row-count total
      Dist.prefixScan(evn, nBkt, nOrd, Seq(Dist.Scan(col("user_id"), Dist.Min, "m"),
        Dist.Scan(col("user_id"), Dist.Sum, "s")), exclusive = true))
    val windows = shapes.flatMap(_.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    })
    // the only empty-partition windows allowed are the bucket-table
    // prefix and total, whose child is the bucket aggregate
    // (corpus/width rows)
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      val aggBelow = w.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(aggBelow.nonEmpty,
        "global window must sit over the bucket aggregate, not the corpus")
    }
  }
}
