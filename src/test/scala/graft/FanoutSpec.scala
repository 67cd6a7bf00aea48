package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Tables.fanout gate logic: repartition fires only for a degenerate
  * (fewer-partitions-than-parallelism) scan whose size estimate is both
  * KNOWN and at least spark.graft.fanout.minBytes, and a sub-threshold
  * input is decided without running anything. Uses its own SQL session
  * (a `newSession()` of the shared context) so the minBytes conf and
  * tiny-threshold experiments cannot leak into other suites.
  */
class FanoutSpec extends SparkSpec {
  override lazy val spark: SparkSession = SparkSpec.session.newSession()
  private val sfDir = sf("sf0.001")

  override def withFixture(test: NoArgTest) = {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir is not present")
    super.withFixture(test)
  }

  private def withMinBytes[A](v: Long)(body: => A): A =
    ConfWindow.withConf(spark, "spark.graft.fanout.minBytes" -> v.toString)(body)

  private def scanDf = Tables.lineitem(spark, sfDir)
    .select("l_orderkey", "l_partkey")

  test("fanout is the identity below the size threshold") {
    val df = scanDf // sf0.001 lineitem is ~100 kB — far below the default 2 MB
    val out = Tables.fanout(df)
    assert(out.queryExecution.optimizedPlan eq df.queryExecution.optimizedPlan,
      "sub-threshold input must come back untouched")
  }

  test("fanout of a sub-threshold aggregated frame starts no Spark job") {
    // the read, the aggregate and the gate all run inside the window
    val jobs = jobsDuring {
      val agg = scanDf.groupBy("l_orderkey").agg(count(lit(1)).as("n"))
      val out = Tables.fanout(agg)
      assert(out.queryExecution.optimizedPlan eq agg.queryExecution.optimizedPlan)
    }
    assert(jobs.isEmpty, s"building and gating a sub-threshold frame ran ${jobs.size} job(s)")
  }

  test("fanout spreads a degenerate scan when the estimate clears the threshold") {
    withMinBytes(1L) {
      val out = Tables.fanout(scanDf)
      assert(out.rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism,
        "above-threshold degenerate scan must fan to defaultParallelism")
    }
  }

  test("tiny checkpointed inputs are not fanned under the default threshold") {
    // Spark 4's LogicalRDD propagates ORIGIN stats through
    // localCheckpoint, so a small checkpointed frame (q151's ~1.6k-row
    // bucket tables) estimates small and stays untouched under the
    // default 2 MB gate; the Long.MaxValue/4 sentinel guard in
    // shouldFan additionally covers RDD-backed frames without origin
    // stats.
    val ck = scanDf.limit(50).localCheckpoint()
    try {
      val out = Tables.fanout(ck)
      assert(out.queryExecution.optimizedPlan eq ck.queryExecution.optimizedPlan,
        "tiny checkpointed frame must not fan under the default threshold")
    } finally ck.unpersist(blocking = false)
  }

  test("fanout preserves the exact row multiset") {
    withMinBytes(1L) {
      val base = scanDf
      val a = base.groupBy("l_orderkey").agg(sum("l_partkey").as("s"))
        .orderBy("l_orderkey").collect()
      val b = Tables.fanout(base).groupBy("l_orderkey")
        .agg(sum("l_partkey").as("s")).orderBy("l_orderkey").collect()
      assert(a.sameElements(b))
    }
  }
}
