package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tables.fanout's one rule: repartition fires only for a frame with
  * fewer partitions than defaultParallelism whose size estimate is at
  * least 2 MB, and the decision itself never runs a Spark job. Uses its
  * own SQL session (a `newSession()` of the shared context) so nothing
  * set here leaks into other suites.
  */
class FanoutSpec extends SparkSpec {
  override lazy val spark: SparkSession = SparkSpec.session.newSession()
  private val sfDir = sf("sf0.001")

  override def withFixture(test: NoArgTest) = {
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir is not present")
    super.withFixture(test)
  }

  private def scanDf = Tables.lineitem(spark, sfDir)
    .select("l_orderkey", "l_partkey")

  // one partition, and an estimate far above the 2 MB gate
  private def bigDf = spark.range(0, 2000000, 1, 1).toDF()

  private def estimate(df: DataFrame) =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  test("fanout is the identity below the size threshold") {
    val df = scanDf // sf0.001 lineitem is ~100 kB — far below the 2 MB gate
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
    assert(estimate(bigDf) >= 2L * 1024 * 1024 && bigDf.rdd.getNumPartitions == 1)
    val out = Tables.fanout(bigDf)
    assert(out.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      "above-threshold degenerate scan must fan to defaultParallelism")
  }

  test("an above-threshold aggregated frame is decided without a Spark job") {
    val agg = bigDf.groupBy((col("id") % 1000).as("k")).agg(count(lit(1)).as("n"))
    assert(estimate(agg) >= 2L * 1024 * 1024)
    // the partition probe plans the aggregation under AQE; it must not
    // run its shuffle map stage
    val jobs = jobsDuring(Tables.fanout(agg))
    assert(jobs.isEmpty, s"gating an above-threshold aggregate ran ${jobs.size} job(s)")
  }

  test("tiny checkpointed inputs are not fanned under the default threshold") {
    // Spark 4's LogicalRDD propagates ORIGIN stats through
    // localCheckpoint, so a small checkpointed frame (q151's ~1.6k-row
    // bucket tables) estimates small and stays untouched under the
    // 2 MB gate.
    val ck = scanDf.limit(50).localCheckpoint()
    try {
      val out = Tables.fanout(ck)
      assert(out.queryExecution.optimizedPlan eq ck.queryExecution.optimizedPlan,
        "tiny checkpointed frame must not fan under the default threshold")
    } finally ck.unpersist(blocking = false)
  }

  test("fanout preserves the exact row multiset") {
    def sums(df: DataFrame) =
      df.groupBy((col("id") % 1000).as("k")).agg(sum("id").as("s")).orderBy("k").collect()
    assert(sums(bigDf).sameElements(sums(Tables.fanout(bigDf))))
  }
}
