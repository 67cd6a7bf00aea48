package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** `Inspect`'s plan capture and its timing rule. */
class InspectSpec extends SparkSpec {

  test("capture shows the plan a localCheckpoint ran, which the final plan hides") {
    val ran = Inspect.capture(spark) {
      spark.range(0, 1000, 1, 1).repartition(4)
        .groupBy((col("id") % 7).as("k")).agg(sum("id").as("s"))
        .localCheckpoint()
        .collect()
    }
    assert(ran.map(_._1) == Seq("localCheckpoint", "collect"))
    val plans = ran.map(_._2.explainString(FormattedMode))
    assert(plans.head.contains("isFinalPlan=true"), plans.head)
    assert(plans.head.contains("RoundRobinPartitioning"), plans.head)
    assert(!plans.last.contains("RoundRobinPartitioning"), plans.last)
  }

  test("the settled median is the median of the second half of the reps") {
    assert(Inspect.settledMedian(Seq(2.5)) == 2.5)
    // n = 5: reps 3-5
    assert(Inspect.settledMedian(Seq(9.0, 8.0, 3.0, 1.0, 2.0)) == 2.0)
    // n = 6: reps 4-6
    assert(Inspect.settledMedian(Seq(9.0, 8.0, 7.0, 4.0, 1.0, 2.0)) == 2.0)
    // n = 4: reps 3-4, the mean of the two
    assert(Inspect.settledMedian(Seq(9.0, 8.0, 3.0, 1.0)) == 2.0)
  }
}
