package graft

/** Dev tool: print the physical plan of a query.
  * usage: runMain graft.Plan <sfDir> <queryName> [fmt]
  * Default prints the AQE-finalized executed plan treeString; pass "fmt"
  * to ALSO print explain("formatted") (pre-execution plan with the
  * numbered operator list, PushedFilters/ReadSchema details — the shape
  * the plans/r12 evidence files pin).
  */
object Plan {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(args(1))(spark, args(0))
    // q351 returns a checkpointed frame (its plan must be built under a
    // constraint-propagation-off execution window) — for plan evidence,
    // additionally print the INNER cascade plan under that same window.
    if (args(1) == "q351_forget_cascade" && args.length > 2 && args(2) == "fmt") {
      // same save/set/restore window Lifecycle.forgetCascade executes under
      ConfWindow.withConf(spark,
        "spark.sql.constraintPropagation.enabled" -> "false") {
        val inner = ops.Lifecycle.forgetCascadePlan(
          Tables.customer(spark, args(0)), Tables.orders(spark, args(0)),
          Tables.lineitem(spark, args(0)), Tables.events(spark, args(0)))
        println("== inner cascade plan, constraint propagation OFF ==")
        println(inner.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }
    // q279 is driver-iterative (the final frame is the driver-local pick
    // list) — for plan evidence, print the LAST greedy round's distance
    // pass (3 selected seeds) instead, reconstructed from the actual picks.
    if (args(1) == "q279_kcenter_seeds" && args.length > 2 && args(2) == "fmt") {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(spark, args(0))
      val picks = df.collect().map(_.getLong(1)).take(3).toSeq
      val vecs = emb.filter(col("vec_id").isInCollection(picks))
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      val round4 = text.Geometry.kcenterRoundFrame(emb, picks, picks.map(vecs))
      println("== round-4 distance pass (3 seeds), explain(formatted) ==")
      println(round4.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    if (args.length > 2 && args(2) == "fmt") {
      println("== explain(formatted), pre-execution ==")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    df.count() // let AQE finalize
    println("== executed plan (AQE final) ==")
    println(df.queryExecution.executedPlan.treeString)
    spark.stop()
  }
}
