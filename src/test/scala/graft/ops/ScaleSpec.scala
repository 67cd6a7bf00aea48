package graft.ops

import graft.{SparkSpec, Tables}
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** Scale-utility tests: salting equivalence, bucketed-join shuffle
  * elimination, SQL registration of custom expressions.
  */
class ScaleSpec extends SparkSpec {

  test("salted count equals direct count") {
    val ev = Tables.events(spark, sf("sf0.001"))
    val direct = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect().map(r => (r.getString(0), r.getLong(1)))
    val salted = Scale.saltedCount(ev, "event_type")
      .orderBy("event_type").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(direct.toSeq == salted.toSeq)
  }

  test("bloom-pruned join equals the plain join (false positives removed)") {
    val l = Tables.lineitem(spark, sf("sf0.001"))
    val o = Tables.orders(spark, sf("sf0.001"))
    val pruned = Scale.bloomPrunedRevenue(spark, l, o).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val plain = l.join(o.filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n_items"))
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(pruned.toSeq == plain.toSeq)
  }

  test("bucketed join plan has no shuffle exchange") {
    val o = Tables.orders(spark, sf("sf0.001")).select("o_orderkey", "o_totalprice")
    val l = Tables.lineitem(spark, sf("sf0.001"))
      .groupBy(col("l_orderkey").as("o_orderkey")).agg(count(lit(1)).as("n_items"))
    val joined = Scale.bucketedJoin(spark, o, l, "o_orderkey", 4, "graft_bj")
    val plan = joined.queryExecution.executedPlan.treeString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n${plan.take(1500)}")
    assert(joined.count() > 0)
    spark.sql("drop table if exists graft_bj_l")
    spark.sql("drop table if exists graft_bj_r")
  }

  test("partitioned layout prunes the scan to the filtered date dirs") {
    val df = Scale.partitionPrunedCounts(spark, sf("sf0.001"))
    // AQE wraps the physical plan; unwrap to reach the scan node
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a FileSourceScanExec")
    val scan = scans.head
    // static date-literal filter must land in PartitionFilters (listing-
    // time skip), not merely as a post-scan Filter
    assert(scan.partitionFilters.nonEmpty,
      s"no partition filters:\n${df.queryExecution.executedPlan.treeString.take(1500)}")
    // 2024-01-01..03 of 30 date partitions survive the pruning
    assert(scan.selectedPartitions.partitionCount == 3,
      s"expected 3 pruned partitions, got ${scan.selectedPartitions.partitionCount}")
    // and the pruned aggregate equals the plain filtered aggregate
    val expected = Tables.events(spark, sf("sf0.001"))
      .filter(to_date(col("ts")) <= lit("2024-01-03").cast("date"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect().map(r => (r.getString(0), r.getLong(1)))
    val pruned = df.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(pruned.toSeq == expected.toSeq)
  }

  test("cosine_sim and vec_sum usable from SQL after registration") {
    GraftFunctions.registerAll(spark)
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    emb.createOrReplaceTempView("emb_t")
    val self = spark.sql(
      "select cosine_sim(embedding, embedding) as c from emb_t limit 5").collect()
    assert(self.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9))
    val vs = spark.sql(
      "select label, vec_sum(cast(embedding as array<double>)) as s from emb_t group by label")
      .collect()
    assert(vs.nonEmpty && vs.forall(_.getSeq[Double](1).length == 64))
  }
}
