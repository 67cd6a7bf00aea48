package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CI gate for the surface-wide scale-hazard audit (SURVEY.md §4): a
  * future corpus-wide global window / mid-plan global sort / cartesian
  * product regression on ANY registered query fails `sbt test`, not just
  * the standalone `runMain graft.Inspect audit`.
  */
class PlanAuditSpec extends SparkSpec {

  test("the audit detector trips on a deliberately flat global window") {
    val flat = Tables.events(spark, sf("sf0.001"))
      .withColumn("rn", row_number().over(
        Window.orderBy("event_id"))) // corpus through one task: the hazard class
    val a = PlanAudit.audit(flat)
    assert(a.hazards.contains("GLOBAL-WINDOW"),
      s"expected GLOBAL-WINDOW, got ${a.hazards}")
  }

  test("the detector does NOT trip on a bounded (aggregated-frame) global window") {
    val bounded = Tables.events(spark, sf("sf0.001"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(Window.orderBy(desc("n"))))
    val a = PlanAudit.audit(bounded)
    assert(a.hazards.isEmpty, s"bounded window flagged: ${a.hazards}")
    assert(a.infos.exists(_.contains("bounded-by=[event_type]")),
      s"expected a bounded-by annotation, got ${a.infos}")
  }

  test("the detector trips on a quadratic dominance BNLJ over a corpus-keyed aggregate") {
    val m = Tables.events(spark, sf("sf0.001"))
      .groupBy("event_id").agg(sum("value").as("v"), count(lit(1)).as("n"))
    val o = m.select(col("v").as("v2"), col("n").as("n2"))
    // the q151-r11 shape: corpus-proportional manifest broadcast into a
    // non-equi anti-join — O(|ids|²) compares
    val dominance = m.join(broadcast(o),
      col("v2") <= col("v") && col("n2") <= col("n") &&
        (col("v2") < col("v") || col("n2") < col("n")), "left_anti")
    val a = PlanAudit.audit(dominance)
    assert(a.hazards.exists(_.startsWith("BNLJ-CORPUS-BROADCAST")),
      s"expected BNLJ-CORPUS-BROADCAST, got ${a.hazards}")
  }

  test("the detector does NOT trip on a dim-bounded non-equi broadcast join") {
    val bands = Tables.nation(spark, sf("sf0.001"))
      .groupBy("n_nationkey").agg(count(lit(1)).as("lo"))
      .select(col("lo"), (col("lo") + 10).as("hi"))
    val banded = Tables.events(spark, sf("sf0.001"))
      .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
    val a = PlanAudit.audit(banded)
    assert(!a.hazards.exists(_.startsWith("BNLJ")),
      s"fixed-domain (n_nationkey) build side flagged: ${a.hazards}")
  }

  test("the streaming pipelines' batch twins plan clean") {
    // the streaming queries run to completion at construction time (their
    // result frame is checkpointed — opaque to the audit), so their
    // transform shapes are audited through StreamingOps.batchTwins
    val dir = sf("sf0.001")
    val flagged = graft.streaming.StreamingOps.batchTwins.flatMap { case (name, fn) =>
      val un = PlanAudit.unexplained(name, PlanAudit.audit(fn(spark, dir)))
      if (un.nonEmpty) Some(s"$name: ${un.mkString(", ")}") else None
    }
    assert(flagged.isEmpty, s"scale hazards in streaming twins:\n${flagged.mkString("\n")}")
  }

  test("every registered batch query plans clean (no unexplained scale hazards)") {
    val dir = sf("sf0.001")
    val flagged = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, dir)
      if (df.isStreaming) None // per-microbatch plans; static audit n/a
      else {
        val un = PlanAudit.unexplained(name, PlanAudit.audit(df))
        if (un.nonEmpty) Some(s"$name: ${un.mkString(", ")}") else None
      }
    }
    assert(flagged.isEmpty, s"scale hazards:\n${flagged.mkString("\n")}")
  }
}
