package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev inspection tool, one verb per question, on a [[LocalSession]].
  *
  * usage: runMain graft.Inspect plan <sfDir> q…
  *        runMain graft.Inspect time <sfDir> <n> q…
  *        runMain graft.Inspect audit <sfDir> [q…]
  *
  *  - `plan` runs each query once (its build, then `count`) and prints
  *    every plan that ran, in order, labelled by its action: the eager
  *    `localCheckpoint`s and driver-side `collect`s of the build, then
  *    the final `count`. Each plan is AQE-final, in formatted mode.
  *  - `time` runs each query n times, prints one line per rep, then the
  *    [[settledMedian]]: compare that line across A/B runs with the same
  *    n, never a single rep.
  *  - `audit` is the [[PlanAudit]] scale-hazard sweep over the named
  *    queries (default: every registered one); it exits 1 on any
  *    unexplained hazard.
  */
object Inspect {
  def main(args: Array[String]): Unit = args.toList match {
    case "plan" :: sfDir :: qs => run { s => qs.foreach(plan(s, sfDir, _)); 0 }
    case "time" :: sfDir :: n :: qs => run { s => qs.foreach(time(s, sfDir, n.toInt, _)); 0 }
    case "audit" :: sfDir :: qs => run(audit(_, sfDir, qs))
    case _ => sys.error("usage: Inspect plan <sfDir> q... | time <sfDir> <n> q... | audit <sfDir> [q...]")
  }

  private def run(verb: SparkSession => Int): Unit = {
    val spark = LocalSession()
    val status = try verb(spark) finally spark.stop()
    if (status != 0) sys.exit(status)
  }

  /** Every `QueryExecution` that `body` runs on `spark`'s session, in the
    * order they finished, each with its action's name (`localCheckpoint`,
    * `collect`, `count`, …; a failed one gets " (failed)").
    */
  def capture(spark: SparkSession)(body: => Unit): Seq[(String, QueryExecution)] = {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = ran.add(action -> qe)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit =
        ran.add(s"$action (failed)" -> qe)
    }
    spark.listenerManager.register(listener)
    // the listener bus is asynchronous: drain it before reading
    try { body; GraftBridge.drainListeners(spark) }
    finally spark.listenerManager.unregister(listener)
    ran.asScala.toSeq
  }

  private def plan(spark: SparkSession, sfDir: String, q: String): Unit = {
    val ran = capture(spark)(SparkEntry.queries(q)(spark, sfDir).count())
    ran.zipWithIndex.foreach { case ((action, qe), i) =>
      println(s"== $q ${i + 1}/${ran.size}: $action ==")
      println(qe.explainString(FormattedMode))
    }
  }

  private def time(spark: SparkSession, sfDir: String, n: Int, q: String): Unit = {
    val secs = (1 to n).map { i =>
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sfDir).count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$q run$i $s%.2f s")
      s
    }
    println(f"$q median of reps ${n / 2 + 1}-$n ${settledMedian(secs)}%.2f s ($n reps)")
  }

  /** The median of the second half of the reps (n/2+1 … n): early reps
    * carry JIT warm-up (q291 at sf0.1 keeps falling until rep ~10).
    */
  def settledMedian(secs: Seq[Double]): Double = {
    val late = secs.drop(secs.size / 2).sorted
    (late((late.size - 1) / 2) + late(late.size / 2)) / 2
  }

  private def audit(spark: SparkSession, sfDir: String, only: Seq[String]): Int = {
    val names = if (only.nonEmpty) only else SparkEntry.queries.keys.toSeq.sorted
    var flagged = 0
    var planned = 0
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        if (df.isStreaming) {
          // streaming plans are finalized per-microbatch; static audit n/a
        } else {
          planned += 1
          val a = PlanAudit.audit(df)
          a.infos.foreach(i => println(s"INFO $name: $i"))
          val un = PlanAudit.unexplained(name, a)
          if (un.nonEmpty) {
            flagged += 1
            println(s"FLAG $name: ${un.mkString(", ")}")
          }
        }
      } catch {
        case e: Exception =>
          println(s"PLAN-ERR $name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.toSeq.headOption.getOrElse("")}")
      }
    }
    println(s"\naudited $planned plans, $flagged flagged")
    if (flagged > 0) 1 else 0
  }
}
