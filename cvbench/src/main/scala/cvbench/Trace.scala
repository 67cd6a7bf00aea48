package cvbench

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts of the final (post-AQE) physical plan of one action. */
final case class PlanShape(exchanges: Int, reused: Int, singlePartition: Int,
    bnlj: Int, checkpointScans: Int) {
  def +(o: PlanShape): PlanShape = PlanShape(exchanges + o.exchanges, reused + o.reused,
    singlePartition + o.singlePartition, bnlj + o.bnlj, checkpointScans + o.checkpointScans)
}

object PlanShape {
  val empty: PlanShape = PlanShape(0, 0, 0, 0, 0)

  def of(plan: SparkPlan): PlanShape = {
    var ex, reused, single, bnlj, ckpt = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec => reused += 1
        case e: Exchange =>
          ex += 1
          e match {
            case s: ShuffleExchangeExec if s.outputPartitioning == SinglePartition => single += 1
            case _ =>
          }
        case _: BroadcastNestedLoopJoinExec => bnlj += 1
        case _: RDDScanExec => ckpt += 1
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    PlanShape(ex, reused, single, bnlj, ckpt)
  }
}

/** One operation as the benchmark thread saw it. Times are epoch ms, to
  * line up with the listener events; `buildEnd` splits the call into the
  * registered query function from the action. */
final case class OpSpan(key: String, op: String, pass: Int, sql: Boolean,
    start: Long, buildEnd: Long, end: Long)

final case class JobSpan(op: String, id: Int, start: Long, end: Long)

final case class StageSpan(op: String, id: Int, numTasks: Int, submitted: Long,
    completed: Long, inputBytes: Long, inputRecords: Long, runMs: Long, cpuNs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, shuffleRecords: Long,
    spillBytes: Long, taskMs: Seq[Long])

final case class BatchSpan(query: UUID, batchId: Long, triggerMs: Long, addBatchMs: Long,
    inputRows: Long)

/** Records spans at the engine's boundaries through Spark's public
  * listener APIs: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (the final plan of each timed action) and a
  * StreamingQueryListener (micro-batches). Listeners are attached only
  * for traced passes; spans stay in memory until [[dump]].
  *
  * Jobs carry the local property [[OpKey]] set by the benchmark thread,
  * which ties every job, stage and task (also those of streams, whose
  * threads inherit it) to exactly one operation.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val jobs = new ConcurrentHashMap[Int, JobSpan]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val taskMs = new ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()
  private val stages = new ConcurrentLinkedQueue[StageSpan]()
  private val batches = new ConcurrentLinkedQueue[BatchSpan]()
  private val terminated = ConcurrentHashMap.newKeySet[UUID]()
  // identity of the QueryExecution each traced action runs -> its op key
  private val wanted = new java.util.IdentityHashMap[QueryExecution, String]()
  private val shapes = new ConcurrentHashMap[String, PlanShape]()
  private val ops = new ConcurrentLinkedQueue[OpSpan]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
        jobs.put(e.jobId, JobSpan(op, e.jobId, e.time, -1L))
        e.stageIds.foreach(stageOp.put(_, op))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageOp.containsKey(e.stageId) && e.taskInfo != null)
        taskMs.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new ConcurrentLinkedQueue[Long]())
          .add(e.taskInfo.duration)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val op = stageOp.get(i.stageId)
      if (op != null && i.taskMetrics != null) {
        val m = i.taskMetrics
        val durations = Option(taskMs.remove((i.stageId, i.attemptNumber())))
          .map(_.asScala.toSeq).getOrElse(Nil)
        stages.add(StageSpan(op, i.stageId, i.numTasks, i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L), m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.recordsWritten,
          m.diskBytesSpilled, durations))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val op = wanted.synchronized(wanted.remove(qe))
      if (op != null) shapes.merge(op, PlanShape.of(qe.executedPlan), _ + _)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      wanted.synchronized(wanted.remove(qe))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches.add(BatchSpan(p.id, p.batchId, ms("triggerExecution"), ms("addBatch"), p.numInputRows))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.add(e.id)
  }

  private val started = ConcurrentHashMap.newKeySet[UUID]()

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every event of the traced pass is delivered, then detach.
    * A marker action's plan callback arrives after all earlier events on
    * the same listener queue; stream events have their own queue and end
    * with each query's termination event. */
  def detach(): Unit = {
    val marker = spark.range(1).groupBy().count()
    want(marker, MarkerOp)
    marker.collect()
    val deadline = System.currentTimeMillis() + 60000
    def pending = !shapes.containsKey(MarkerOp) ||
      started.asScala.exists(id => !terminated.contains(id))
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(5)
    require(!pending, "trace events were not delivered within 60 s")
    shapes.remove(MarkerOp)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(sparkListener)
  }

  /** Record the final plan of the action that `df` runs next. */
  def want(df: DataFrame, opKey: String): Unit =
    wanted.synchronized(wanted.put(df.queryExecution, opKey))

  def streamStarted(id: UUID): Unit = started.add(id)
  def record(op: OpSpan): Unit = ops.add(op)

  def opSpans: Seq[OpSpan] = ops.asScala.toSeq
  def jobSpans: Seq[JobSpan] = jobs.values.asScala.toSeq
  def stageSpans: Seq[StageSpan] = stages.asScala.toSeq
  def batchSpans: Seq[BatchSpan] = batches.asScala.toSeq
  def shape(opKey: String): PlanShape = shapes.getOrDefault(opKey, PlanShape.empty)

  /** Per-layer metrics summed over the given operations (one pass). */
  def layers(pass: Seq[OpSpan], cores: Int): Map[String, Double] = {
    val keys = pass.map(_.key).toSet
    val js = jobSpans.filter(j => keys(j.op) && j.end >= 0)
    val ss = stageSpans.filter(s => keys(s.op))
    val sql = pass.filter(_.sql)
    val jobsOf = js.groupBy(_.op)
    val scans = ss.filter(s => s.inputBytes > 0 || s.inputRecords > 0)
    val multi = ss.filter(_.taskMs.length >= 2)
    val skewDen = multi.map(s => Stats.median(s.taskMs.map(_.toDouble))).sum
    val wallMs = pass.map(o => (o.end - o.start).toDouble).sum
    val shapeSum = pass.map(o => shape(o.key)).foldLeft(PlanShape.empty)(_ + _)
    val mb = 1024.0 * 1024
    Map(
      "SparkEntry.build_s" -> sql.map(o => (o.buildEnd - o.start) / 1e3).sum,
      "SparkEntry.build_jobs" -> sql.map(o =>
        jobsOf.getOrElse(o.key, Nil).count(_.start < o.buildEnd)).sum.toDouble,
      "SparkEntry.action_s" -> sql.map(o => (o.end - o.buildEnd) / 1e3).sum,
      "SparkEntry.driver_only_s" -> sql.map(o =>
        Stats.driverOnly(o.start, o.end, jobsOf.getOrElse(o.key, Nil).map(j => (j.start, j.end))) / 1e3).sum,
      "Tables.scan_mb" -> scans.map(_.inputBytes / mb).sum,
      "Tables.scan_rows" -> scans.map(_.inputRecords.toDouble).sum,
      "Tables.scan_tasks" -> scans.map(_.numTasks.toDouble).sum,
      "Tables.scan_stage_s" -> scans.map(s => (s.completed - s.submitted) / 1e3).sum,
      "plan.exchanges" -> shapeSum.exchanges.toDouble,
      "plan.reused_exchanges" -> shapeSum.reused.toDouble,
      "plan.single_partition" -> shapeSum.singlePartition.toDouble,
      "plan.bnlj" -> shapeSum.bnlj.toDouble,
      "plan.checkpoint_rdds" -> shapeSum.checkpointScans.toDouble,
      "spark.jobs" -> js.length.toDouble,
      "spark.stages" -> ss.length.toDouble,
      "spark.tasks" -> ss.map(_.numTasks.toDouble).sum,
      "spark.task_run_s" -> ss.map(_.runMs / 1e3).sum,
      "spark.task_cpu_s" -> ss.map(_.cpuNs / 1e9).sum,
      "spark.parallel_eff" -> (if (wallMs > 0) ss.map(_.runMs.toDouble).sum / (wallMs * cores) else 0.0),
      "spark.task_skew" -> (if (skewDen > 0) multi.map(_.taskMs.max.toDouble).sum / skewDen else 1.0),
      "shuffle.write_mb" -> ss.map(_.shuffleWriteBytes / mb).sum,
      "shuffle.read_mb" -> ss.map(_.shuffleReadBytes / mb).sum,
      "shuffle.records" -> ss.map(_.shuffleRecords.toDouble).sum,
      "spill.mb" -> ss.map(_.spillBytes / mb).sum,
    )
  }

  /** Write every recorded span as JSON lines. */
  def dump(path: java.nio.file.Path): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines =
      opSpans.map(o => s"""{"span":"op","key":${q(o.key)},"op":${q(o.op)},"pass":${o.pass},"start":${o.start},"build_end":${o.buildEnd},"end":${o.end}}""") ++
      jobSpans.map(j => s"""{"span":"job","op":${q(j.op)},"id":${j.id},"start":${j.start},"end":${j.end}}""") ++
      stageSpans.map(s => s"""{"span":"stage","op":${q(s.op)},"id":${s.id},"tasks":${s.numTasks},"start":${s.submitted},"end":${s.completed},"input_bytes":${s.inputBytes},"input_records":${s.inputRecords},"run_ms":${s.runMs},"cpu_ns":${s.cpuNs},"shuffle_write_bytes":${s.shuffleWriteBytes},"shuffle_read_bytes":${s.shuffleReadBytes},"spill_bytes":${s.spillBytes}}""") ++
      batchSpans.map(b => s"""{"span":"micro_batch","query":${q(b.query.toString)},"batch":${b.batchId},"trigger_ms":${b.triggerMs},"add_batch_ms":${b.addBatchMs},"rows":${b.inputRows}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val OpKey = "cvbench.op"
  private val MarkerOp = "trace-drain-marker"
}
