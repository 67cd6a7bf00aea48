package cvbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of one workload: one client runs operations back
  * to back on `local[<cores>]`.
  *
  * {{{
  * cvbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * A run sets up its inputs five times (the median is `setup_s`), warms
  * up on those same inputs, then runs timed passes until `--seconds` have
  * passed (at least three). The last line of standard output is one JSON
  * object: end-to-end metrics with `--trace 0`, per-layer metrics with
  * `--trace 1`. See README.md beside this build for every metric.
  */
object Main {
  // the first set-up runs on a cold JVM; the median of five is a warm one
  val SetupReps = 5
  // one warm-up pass: the run budget (about a minute a run, see README.md)
  // leaves no room for more, and the median over the timed passes absorbs
  // the first timed pass's extra JIT work
  val WarmPasses = 1
  val MinTimedPasses = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(s"bad arguments near ${a.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") match { case "1" => true; case "0" => false
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t") },
      get("work"))
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(args: Array[String]): Unit = {
    val status = try { run(parse(args)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    // Spark leaves non-daemon threads behind; exit explicitly
    System.exit(status)
  }

  /** Timings of one operation execution. */
  final case class OpTime(op: String, wallS: Double, cpuS: Double, gcS: Double, jitS: Double)
  final case class PassResult(pass: Int, traced: Boolean, ops: Seq[OpTime],
      layers: Map[String, Double], batchS: Seq[Double]) {
    def wallS: Double = ops.map(_.wallS).sum
    /** Process CPU less the JIT compiler's time: the compiler threads are
      * still busy through every timed pass of a run this short, and how
      * much they compile varies more from run to run than the engine. */
    def cpuS: Double = ops.map(o => o.cpuS - o.jitS).sum
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  // survivor and old generation: with a fixed-size heap, eden fills to
  // its limit between collections whatever the program keeps alive
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && !p.getName.contains("Eden")).toSeq

  /** Time the hypervisor ran other guests on this machine's CPUs, in
    * clock ticks (0 where /proc/stat does not report it). */
  private def stealTicks: Long = scala.util.Try {
    val s = scala.io.Source.fromFile("/proc/stat")
    try s.getLines().next().trim.split("\\s+")(8).toLong finally s.close()
  }.getOrElse(0L)

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f)) finally s.close()
  }

  def run(a: Args): Unit = {
    val w = Workloads(a.workload)
    val load = scala.util.Try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.split("\\s+")(0) finally s.close()
    }.getOrElse("unknown")
    val cores = Runtime.getRuntime.availableProcessors
    println(s"# cvbench workload=${w.name} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} cores=$cores load1=$load")
    val work = Paths.get(a.work).toAbsolutePath.resolve(s"${w.name}-${ProcessHandle.current.pid}")
    deleteTree(work)
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try measure(a, w, work, cores, spark, sessionS) finally {
      spark.stop()
      deleteTree(work)
    }
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("cvbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // as graft.Bench: a codegen cache that holds every pass's classes,
      // and context-cleaner GCs on a fixed period
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.cleaner.periodicGC.interval", "30s")
      // bounded status bookkeeping, so live heap at the end reflects the
      // engine and not how many passes the run had time for
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def measure(a: Args, w: Workload, work: Path, cores: Int, spark: SparkSession,
      sessionS: Double): Unit = {
    val sc = spark.sparkContext

    // set-up: the same inputs generated SetupReps times; the last copy is used
    val setupS = (0 until SetupReps).map { r =>
      val dir = work.resolve(s"input-$r")
      val s0 = System.nanoTime()
      w.setup(spark, dir.toString, a.seed)
      val s = (System.nanoTime() - s0) / 1e9
      if (r > 0) deleteTree(work.resolve(s"input-${r - 1}"))
      s
    }
    val input = work.resolve(s"input-${SetupReps - 1}").toString

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    var attempted = 0
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    def runPass(k: Int, traced: Boolean): PassResult = {
      // hygiene outside every timer: no memo crosses passes, fresh sinks
      graft.Memos.reset()
      val passDir = work.resolve(s"pass-$k")
      Files.createDirectories(passDir)
      val tr = tracer.filter(_ => traced)
      tr.foreach(_.attach())
      val ctx = new Ctx(spark, input, a.seed, passDir, tr)
      val times = w.pass(a.seed, k).map { op =>
        ctx.opKey = s"$k/${op.name}"
        sc.setLocalProperty(Tracer.OpKey, ctx.opKey)
        val (c0, g0, j0) = (os.getProcessCpuTime, gcMs, jitMs)
        val t = new Timer
        val check = try Right(op.run(ctx, t)) catch { case e: Throwable => Left(e) }
        if (t.stopNs < 0) t.stop()
        val time = OpTime(op.name, (t.stopNs - t.startNs) / 1e9,
          (os.getProcessCpuTime - c0) / 1e9, (gcMs - g0) / 1e3, (jitMs - j0) / 1e3)
        sc.setLocalProperty(Tracer.OpKey, null)
        attempted += 1
        val problem = check.fold(e => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"),
          verify => try verify() catch { case e: Throwable => Some(s"check threw ${e.getMessage}") })
        problem.foreach(p => failures += s"pass $k ${op.name}: $p")
        tr.foreach(_.record(OpSpan(ctx.opKey, op.name, k, op.sql, t.startMs,
          if (t.builtMs < 0) t.stopMs else t.builtMs, t.stopMs)))
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        if (problem.isEmpty) Some(time) else None
      }
      tr.foreach(_.detach())
      deleteTree(passDir)
      val ops = times.flatten
      println(f"# pass $k${if (traced) " traced" else ""}: " +
        ops.map(o => f"${o.op}=${o.wallS}%.3f").mkString(" "))
      val ingestBatches = tr.toSeq.flatMap(_.batchSpans).filter(b =>
        ctx.state.get("ingest_query").contains(b.query) && b.inputRows > 0)
      val layers = tr.map { t =>
        t.layers(t.opSpans.filter(_.pass == k), cores) ++ passLayers(ingestBatches, ctx, ops)
      }.getOrElse(Map.empty)
      PassResult(k, traced, ops, layers, ingestBatches.map(_.triggerMs / 1e3))
    }

    val w0 = System.nanoTime()
    (0 until WarmPasses).foreach(k => runPass(-1 - k, traced = false))
    val warmS = (System.nanoTime() - w0) / 1e9

    heapPools.foreach(_.resetPeakUsage())
    val (steal0, jit0) = (stealTicks, jitMs)
    val timedStart = System.nanoTime()
    // after an untraced first pass, traced runs take passes in blocks of
    // four, traced and untraced as T U U T, so that a trend in pass time
    // cancels out of the overhead
    val minPasses = if (a.trace) 5 else MinTimedPasses
    def tracedPass(k: Int) = a.trace && k >= 1 && ((k - 1) % 4 == 0 || (k - 1) % 4 == 3)
    val done = scala.collection.mutable.ArrayBuffer.empty[PassResult]
    var k = 0
    while (k < minPasses || (System.nanoTime() - timedStart) / 1e9 < a.seconds ||
        (a.trace && (k - 1) % 4 != 0)) {
      done += runPass(k, traced = tracedPass(k))
      k += 1
    }
    println(f"# timed region: ${(System.nanoTime() - timedStart) / 1e9}%.3f s, " +
      f"jit ${(jitMs - jit0) / 1e3}%.3f s, cpu steal ${(stealTicks - steal0) / 100.0}%.2f s")
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val driverLayers = if (a.trace) w.driverLayers(spark, input) else Map.empty[String, Double]

    // live heap: the context cleaner frees shuffles and broadcasts only
    // after a collection finds them unreachable, so collect, give the
    // cleaner time, and collect again
    spark.catalog.clearCache()
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val plain = done.filterNot(_.traced).toSeq
    val traced = done.filter(_.traced).toSeq
    val opNames = plain.flatMap(_.ops.map(_.op)).distinct
    val opMedians = opNames.map(o => o -> Stats.median(plain.flatMap(_.ops.filter(_.op == o).map(_.wallS))))
    val allOps = plain.flatMap(_.ops.map(_.wallS))

    // a run whose operations all failed still reports, with correct=false
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    val endToEnd = Seq(
      ("wall_s", "s", med(plain.map(_.wallS))),
      ("cpu_s", "s", med(plain.map(_.cpuS))),
      ("setup_s", "s", Stats.median(setupS)),
      ("op_geomean_s", "s", if (opMedians.isEmpty) Double.NaN else Stats.geomean(opMedians.map(_._2))),
      ("heap_live_mb", "MB", heapLiveMb))

    println(f"# session_start_s=$sessionS%.3f warmup_s=$warmS%.3f setup_reps=${setupS.map(s => f"$s%.3f").mkString(",")}")
    println(s"# timed passes: ${plain.length} untraced, ${traced.length} traced")
    opMedians.foreach { case (o, m) => println(f"# op $o median_s=$m%.4f") }
    Stats.reportablePercentile(allOps.length).foreach { p =>
      println(f"# op latency p$p%s=${Stats.percentile(allOps, p)}%.4f s over n=${allOps.length} op executions")
    }
    failures.foreach(f => println(s"# FAILED $f"))

    val metrics: Seq[(String, String, Double)] =
      if (!a.trace) endToEnd
      else {
        val layerNames = traced.flatMap(_.layers.keys).distinct.sorted
        val perLayer = layerNames.map { n =>
          (n, unit(n), med(traced.map(_.layers.getOrElse(n, 0.0))))
        }
        val jvm = Seq(
          ("jvm.gc_s", "s", med(traced.map(_.ops.map(_.gcS).sum))),
          ("jvm.jit_s", "s", med(traced.map(_.ops.map(_.jitS).sum))),
          ("jvm.heap_peak_mb", "MB", heapPeakMb))
        // blocks of T U U T: the ratio of geometric means cancels a
        // geometric trend in pass time, which the JIT's warm-up roughly is;
        // the first pass, further off that trend, stays out
        val blockPlain = plain.filter(_.pass >= 1)
        val walls = (traced ++ blockPlain).map(_.wallS)
        val overhead = if (walls.exists(_ <= 0)) Double.NaN
          else Stats.geomean(traced.map(_.wallS)) / Stats.geomean(blockPlain.map(_.wallS))
        val imaging = Seq("decode", "metadata", "statistics", "tensorize")
          .map(l => (s"imaging.${l}_ms", "ms", driverLayers.getOrElse(s"imaging.${l}_ms", 0.0)))
        // micro-batch latencies pooled over the traced passes
        val batchS = traced.flatMap(_.batchS)
        val tails = Seq(50.0, 90.0).map { p =>
          if (batchS.nonEmpty && Stats.beyond(batchS.length, p) < 10)
            println(s"# ingest.batch_p${p.toInt}_s rests on ${batchS.length} micro-batches, fewer than ten beyond it")
          (s"ingest.batch_p${p.toInt}_s", "s", if (batchS.isEmpty) 0.0 else Stats.percentile(batchS, p))
        }
        println(f"# tracing overhead: traced wall_s / untraced wall_s = $overhead%.4f")
        perLayer ++ tails ++ imaging ++ jvm :+ (("trace.overhead", "ratio", overhead))
      }
    metrics.foreach { case (n, u, v) => println(s"# metric $n = $v $u") }
    tracer.foreach(_.dump(work.getParent.resolve(s"trace-${w.name}-seed${a.seed}.jsonl")))

    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
    val json = metrics.map { case (n, u, v) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": ${failures.length}, "metrics": $json}""")
  }

  private def unit(metric: String): String =
    if (metric.endsWith("_ms")) "ms"
    else if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("mb")) "MB"
    else if (metric.endsWith("parallel_eff") || metric.endsWith("task_skew")) "ratio"
    else "count"

  /** Per-pass layer metrics of the ingest and ML operations. */
  private def passLayers(batches: Seq[BatchSpan], ctx: Ctx, ops: Seq[OpTime]): Map[String, Double] = {
    def wall(op: String) = ops.filter(_.op == op).map(_.wallS).sum
    val sink = ctx.state.get("sink_files").map(_.asInstanceOf[(Int, Long)]).getOrElse((0, 0L))
    Map(
      "ingest.batch_s" -> wall("batch_enrich"),
      "ingest.stream_s" -> wall("stream_ingest"),
      "ingest.micro_batches" -> batches.length.toDouble,
      "ingest.sink_write_s" -> batches.map(_.addBatchMs / 1e3).sum,
      "ingest.sink_files" -> sink._1.toDouble,
      "ingest.sink_mb" -> sink._2 / 1048576.0,
      "ml.features_s" -> wall("features"),
      "ml.train_s" -> wall("train"),
      "ml.score_stream_s" -> wall("score_stream"))
  }
}
