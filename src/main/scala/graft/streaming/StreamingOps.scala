package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import graft.{ConfWindow, Q, QueryModule, Tables}
import graft.Num.{dec, dsum}

/** Structured-Streaming operators (SURVEY.md §1.4/§3.1): the engine's
  * streaming surface beyond the ingest pipeline — event-time windowed
  * aggregation with watermark, stream-stream and stream-static joins,
  * dedup, transformWithState sessionization and foreachBatch table
  * maintenance. Every stream query is a transform of the events frame
  * plus a read-back, run by one AvailableNow runner ([[runStream]]),
  * which owns the conf window, the checkpoint, the data-batch guard and
  * the sink's cleanup; the results are deterministic and oracle-checked
  * (the windowed aggregation shares its batch twin q16's SQL). The same
  * transforms applied to the batch events table are [[batchTwins]].
  */
object StreamingOps extends QueryModule {

  /** The events table as a file-source stream (the source needs a
    * directory, so it globs the one file). */
  private[streaming] def eventStream(spark: SparkSession, sfDir: String): DataFrame =
    Tables.readEvents(spark, sfDir)(spark.readStream.schema(_)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir))

  /** The data micro-batch count a stream query's result depends on, and
    * what a run that misses it failed to show. */
  private[streaming] final case class Batches(ok: Int => Boolean, why: Int => String)

  /** At most one: a batch-oracle identity (q69, q84) holds only when the
    * whole finite source lands in a single micro-batch. */
  private val oneBatch = Batches(_ <= 1, n =>
    s"source split into $n data micro-batches; the batch-oracle equivalence " +
      "assumes a single AvailableNow batch (multi-file fixture? set " +
      "maxFilesPerTrigger or drop the oracle)")

  /** At least two: q88 and q95 exist to exercise per-batch maintenance. */
  private val severalBatches = Batches(_ >= 2, n =>
    s"expected multiple micro-batches over the split source, got $n — " +
      "incrementality untested")

  /** Run one stream query: `stream` to completion with AvailableNow, then
    * `readBack` of where its rows landed, materialized while still inside
    * the query's conf window. The sink is a memory table, whose name
    * `readBack` receives, unless `eachBatch` is given: it then gets a
    * per-run dir, writes each micro-batch there itself, and `readBack`
    * receives that dir. The conf window:
    *  - 8 shuffle partitions: state stores are per shuffle partition (each
    *    micro-batch commits delta files for every partition of every
    *    store), so the count is a per-query sizing knob matched to state
    *    volume, not the session's batch default. At 100 TB it goes up.
    *  - no-data micro-batches only when `finals`: they exist to advance
    *    the watermark so append-mode WINDOW aggregations flush their final
    *    windows and event-time timers fire. Every other query emits its
    *    rows IN the data batch (complete mode re-emits everything;
    *    dedup/join/transformWithState emit on arrival; foreachBatch runs
    *    per data batch), so a trailing no-data batch would be a full
    *    per-partition state-store commit cycle that produces nothing. Only
    *    an append-mode windowed aggregation (q408) or a timer-based
    *    processor sets `finals`.
    * `guard` fails the run when its data-batch count misses what the
    * result depends on. The memory table and the checkpoint dir (which
    * holds the `eachBatch` dir) are removed however the run ends: a failed
    * stream or read-back would otherwise leave the sink's rows pinned in
    * driver memory for the session lifetime.
    */
  private[streaming] def runStream(spark: SparkSession, label: String,
      stream: => DataFrame, mode: OutputMode = OutputMode.Append(),
      finals: Boolean = false, guard: Option[Batches] = None,
      eachBatch: Option[String => (DataFrame, Long) => Unit] = None)(
      readBack: String => DataFrame): DataFrame = {
    graft.LocalFs.install(spark)
    ConfWindow.withConf(spark, "spark.sql.shuffle.partitions" -> "8",
        "spark.sql.streaming.noDataMicroBatches.enabled" -> finals.toString) {
      graft.Tmp.withDir(s"graft_ck_$label") { ck =>
        val sink =
          eachBatch.fold(s"graft_${label}_${System.nanoTime()}")(_ => s"$ck/sink")
        try {
          val w = stream.writeStream.outputMode(mode)
          val q = eachBatch
            .fold(w.format("memory").queryName(sink))(f => w.foreachBatch(f(sink)))
            .option("checkpointLocation", ck)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          guard.foreach { g =>
            val n = q.recentProgress.count(_.numInputRows > 0)
            if (!g.ok(n)) throw new IllegalStateException(s"$label: ${g.why(n)}")
          }
          readBack(sink).localCheckpoint()
        } finally if (eachBatch.isEmpty) spark.catalog.dropTempView(sink)
      }
    }
  }

  /** Per-event-type count and exact value total. */
  private def typeTotals(df: DataFrame): DataFrame = df.groupBy("event_type")
    .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))

  /** q44's transform: 5-minute tumbling windows under a 10-minute
    * watermark, keyed by the window start. */
  private def windowTotals(ev: DataFrame): DataFrame = ev
    .withWatermark("ts", "10 minutes")
    .groupBy(window(col("ts"), "5 minutes").getField("start").as("bucket_start"))
    .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))

  /** Event-time tumbling window + watermark, run to completion into a
    * memory sink (complete mode emits every window, so the result equals
    * the batch q16 plan and shares its oracle).
    */
  def streamingWindow(spark: SparkSession, sfDir: String): DataFrame =
    runStream(spark, "q44", windowTotals(eventStream(spark, sfDir)),
      OutputMode.Complete())(spark.table(_).orderBy("bucket_start"))

  // shares q16's oracle: complete-mode streaming == batch on finite input
  private val streamingWindowOracle = """
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_start,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1 ORDER BY bucket_start"""

  final case class Ev(event_id: Long, ts: Long, user_id: Long, value: Double)
  final case class SessState(start: Long, last: Long, n: Long, value: Double)
  final case class SessOut(user_id: Long, session_start_us: Long,
      session_end_us: Long, n_events: Long, session_value: Double)

  /** The single session fold shared by the streaming state machine and
    * the batch driver: fold time-sorted events into closed sessions plus
    * the still-open tail. ONE definition of the 30-minute gap and the
    * 3-branch transition, so the stateful query, the batch twin, and the
    * spec can never drift apart.
    */
  val sessionGapUs: Long = 1800000000L

  def foldSessions(uid: Long, sorted: Seq[Ev], init: Option[SessState],
      gapUs: Long = sessionGapUs): (Seq[SessOut], Option[SessState]) = {
    val out = scala.collection.mutable.ArrayBuffer[SessOut]()
    var cur = init
    sorted.foreach { e =>
      cur match {
        case Some(s) if e.ts - s.last > gapUs =>
          out += SessOut(uid, s.start, s.last, s.n, s.value)
          cur = Some(SessState(e.ts, e.ts, 1, e.value))
        case Some(s) =>
          cur = Some(SessState(s.start, e.ts, s.n + 1, s.value + e.value))
        case None =>
          cur = Some(SessState(e.ts, e.ts, 1, e.value))
      }
    }
    (out.toSeq, cur)
  }

  /** Custom per-key state machine (SURVEY.md §2.9 streaming state):
    * 30-minute-gap sessionization via flatMapGroupsWithState — the
    * streaming twin of the window-based q19. Emits closed sessions as
    * events arrive; on a timeout invocation (stream idle past the gap)
    * it flushes the open session and clears the key's state. Wire with
    * `flatMapGroupsWithState(OutputMode.Append,
    * GroupStateTimeout.ProcessingTimeTimeout)(sessionState(uid, _, _))`.
    */
  def sessionState(uid: Long, events: Iterator[Ev],
      state: GroupState[SessState]): Iterator[SessOut] = {
    if (state.hasTimedOut) {
      // no new events: emit the open session and drop the key's state
      val flushed = state.getOption.map(s =>
        SessOut(uid, s.start, s.last, s.n, s.value))
      state.remove()
      return flushed.iterator
    }
    val (closed, open) = foldSessions(uid,
      events.toSeq.sortBy(e => (e.ts, e.event_id)), state.getOption)
    open match {
      case Some(s) =>
        state.update(s)
        state.setTimeoutDuration(sessionGapUs / 1000) // flush after one idle gap
      case None => state.remove()
    }
    closed.iterator
  }

  /** Batch-mode driver for the same fold over the whole table
    * (deterministic; used by the rows-only query + spec).
    */
  def sessionizeStateful(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val evs = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts"),
        col("user_id"), col("value")).as[Ev]
    // finite input: run the shared fold per user via groupByKey; the
    // open tail is flushed explicitly (batch end == stream idle forever)
    evs.groupByKey(_.user_id)
      .flatMapGroups { (uid: Long, it: Iterator[Ev]) =>
        val (closed, open) =
          foldSessions(uid, it.toSeq.sortBy(e => (e.ts, e.event_id)), None)
        (closed ++ open.map(s => SessOut(uid, s.start, s.last, s.n, s.value)))
          .iterator
      }
      .toDF()
      .select(col("user_id"), col("session_start_us"), col("session_end_us"),
        col("n_events"))
      .orderBy("user_id", "session_start_us")
  }

  // session bounds + counts are integer-exact => oracle-checkable
  // (session_value is excluded: float accumulation order differs)
  private val sessionStatefulOracle = """
    WITH g AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
             THEN 1 ELSE 0 END AS new_sess
      FROM events),
    s AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM g)
    SELECT user_id, MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
      COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_id ORDER BY user_id, session_start_us"""

  /** q69's transform: purchases joined to the same user's errors from the
    * preceding 5 minutes. `ev` is by-name: each side is its own read (in
    * a stream, its own source). */
  private def intervalJoin(ev: => DataFrame): DataFrame = {
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val errors = ev
      .filter(col("event_type") === "error")
      .select(col("event_id").as("e_event_id"),
        col("user_id").as("e_user_id"), col("ts").as("e_ts"))
      .withWatermark("e_ts", "10 minutes")
    purchases.join(errors,
      col("user_id") === col("e_user_id") &&
        col("e_ts") >= col("p_ts") - expr("interval 5 minutes") &&
        col("e_ts") <= col("p_ts"))
      .select(col("p_event_id"), col("e_event_id"), col("user_id"),
        unix_micros(col("p_ts")).as("p_ts_us"),
        unix_micros(col("e_ts")).as("e_ts_us"))
  }

  /** Stream-stream inner join with event-time range bounds
    * ([[intervalJoin]]). Both sides carry watermarks and the join
    * condition bounds each side's event time relative to the other, so
    * Spark can size and expire the join state — the canonical watermarked
    * interval-join pattern. Run AvailableNow over the finite events
    * table, the inner join emits exactly the batch-equivalent pair set
    * (deterministic ⇒ shares a DuckDB oracle).
    *
    * Batch-equivalence caveat: the oracle identity holds only because the
    * whole finite source fits ONE micro-batch (the corpus is a single
    * events.parquet file and no maxFilesPerTrigger is set). Across
    * multiple batches the advancing 10-minute watermark could drop
    * cross-batch late pairs — correct streaming semantics, but a silent
    * divergence from the batch oracle. Guarded: a multi-batch run fails
    * loudly instead of hash-mismatching.
    */
  // Store choice measured at sf0.1: the HDFS-backed store wins here
  // (~3.2 s vs ~4.7 s on RocksDB — per-partition RocksDB instance-load
  // overhead dwarfs any benefit at this state size); q84 uses RocksDB
  // because transformWithState requires it, and at real state volumes
  // the disk-backed store is the right default anyway.
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame =
    runStream(spark, "q69", intervalJoin(eventStream(spark, sfDir)),
      guard = Some(oneBatch))(spark.table(_).orderBy("p_event_id", "e_event_id"))

  private val streamStreamJoinOracle = """
    SELECT p.event_id AS p_event_id, e.event_id AS e_event_id, p.user_id,
      epoch_us(p.ts) AS p_ts_us, epoch_us(e.ts) AS e_ts_us
    FROM events p JOIN events e
      ON p.user_id = e.user_id
     AND e.ts >= p.ts - INTERVAL 5 MINUTE AND e.ts <= p.ts
    WHERE p.event_type = 'purchase' AND e.event_type = 'error'
    ORDER BY p_event_id, e_event_id"""

  /** q72's transform: every event arrives twice (`ev` is by-name, so a
    * self-union of two reads) and dropDuplicates keeps one per key. */
  private def dedup(ev: => DataFrame): DataFrame = ev.union(ev)
    .select("event_id", "event_type", "value")
    .dropDuplicates("event_id")

  /** Streaming deduplication ([[dedup]]) — the stateful
    * exactly-once-per-key operator a streaming ingest pipeline uses to
    * absorb redelivery. Append the surviving rows to a memory sink and
    * audit per-type counts in batch, aggregated down to 5 rows before the
    * sink is dropped; duplicates fully removed ⇒ equals the plain batch
    * aggregate (shares its oracle shape).
    */
  def streamingDedup(spark: SparkSession, sfDir: String): DataFrame =
    runStream(spark, "q72", dedup(eventStream(spark, sfDir)))(t =>
      typeTotals(spark.table(t)).orderBy("event_type"))

  private val streamingDedupOracle = """
    SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type"""

  /** q124's transform: [[dedup]] bounded by a 10-minute watermark. */
  private def dedupWithinWatermark(ev: => DataFrame): DataFrame = ev.union(ev)
    .withWatermark("ts", "10 minutes")
    .select("event_id", "ts", "event_type", "value")
    .dropDuplicatesWithinWatermark("event_id")

  /** Bounded-state streaming dedup: `dropDuplicatesWithinWatermark` keeps
    * a key in state only until the watermark passes it, where q72's plain
    * `dropDuplicates` retains every key forever — the difference between
    * O(in-flight window) and O(all keys ever) state at 100 TB (redelivery
    * in real systems is near-time, so the watermark bound is the correct
    * contract). The corpus redelivers every event (self-union); all
    * duplicates land inside the delay window here, so the result still
    * equals the batch distinct and shares q72's oracle shape.
    */
  def streamingDedupWatermark(spark: SparkSession, sfDir: String): DataFrame =
    runStream(spark, "q124", dedupWithinWatermark(eventStream(spark, sfDir)))(t =>
      typeTotals(spark.table(t)).orderBy("event_type"))

  /** q408's transform: [[windowTotals]] grouped by the window() column
    * itself — projecting .start inside the groupBy strips the event-time
    * metadata and Spark rejects append mode as "aggregation without
    * watermark". */
  private def windowFinals(ev: DataFrame): DataFrame = ev
    .withWatermark("ts", "10 minutes")
    .groupBy(window(col("ts"), "5 minutes"))
    .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
    .select(col("window.start").as("bucket_start"),
      col("n_events"), col("total_value"))

  /** Append-mode event-time window aggregation — the watermark-FINALS
    * semantic (each window emitted exactly once, when the watermark
    * passes its end), the production shape for downstream consumers
    * that must never see a result twice. This is the one query that
    * NEEDS the trailing no-data micro-batch (it advances the watermark
    * past the closed windows and flushes them), so it runs with `finals`
    * on. Windows still open at end-of-stream (end > max(ts) − delay) are
    * intentionally never emitted; the oracle applies the same cutoff,
    * pinning Spark's eviction boundary (window.end ≤ watermark)
    * cross-engine.
    */
  def appendWindowFinals(spark: SparkSession, sfDir: String): DataFrame =
    runStream(spark, "q408", windowFinals(eventStream(spark, sfDir)),
      finals = true)(spark.table(_).orderBy("bucket_start"))

  // finals = every window whose end the final watermark (max ts − delay)
  // passed; the open tail is never emitted, by design
  private val appendFinalsOracle = """
    WITH mx AS (SELECT MAX(ts) AS mt FROM events)
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_start,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events, mx
    GROUP BY 1, mt
    HAVING bucket_start + INTERVAL '5 minutes' <= mt - INTERVAL '10 minutes'
    ORDER BY bucket_start"""

  /** Sessionization on the transformWithState API (Spark 4's arbitrary
    * stateful operator, successor to flatMapGroupsWithState): the open
    * session lives in a typed ValueState on the RocksDB state store —
    * the provider transformWithState requires, and the one a production
    * deployment runs (state spills to disk instead of executor heap, so
    * per-key state survives 100 TB-scale key cardinality). The per-key
    * fold is the SAME shared foldSessions the flatMapGroups twin and the
    * batch driver use — one definition of the session semantics across
    * all three APIs.
    *
    * `emitOpenTail` controls end-of-batch behavior: the graded query
    * emits each key's still-open session after folding (finite corpus,
    * single AvailableNow batch ⇒ equals the batch twin, shares q45's
    * oracle), which is guarded like q69 — a multi-batch run would split
    * sessions at batch boundaries, so it fails loudly instead of
    * silently mismatching. With `emitOpenTail=false` the open tail stays
    * in state across batches (true incremental operation; exercised by
    * the multi-batch spec).
    */
  class SessionizeProcessor(emitOpenTail: Boolean)
      extends StatefulProcessor[Long, Ev, SessOut] {
    @transient private var open: ValueState[SessState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[SessState]("open",
        Encoders.product[SessState], TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[SessOut] = {
      val prior = if (open.exists()) Some(open.get()) else None
      val (closed, tail) =
        foldSessions(uid, rows.toSeq.sortBy(e => (e.ts, e.event_id)), prior)
      if (emitOpenTail) {
        open.clear()
        (closed ++ tail.map(s => SessOut(uid, s.start, s.last, s.n, s.value)))
          .iterator
      } else {
        tail match {
          case Some(s) => open.update(s)
          case None    => open.clear()
        }
        closed.iterator
      }
    }
  }

  /** Run `f` with the RocksDB state store provider (required by
    * transformWithState; also the scale-correct store — state lives
    * off-heap/on-disk per executor instead of on the JVM heap).
    */
  def withRocksDb[T](spark: SparkSession)(f: => T): T =
    ConfWindow.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(f)

  /** q84's transform: each user's sessions through [[SessionizeProcessor]]
    * with the open tail emitted. */
  private def twsSessions(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ev.select(col("event_id"), unix_micros(col("ts")).as("ts"),
        col("user_id"), col("value")).as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new SessionizeProcessor(emitOpenTail = true),
        TimeMode.None(), OutputMode.Append())
      .toDF()
      .select(col("user_id"), col("session_start_us"), col("session_end_us"),
        col("n_events"))
  }

  def twsSessionize(spark: SparkSession, sfDir: String): DataFrame =
    withRocksDb(spark) {
      runStream(spark, "q84", twsSessions(eventStream(spark, sfDir)),
        guard = Some(oneBatch))(spark.table(_).orderBy("user_id", "session_start_us"))
    }

  private val splitDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Materialize the multi-file split source for `sfDir` ahead of time.
    * Bench calls this during warmup: the split copy is FIXTURE setup (the
    * testdata ships one file per table, but incremental-maintenance
    * queries need a multi-batch source), so its one-time write cost does
    * not belong in any query's timing.
    */
  def prepareSplitSource(spark: SparkSession, sfDir: String): Unit = {
    splitEventsDir(spark, sfDir); ()
  }

  private def splitEventsDir(spark: SparkSession, sfDir: String): String =
    splitDirs.computeIfAbsent(sfDir, _ => {
      val dir = graft.Tmp.dir("graft_events_split").toString
      Tables.events(spark, sfDir).repartition(4)
        .write.mode("overwrite").parquet(dir)
      dir
    })

  /** The split copy as a stream of two files per micro-batch. */
  private def splitStream(spark: SparkSession, sfDir: String): DataFrame = {
    val src = splitEventsDir(spark, sfDir)
    spark.readStream.schema(Tables.schema(spark, src))
      .option("maxFilesPerTrigger", "2")
      .parquet(src)
  }

  /** q88's per-batch transform: per-type count and exact value partial. */
  private def partials(ev: DataFrame): DataFrame = ev.groupBy("event_type")
    .agg(count(lit(1)).as("n_events"),
      sum(dec(col("value"), 2)).as("value_partial"))

  /** Incremental aggregation via foreachBatch — the streaming pattern
    * for maintaining an aggregate table without reprocessing history:
    * each micro-batch is aggregated DISTRIBUTED (map-side partials, one
    * small result per batch), the per-batch partials are appended to a
    * keyed parquet state location, and reading the aggregate is a cheap
    * re-combine of partials (counts and decimal sums are associative, so
    * partials-of-partials are exact — same algebra as Spark's own
    * two-phase hash aggregate, persisted across batches). At 100 TB the
    * append target is a MERGE-capable table and the re-combine is a
    * compaction job; the algebra is unchanged.
    *
    * The source is a 4-file copy of the events table streamed with
    * maxFilesPerTrigger=2, so the query REALLY runs 2+ incremental
    * batches (guarded — the inverse of q69's single-batch guard;
    * 2 batches prove the partial-append algebra as well as 4 at half the
    * fixed micro-batch overhead); the final combined aggregate equals
    * the batch aggregate (oracle).
    */
  def incrementalAgg(spark: SparkSession, sfDir: String): DataFrame =
    runStream(spark, "q88", splitStream(spark, sfDir), guard = Some(severalBatches),
      eachBatch = Some(dir => (batch, _) =>
        partials(batch).write.mode("append").parquet(dir)))(dir =>
      spark.read.parquet(dir)
        .groupBy("event_type")
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("value_partial")).cast("double").as("total_value"))
        .orderBy("event_type"))

  // totals over the whole stream == the plain batch aggregate
  private val incrementalAggOracle = """
    SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type"""

  /** q95's merge rule: each user's latest row by (ts_us, event_id). */
  private def latestWins(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** q95's per-batch transform: [[latestWins]] over the events in
    * integer micros. */
  private def latestEvents(ev: DataFrame): DataFrame =
    latestWins(ev.select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("ts_us"), col("value")))

  /** Keyed incremental upsert (CDC/SCD-1 latest-wins) — the OTHER
    * foreachBatch table-maintenance pattern next to q88's additive
    * aggregation: each micro-batch reduces to one row per key (argmax by
    * (ts, event_id) — associative and commutative over a total order, so
    * batch arrival order cannot change the result), then merges into the
    * keyed state by the same rule, written as a fresh versioned snapshot
    * per batch (poor-man's table versioning; at 100 TB the snapshot
    * write becomes a MERGE into a key-bucketed table and the per-batch
    * cost is |batch keys| + touched buckets, not the full table). The
    * final state over the finite split source equals the batch
    * latest-event-per-user query, q08's shape in integer micros.
    */
  def incrementalUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    var current: Option[String] = None
    runStream(spark, "q95", splitStream(spark, sfDir), guard = Some(severalBatches),
      eachBatch = Some(dir => (batch, id) => {
        val b = latestEvents(batch)
        val next = s"$dir/v$id"
        current.fold(b)(p => latestWins(spark.read.parquet(p).unionByName(b)))
          .write.mode("overwrite").parquet(next)
        current = Some(next)
      }))(_ => spark.read.parquet(current.get).orderBy("user_id"))
  }

  // final upserted state == batch latest-event-per-user (q08 in micros)
  private val incrementalUpsertOracle = """
    SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us, value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    ORDER BY user_id"""

  /** q131's transform: events enriched with the customer segment by a
    * broadcast join, totalled per (segment, type). */
  private def enrich(ev: DataFrame, customer: DataFrame): DataFrame = ev
    .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
      col("user_id") === col("c_custkey"))
    .groupBy("c_mktsegment", "event_type")
    .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))

  /** Stream-static enrichment join ([[enrich]]): each micro-batch of the
    * event stream probes a STATIC dimension (customer segments) via
    * broadcast hash join — the standard streaming-enrichment shape (no
    * state store, no watermark: the static side is re-resolvable per
    * batch, so this composes with any downstream stateful op).
    * Complete-mode windowless aggregation over AvailableNow equals the
    * batch join+groupBy, which is the oracle.
    */
  def streamEnrich(spark: SparkSession, sfDir: String): DataFrame =
    runStream(spark, "q131",
      enrich(eventStream(spark, sfDir), Tables.customer(spark, sfDir)),
      OutputMode.Complete())(spark.table(_).orderBy("c_mktsegment", "event_type"))

  private val streamEnrichOracle = """
    SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Batch twins of the streaming pipelines, for the static scale-hazard
    * audit: the stream queries run to completion when built (their frame
    * is a materialized read-back the audit cannot see through), so
    * PlanAuditSpec sweeps these instead. Each twin applies the SAME
    * transform function its stream query applies to the event stream, to
    * the batch events table instead (a batch plan drops the watermark),
    * so a twin cannot drift from its pipeline. A corpus-wide flat window
    * hiding inside a foreachBatch body or a pre-sink transform shows up
    * here. The audit only plans a twin: q84's would need the RocksDB
    * provider to execute. q124 has none, as Spark rejects
    * dropDuplicatesWithinWatermark on a batch frame (its plain-dedup
    * sibling q72 is audited); q41/q51's enrichment/scoring twins are the
    * registered q40/q42/q43 batch plans.
    */
  def batchTwins: Seq[(String, (SparkSession, String) => DataFrame)] = {
    def twin(name: String)(f: (SparkSession, String) => DataFrame) = name -> f
    def ev(s: SparkSession, d: String) = Tables.events(s, d)
    Seq(
      twin("q44_q408_window_agg")((s, d) => windowTotals(ev(s, d))),
      twin("q408_window_finals")((s, d) => windowFinals(ev(s, d))),
      twin("q72_q124_dedup")((s, d) => typeTotals(dedup(ev(s, d)))),
      twin("q69_interval_join")((s, d) => intervalJoin(ev(s, d))),
      twin("q84_tws_sessions")((s, d) => twsSessions(ev(s, d))),
      twin("q131_enrich_join")((s, d) => enrich(ev(s, d), Tables.customer(s, d))),
      twin("q88_batch_partial")((s, d) => partials(ev(s, d))),
      twin("q95_latest_wins")((s, d) => latestEvents(ev(s, d))))
  }

  override def queries: Seq[Q] = Seq(
    Q("q408_append_window_finals",
      (s, d) => appendWindowFinals(s, d), Some(appendFinalsOracle)),
    Q("q131_stream_enrich",
      (s, d) => streamEnrich(s, d), Some(streamEnrichOracle)),
    Q("q44_streaming_window",
      (s, d) => streamingWindow(s, d), Some(streamingWindowOracle)),
    Q("q72_streaming_dedup",
      (s, d) => streamingDedup(s, d), Some(streamingDedupOracle)),
    Q("q124_dedup_within_watermark",
      (s, d) => streamingDedupWatermark(s, d), Some(streamingDedupOracle)),
    Q("q45_stateful_sessionize",
      (s, d) => sessionizeStateful(s, d), Some(sessionStatefulOracle)),
    Q("q69_stream_stream_join",
      (s, d) => streamStreamJoin(s, d), Some(streamStreamJoinOracle)),
    // transformWithState twin of q45 — same fold, same oracle, new API +
    // RocksDB state store
    Q("q84_tws_sessionize",
      (s, d) => twsSessionize(s, d), Some(sessionStatefulOracle)),
    Q("q88_incremental_agg",
      (s, d) => incrementalAgg(s, d), Some(incrementalAggOracle)),
    Q("q95_incremental_upsert",
      (s, d) => incrementalUpsert(s, d), Some(incrementalUpsertOracle)),
  )
}
