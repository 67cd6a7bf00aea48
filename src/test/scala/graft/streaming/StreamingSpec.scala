package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Streaming operator tests: watermark windowing equivalence with the
  * batch plan, the flatMapGroupsWithState session machine driven as a
  * real stream (memory source -> update mode), and the AvailableNow
  * runner leaving its session as found, on success and on failure.
  */
class StreamingSpec extends SparkSpec {

  test("streaming windowed agg equals batch windowed agg on finite input") {
    val stream = StreamingOps.streamingWindow(spark, sf("sf0.001")).collect()
    val batch = graft.ops.Relational.eventsMinutely(Tables.events(spark, sf("sf0.001"))).collect()
    assert(stream.length == batch.length)
    assert(stream.map(_.toString).sorted.toSeq == batch.map(_.toString).sorted.toSeq)
  }

  test("stateful sessionize agrees with window-based sessionize on counts") {
    val stateful = StreamingOps.sessionizeStateful(spark, sf("sf0.001"))
    val windowed = graft.ops.Relational.sessionize(Tables.events(spark, sf("sf0.001")))
    assert(stateful.count() == windowed.count())
    val a = stateful.agg(sum("n_events")).collect()(0).getLong(0)
    val b = windowed.agg(sum("n_events")).collect()(0).getLong(0)
    assert(a == b)
  }

  test("stream-stream interval join equals the batch range join") {
    val stream = StreamingOps.streamStreamJoin(spark, sf("sf0.001")).collect()
    val ev = Tables.events(spark, sf("sf0.001"))
    val batch = ev.as("p").filter(col("p.event_type") === "purchase")
      .join(ev.as("e").filter(col("e.event_type") === "error"),
        col("p.user_id") === col("e.user_id") &&
          col("e.ts") >= col("p.ts") - expr("interval 5 minutes") &&
          col("e.ts") <= col("p.ts"))
      .select(col("p.event_id"), col("e.event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(stream.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == batch)
  }

  test("streaming dedup fully removes the duplicated leg") {
    val dedup = StreamingOps.streamingDedup(spark, sf("sf0.001")).collect()
    val batch = Tables.events(spark, sf("sf0.001"))
      .groupBy("event_type").agg(count(lit(1)).as("n_events"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    dedup.foreach { r =>
      assert(r.getAs[Long]("n_events") == batch(r.getAs[String]("event_type")))
    }
  }

  test("sessionState: closes on gap, keeps open tail, flushes on timeout") {
    import StreamingOps._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    val us = 1000000L
    val s0 = TestGroupState.create[SessState](Optional.empty(),
      GroupStateTimeout.ProcessingTimeTimeout, 0L, Optional.empty(), false)
    val evs = Seq(Ev(1, 0, 7, 1.0), Ev(2, 60 * us, 7, 2.0),
      Ev(3, (60 + 1801) * us, 7, 3.0))
    val closed = sessionState(7L, evs.iterator, s0).toSeq
    assert(closed.map(_.n_events) == Seq(2), "gap closes the first session")
    assert(s0.exists && s0.get.n == 1, "open tail kept in state")
    // timeout invocation (stream idle): flush open session, remove state
    val s1 = TestGroupState.create[SessState](Optional.of(s0.get),
      GroupStateTimeout.ProcessingTimeTimeout, 1L, Optional.empty(), true)
    val flushed = sessionState(7L, Iterator.empty, s1).toSeq
    assert(flushed.map(_.n_events) == Seq(1), "timeout flushes the open session")
    assert(s1.isRemoved, "state cleaned up after flush")
  }

  test("transformWithState sessionize equals the flatMapGroups-family batch twin") {
    val tws = StreamingOps.twsSessionize(spark, sf("sf0.001")).collect()
    val batch = StreamingOps.sessionizeStateful(spark, sf("sf0.001")).collect()
    assert(tws.length == batch.length)
    assert(tws.map(_.toString).sorted.toSeq == batch.map(_.toString).sorted.toSeq)
  }

  test("transformWithState keeps the open session in state across micro-batches") {
    import StreamingOps._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    StreamingOps.withRocksDb(spark) {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val us = 1000000L
      val ms = MemoryStream[Ev]
      val name = s"graft_tws_multibatch_${System.nanoTime()}"
      val q = ms.toDS().groupByKey(_.user_id)
        .transformWithState(new SessionizeProcessor(emitOpenTail = false),
          TimeMode.None(), OutputMode.Append())
        .toDF()
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(name).start()
      try {
        // batch 1: two events 60s apart -> ONE open session, nothing emitted
        ms.addData(Ev(1, 0 * us, 7, 1.0), Ev(2, 60 * us, 7, 2.0))
        q.processAllAvailable()
        assert(spark.table(name).count() == 0, "open session must stay in state")
        // batch 2: event past the 30-min gap -> closes the carried session
        ms.addData(Ev(3, (60 + 1801) * us, 7, 3.0))
        q.processAllAvailable()
        val closed = spark.table(name).collect()
        assert(closed.length == 1)
        assert(closed(0).getAs[Long]("n_events") == 2L,
          "closed session spans batch 1's two events — state persisted")
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    }
  }

  test("incremental foreachBatch aggregate equals the batch aggregate") {
    val incr = StreamingOps.incrementalAgg(spark, sf("sf0.001")).collect()
    val batch = Tables.events(spark, sf("sf0.001"))
      .groupBy("event_type").agg(count(lit(1)).as("n_events"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(incr.length == batch.size)
    incr.foreach { r =>
      assert(r.getAs[Long]("n_events") == batch(r.getAs[String]("event_type")))
    }
  }

  private val runnerConfs = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.streaming.stateStore.providerClass")

  /** A fresh SQL session with a non-default shuffle-partition count. */
  private def freshSession(): org.apache.spark.sql.SparkSession = {
    val s = graft.SparkSpec.session.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "3")
    s
  }
  private def confs(s: org.apache.spark.sql.SparkSession) =
    runnerConfs.map(s.conf.getOption)
  private def sinkViews(s: org.apache.spark.sql.SparkSession) =
    s.catalog.listTables().collect().toSeq
      .filter(t => t.isTemporary && t.name.startsWith("graft_")).map(_.name)

  test("every stream query leaves the session as found") {
    val s = freshSession()
    val before = confs(s)
    val liveBefore = graft.Tmp.live.toArray.toSet
    StreamingOps.queries.foreach(q => assert(q.run(s, sf("sf0.001")).count() > 0, q.name))
    assert(sinkViews(s).isEmpty, "memory-sink views left behind")
    assert(confs(s) == before)
    // only the memoized split copy may outlive its query
    val leftDirs = graft.Tmp.live.toArray.toSet -- liveBefore
    assert(leftDirs.forall(_.toString.contains("graft_events_split")), leftDirs)
  }

  test("a failed guard or read-back still drops the sink view and restores the confs") {
    val s = freshSession()
    val before = confs(s)
    val liveBefore = graft.Tmp.live.toArray.toSet
    val failGuard = StreamingOps.Batches(_ => false, n => s"guard failed after $n")
    val e1 = intercept[IllegalStateException] {
      StreamingOps.runStream(s, "spec_guard", StreamingOps.eventStream(s, sf("sf0.001")),
        guard = Some(failGuard))(s.table(_))
    }
    assert(e1.getMessage == "spec_guard: guard failed after 1")
    val e2 = intercept[IllegalStateException] {
      StreamingOps.runStream(s, "spec_read", StreamingOps.eventStream(s, sf("sf0.001"))) { t =>
        assert(s.table(t).count() > 0, "the sink holds the stream's rows")
        assert(s.conf.get("spark.sql.shuffle.partitions") == "8")
        throw new IllegalStateException("read-back failed")
      }
    }
    assert(e2.getMessage == "read-back failed")
    assert(sinkViews(s).isEmpty, "memory-sink view left behind")
    assert(confs(s) == before)
    assert(graft.Tmp.live.toArray.toSet == liveBefore, "checkpoint dir left behind")
  }

  test("session state machine: gap splits, no gap merges, state persists") {
    import StreamingOps._
    // synthetic per-key run through the state function semantics
    val us = 1000000L
    val evs = Seq(
      Ev(1, 0 * us, 7, 1.0),
      Ev(2, 60 * us, 7, 2.0),           // same session
      Ev(3, (60 + 1801) * us, 7, 3.0))  // gap > 30min: new session
    // emulate via the batch driver on a tiny DataFrame
    import spark.implicits._
    val df = evs.toDF()
      .select(col("event_id"), timestamp_micros(col("ts")).as("ts"),
        col("user_id"), lit("x").as("event_type"), col("value"), lit("").as("props"))
    val out = df.as("e")
    val sessions = graft.ops.Relational.sessionize(out)
    val rows = sessions.collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(2) == 2L) // first session has 2 events
    assert(rows(1).getLong(2) == 1L)
  }

  test("dropDuplicatesWithinWatermark re-admits a key after state eviction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import StreamingOps.Ev
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val us = 1000000L
    val ms = MemoryStream[Ev]
    val name = s"graft_dedup_wm_${System.nanoTime()}"
    val q = ms.toDF()
      .withColumn("ets", timestamp_micros(col("ts")))
      .withWatermark("ets", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      // batch 1: same key twice inside the delay window -> one survivor
      ms.addData(Ev(1, 0, 7, 1.0), Ev(1, 60 * us, 7, 1.0))
      q.processAllAvailable()
      // batch 2: advance the watermark far past the key's expiry (60s+10m)
      ms.addData(Ev(2, 3600 * us, 7, 2.0))
      q.processAllAvailable()
      // batch 3: the SAME key re-arrives with a fresh event time — its
      // state was evicted, so it is emitted AGAIN. q72's plain
      // dropDuplicates would suppress it forever (and keep the state).
      ms.addData(Ev(1, 3700 * us, 7, 3.0))
      q.processAllAvailable()
      val n = spark.table(name).filter(col("event_id") === 1).count()
      assert(n == 2, s"evicted key must be re-admitted, got $n emissions")
      assert(spark.table(name).count() == 3)
    } finally {
      q.stop(); spark.catalog.dropTempView(name)
    }
  }
}
