package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    // 1-min loadavg at run START, stamped into the output line ("load"):
    // every load-contamination dispute so far (r8/r9/r12) was re-litigated
    // forensically because the harness recorded nothing about machine
    // state. Additions-only; absent on platforms without /proc/loadavg.
    val loadAtStart: Option[String] =
      scala.util.Try(scala.io.Source.fromFile("/proc/loadavg"))
        .map { s => try s.mkString.split("\\s+")(0) finally s.close() }
        .toOption
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // default codegen cache (100 classes) LRU-thrashes across 60+
      // queries x several codegen stages each: the warm pass would evict
      // its own compilations before the timed pass reuses them
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // periodic context-cleaner GC: 400+ queries accumulate shuffle files
      // and broadcast blocks whose cleanup otherwise piggybacks on an
      // arbitrary later query's timer (the r8/r9 artifact noise class)
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A failure never changes the output line beyond its "failed" list,
    // but it must not vanish either: name it and its first line on stderr.
    def report(what: String, e: Throwable): Unit =
      System.err.println(s"graft.Bench: $what failed: " +
        String.valueOf(e).linesIterator.nextOption().getOrElse(""))
    // warmup: JIT/codegen compile paths + parquet footers, outside timings
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
        .foreach(t => Tables.t(spark, sfDir, t).count())
      // fixture setup for the incremental-maintenance queries: the
      // multi-file split copy of events is created once per sfDir; its
      // write cost is corpus preparation, not q88/q95 operator cost
      graft.streaming.StreamingOps.prepareSplitSource(spark, sfDir)
      graft.ops.Scale.preparePartitionedEvents(spark, sfDir)
      graft.ops.Scale.prepareBucketedTables(spark, sfDir)
      graft.ops.Extended.prepareTextCopies(spark, sfDir)
      graft.ops.Extended.prepareOrcText(spark, sfDir)
      graft.ops.Extended.prepareSchemaEvo(spark, sfDir)
      graft.ops.Layout.prepareTimeTravel(spark, sfDir)
      graft.ops.Extended.prepareXml(spark, sfDir)
      graft.ops.Extended.prepareCsv(spark, sfDir)
    } catch { case e: Throwable => report("fixture prep", e) }
    // Warm pass at the smallest SF: first-use costs (whole-stage-codegen
    // compilation, MLlib/streaming/ImageIO class loading) are JVM warmup,
    // not operator cost — the timed pass below measures operators on a
    // warm JVM. Disable with SPARK_GRAFT_WARM_DIR="".
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // local-iteration filter, parsed ONCE for both passes: comma-separated
    // EXACT query names, or "q12*" for an explicit prefix (bare names no
    // longer prefix-match — "q1" used to silently select q100-q199). The
    // driver never sets it, so graded runs always time the full surface;
    // if it ever leaks, the output line below carries an "only" marker so
    // a shrunken surface can't pass as a full run.
    val only = sys.env.getOrElse("SPARK_GRAFT_ONLY", "").split(",").map(_.trim).filter(_.nonEmpty)
    def selected(n: String): Boolean = only.isEmpty ||
      only.exists(p => if (p.endsWith("*")) n.startsWith(p.dropRight(1)) else n == p)
    if (warmDir.nonEmpty) {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => selected(n) }
        .foreach { case (name, fn) =>
        try fn(spark, warmDir).count() catch { case e: Throwable => report(s"warm $name", e) }
      }
      // release warm-pass localCheckpoint blocks + let the collector settle
      // so timed queries don't pay the warm pass's storage/GC debt
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    // Clear every driver-side memo cache between the warm and the timed
    // pass: no query's timed region may inherit warm-pass work through a
    // JVM-level memo, however the cache is keyed (the r12 q51 finding —
    // its model fit was keyed on the fixture corpus dir both passes
    // share). Runs OUTSIDE any timer.
    Memos.reset()
    // A failed query is recorded as -1.0 (never silently timed as a pass);
    // values are rounded to ms so the ONE output line stays short enough for
    // log-tail capture.
    // Timed loop hygiene (all OUTSIDE the per-query timer): drop any
    // persistent blocks the query left behind, and force a full GC every
    // 25 queries so one query's storage/GC debt never lands in a later
    // query's measurement — the r8 (q225=153.9 s) / r9 (q127=21.1 s)
    // artifact bands were exactly this debt compounding under driver load.
    var sinceGc = 0
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => selected(n) }
      .map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable => report(s"timed $name", e); false }
      val sec = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      sinceGc += 1
      if (sinceGc >= 25) { System.gc(); sinceGc = 0 }
      name -> sec
    }
    // The ONE output line must fit in a 2000-char log tail next to sbt's
    // 72-char success trailer (round-1's full-precision/full-name line was
    // ~2.6 kB and the driver recorded parsed:null). Short query ids (the
    // contract's own example shape, {"q1":sec,...}) + 2-decimal timings
    // keep it ~900 chars with ample headroom for future queries.
    // Locale.ROOT: the default-locale f"" interpolator would emit comma
    // decimal separators on non-English JVMs — invalid JSON
    def r3(v: Double): String =
      if (v < 0) "-1.0" else String.format(java.util.Locale.ROOT, "%.2f", v)
    // per-query values are INTEGER DECISECONDS (flagged by "qunit":"ds"
    // in the line, documented in BASELINE.md): the 1-decimal seconds map
    // hit 1.87 kB at 191 queries, ~5 queries from overflowing the
    // driver's 2000-char tail (which must also fit sbt's success
    // trailer). Integer ds ("0.2"→2, "1.2"→12) buys ~300 B back —
    // ~40-query headroom. The GRADED figure is unchanged: "value" stays
    // total seconds at 2 decimals. Failures stay -1.
    def ds(v: Double): String =
      if (v < 0) "-1" else math.round(v * 10).toString
    // keys are the bare query numbers ("01".."167"): the 167-entry map
    // with q-prefixed keys reached 1.82 kB, ~100 B under the tail limit —
    // the prefix is 167 bytes of redundancy (every key is a query number)
    // leading zeros add nothing ("01" -> "1"): 9 more bytes of tail headroom
    def qid(name: String): String =
      name.takeWhile(_ != '_').stripPrefix("q").dropWhile(_ == '0') match {
        case "" => "0"
        case s => s
      }
    // The per-query map lists only queries >= 0.3 s (ds >= 3) plus every
    // failure: at 221 queries the full map hit 1.76 kB of the driver's
    // 2 kB log tail (~18-query headroom left). The ~150 sub-0.3 s
    // queries are noise-dominated individually; they collapse into one
    // "fast" aggregate {"n":count,"ds":sum} so their mass still
    // reconciles against "value". Slow-query entries — the signal for
    // cross-round comparison — are unchanged. Documented in BASELINE.md.
    // r8: threshold raised 0.25 -> 0.45 s (ds >= 5): at 369 queries a
    // loaded run listed 213 entries and hit 1.83 kB of the 2 kB tail;
    // 0.3-0.5 s entries are run-noise, their mass stays in "fast"
    // Overflow guard: a heavily loaded run pushes more queries over the
    // 0.45 s listing cutoff and can overflow the driver's 2000-char log
    // tail (measured: 284 s loaded run → 1805 B line, ~13 entries of
    // headroom) — which would lose the WHOLE parsed line, not just the
    // extras. If the assembled line would exceed the budget, raise the
    // per-query listing cutoff stepwise until it fits and mark the line
    // with "qcut":<ds cutoff> so the elevated threshold is loud. Normal
    // runs emit byte-identical output (cutoff stays 0.45 s, no marker).
    // Failures are ALWAYS listed; the graded total is unaffected.
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failed = results.collect { case (n, v) if v < 0 => "\"" + qid(n) + "\"" }
    val failedJson = if (failed.isEmpty) "" else failed.mkString(""","failed":[""", ",", "]")
    // sf prints as the basename: the directory prefix is 15 B of the
    // 2 kB tail the 181+-entry map needs back
    val sfId = new java.io.File(sfDir).getName
    // loud marker when a filter shrank the timed surface (never in graded runs)
    val onlyJson = if (only.isEmpty) "" else s""","only":${results.size}"""
    val loadJson = loadAtStart.map(l => s""","load":$l""").getOrElse("")
    def line(cutSec: Double): String = {
      val slow = results.filter { case (_, v) => v < 0 || v >= cutSec }
      val fast = results.filter { case (_, v) => v >= 0 && v < cutSec }
      val qs = slow.map { case (k, v) => "\"" + qid(k) + "\":" + ds(v) }
        .mkString("{", ",", "}")
      val fastJson = s""","fast":{"n":${fast.size},"ds":${fast.map(v => math.round(v._2 * 10)).sum}}"""
      // qcut marks an elevated listing cutoff; -1 is the terminal
      // degraded form (failures + fast aggregate only — see below)
      val cutJson =
        if (cutSec == 0.45) ""
        else if (cutSec.isInfinity) s""","qcut":-1"""
        else s""","qcut":${math.round(cutSec * 10)}"""
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","qunit":"ds","queries":$qs$fastJson$failedJson$onlyJson$cutJson$loadJson,"sf":"$sfId"}"""
    }
    // Terminal degraded form (cut=∞): if even the 2.0 s cutoff overflows
    // the 1900-char budget (conceivable only with very many failures,
    // which are always listed), list failures alone and fold every pass
    // into the fast aggregate, marked loudly with "qcut":-1 — the graded
    // "value" total survives instead of the whole line failing to parse.
    val out = (Seq(0.45, 0.6, 0.8, 1.0, 1.5, 2.0).view.map(line) ++
        Seq(line(Double.PositiveInfinity)).view)
      .find(_.length <= 1900).getOrElse(line(Double.PositiveInfinity))
    println(out)
    spark.stop()
  }
}
