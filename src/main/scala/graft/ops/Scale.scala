package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Tables._

/** Scale-readiness operators (SURVEY.md §7.4.7, the 100 TB posture):
  * skew-resistant aggregation via salting and co-located joins via
  * bucketed tables. These are the techniques the engine reaches for when
  * AQE's runtime skew handling isn't enough (hot keys known a priori,
  * repeated joins on the same key).
  */
object Scale extends QueryModule {

  /** Two-phase salted aggregation: counts/sums for heavy-hitter keys are
    * pre-combined under `salt` sub-keys before the final combine, so no
    * single reducer owns a hot key's whole row set. Result is identical
    * to a direct groupBy (sums/counts are associative); only the shuffle
    * distribution changes.
    */
  def saltedCount(df: DataFrame, key: String, salt: Int = 16): DataFrame =
    df.withColumn("_salt", pmod(hash(monotonically_increasing_id()), lit(salt)))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_partial"))
      .groupBy(col(key))
      .agg(sum(col("_partial")).as("n"))

  /** Bucketed-table co-located join: write both sides bucketed by the
    * join key, then join the catalog tables — the physical plan has NO
    * Exchange on either side (verified in ScaleSpec). At 100 TB this is
    * the difference between re-shuffling two fact tables per query and
    * never shuffling them at all.
    *
    * The bucketed tables are CATALOG objects (bucketing requires
    * saveAsTable): the caller owns the `dbPrefix` namespace and cleanup
    * via [[dropBucketedTables]]; concurrent callers must use distinct
    * prefixes (mode=overwrite races on a shared name).
    */
  def bucketedJoin(spark: SparkSession, left: DataFrame, right: DataFrame,
      key: String, buckets: Int, dbPrefix: String): DataFrame = {
    val lt = s"${dbPrefix}_l"
    val rt = s"${dbPrefix}_r"
    left.write.mode("overwrite").bucketBy(buckets, key).sortBy(key).saveAsTable(lt)
    right.write.mode("overwrite").bucketBy(buckets, key).sortBy(key).saveAsTable(rt)
    spark.table(lt).join(spark.table(rt), key)
  }

  /** Cleanup for [[bucketedJoin]]'s catalog tables (call after the joined
    * result is consumed — the join plan reads the tables lazily).
    */
  def dropBucketedTables(spark: SparkSession, dbPrefix: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `${dbPrefix}_l`")
    spark.sql(s"DROP TABLE IF EXISTS `${dbPrefix}_r`")
  }

  private val saltedOracle = """
    SELECT event_type, COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type"""

  /** Bloom-filter semi-join pruning — the runtime-filter pattern for
    * shuffled fact⋈dim joins at scale. The dim side's join keys are
    * folded into a compact bloom sketch by a distributed aggregation
    * (`df.stat.bloomFilter` merges per-partition sketches; ~1.2 MB for
    * 1M keys at 1% FPP), the sketch is broadcast, and the fact scan is
    * pre-filtered BEFORE the join's shuffle. False positives pass the
    * bloom but are removed by the exact join that still runs, so the
    * result is identical to the plain join (⇒ plain-SQL oracle); what
    * changes is that ~99% of non-matching fact rows never enter the
    * exchange. At 100 TB this is the difference between shuffling the
    * whole fact table and shuffling only the ~matching slice — the same
    * mechanism as Spark's own `runtime.bloomFilter` injection, spelled
    * explicitly so it applies when the optimizer's heuristics decline.
    */
  def bloomPrunedRevenue(spark: SparkSession, lineitem: DataFrame,
      orders: DataFrame): DataFrame = {
    import graft.Num._
    val urgent = orders.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    // size the sketch with a cheap distributed count of the dim side —
    // two passes over the SMALL side beat a mis-sized filter on the big one
    val nKeys = math.max(urgent.count(), 1L)
    val bloom = urgent.stat.bloomFilter("o_orderkey", nKeys, 0.01)
    // the broadcast's only driver-side reference lives in the returned
    // plan's UDF closure, so ContextCleaner reclaims executor copies as
    // soon as the caller drops the DataFrame — retention is bounded by
    // the query's lifetime, not the session's
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((k: Long) => bloomB.value.mightContain(k))
    lineitem.filter(mightContain(col("l_orderkey")))
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6))
          .cast("double").as("revenue"))
      .orderBy("l_returnflag")
  }

  private val bloomPrunedOracle = """
    SELECT l_returnflag, COUNT(*) AS n_items,
      CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Hive-style partitioned layout + static partition pruning — the
    * data-skipping discipline that makes a 100 TB table queryable: the
    * events table is written once partitioned by event_date (30 date
    * directories; at scale this is THE layout decision for any
    * time-keyed fact table), and a date-literal filter then prunes the
    * listing to 3 of 30 directories BEFORE any I/O — the scan's
    * PartitionFilters, asserted in ScaleSpec, remove 90% of the corpus
    * without reading a footer. The date range is fixtures-fixed
    * (2024-01-01..30 at every SF), so the pruned aggregate is
    * oracle-checked against a plain date filter on the raw table.
    */
  def partitionPrunedCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Num._
    spark.read.parquet(partitionedEventsDir(spark, sfDir))
      .filter(col("event_date") <= lit("2024-01-03").cast("date"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .orderBy("event_type")
  }

  /** Bench warmup hook: materialize the partitioned-events fixture for
    * `sfDir` outside any query timing (the layout write is corpus
    * preparation, not q108 operator cost — same rationale as
    * StreamingOps.prepareSplitSource).
    */
  def preparePartitionedEvents(spark: SparkSession, sfDir: String): Unit = {
    partitionedEventsDir(spark, sfDir); ()
  }

  /** One partitioned copy of events per sfDir (fixture setup, cached for
    * the session; `Tmp` removes it at JVM exit).
    */
  private val partDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def partitionedEventsDir(spark: SparkSession, sfDir: String): String =
    partDirs.computeIfAbsent(sfDir, _ => {
      val dir = graft.Tmp.dir("graft_events_bydate")
      graft.Tables.events(spark, sfDir)
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date")
        .parquet(dir.toString)
      dir.toString
    })

  private val partitionPrunedOracle = """
    SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-03'
    GROUP BY event_type ORDER BY event_type"""

  /** Deterministic per-group sample: order each (lang, source) stratum
    * by a content-independent hash (md5 of the key string) and keep the
    * first k. Unlike seeded Bernoulli sampling this is reproducible
    * across engines AND across re-runs on re-partitioned data — the
    * property a training-data pipeline needs so a re-ingested corpus
    * yields the same eval split. The md5 order is uniform-ish, so the
    * sample is unbiased within each stratum; per-group top-k by hash
    * shuffles only on the group key.
    */
  def groupSample(docs: DataFrame, k: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = docs.select(col("doc_id"), col("lang"), col("source"),
      md5(col("doc_id").cast("string").cast("binary")).as("hk"))
    val w = Window.partitionBy("lang", "source").orderBy("hk", "doc_id")
    h.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("lang", "source", "rn", "doc_id", "hk")
      .orderBy("lang", "source", "rn")
  }

  private val groupSampleOracle = """
    WITH h AS (SELECT doc_id, lang, source,
        md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents),
    r AS (SELECT *, CAST(row_number() OVER (
        PARTITION BY lang, source ORDER BY hk, doc_id) AS BIGINT) AS rn FROM h)
    SELECT lang, source, rn, doc_id, hk FROM r WHERE rn <= 4
    ORDER BY lang, source, rn"""

  /** Bucketed co-located join as a graded query: both fact tables are
    * written ONCE per corpus bucketed+sorted on the join key (fixture
    * setup, cached per sfDir and prepared in bench warmup — the layout
    * write is table maintenance, not query cost); the join then reads
    * bucket-aligned files with NO Exchange on either side (asserted in
    * ScaleSpec). The oracle is the plain join — bucketing changes the
    * plan, never the result.
    */
  def bucketedRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Num._
    val p = bucketedTradeTables(spark, sfDir)
    spark.table(s"${p}_l")
      .join(spark.table(s"${p}_o"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6))
          .cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Bench warmup hook: materialize the bucketed tables outside timings. */
  def prepareBucketedTables(spark: SparkSession, sfDir: String): Unit = {
    bucketedTradeTables(spark, sfDir); ()
  }

  /** Bucketed catalog tables live at an EXTERNAL temp-dir location (one
    * per sfDir per JVM, cleaned up on exit): a default warehouse location
    * would collide with leftovers of a previous JVM — bucketing metadata
    * is in the in-memory catalog, so stale data dirs are unusable anyway.
    */
  private val bktTables = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def bucketedTradeTables(spark: SparkSession, sfDir: String): String =
    bktTables.computeIfAbsent(sfDir, _ => {
      val tag = sfDir.replaceAll("[^0-9a-zA-Z]", "")
      val p = s"graft_bkt_$tag"
      val dir = graft.Tmp.dir("graft_bkt")
      spark.sql(s"DROP TABLE IF EXISTS `${p}_o`")
      spark.sql(s"DROP TABLE IF EXISTS `${p}_l`")
      // pre-shuffle each table onto its bucket key with numPartitions =
      // numBuckets (same murmur3 hash): every writer task then owns
      // exactly one bucket => ONE file per bucket (not one per task per
      // bucket), and a single sorted file per bucket lets the scan report
      // sorted output so the join skips the re-sort too
      graft.Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority")
        .repartition(16, col("o_orderkey"))
        .write.mode("overwrite").option("path", s"$dir/o").bucketBy(16, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable(s"${p}_o")
      graft.Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .repartition(16, col("l_orderkey"))
        .write.mode("overwrite").option("path", s"$dir/l").bucketBy(16, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable(s"${p}_l")
      p
    })

  private val bucketedRevenueOracle = """
    SELECT o_orderpriority, COUNT(*) AS n_items,
      CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1 ORDER BY 1"""

  /** Deterministic k-fold cross-validation assignment + balance audit:
    * fold = portable hash of vec_id (ascii fold over md5, the q24
    * recipe) mod k — reproducible across engines, partitionings, and
    * re-ingests (unlike seeded `rand()`), and hash-based so clustered id
    * ranges don't land in one fold. The audit reports per-(fold, label)
    * counts and within-fold label shares — the class-balance check run
    * before training on each fold.
    */
  def kfoldAudit(emb: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fold = expr(
      "pmod(aggregate(transform(split(md5(cast(cast(vec_id as string) as binary)), ''), " +
        "c -> cast(ascii(c) as bigint)), cast(-1 as bigint), " +
        s"(h, a) -> if(h = -1L, a, pmod(h * 31 + a, 1000000007L))), $k)").as("fold")
    emb.select(fold, col("label"))
      .groupBy("fold", "label").agg(count(lit(1)).as("n"))
      .withColumn("share",
        col("n").cast("double") / sum("n").over(Window.partitionBy("fold")))
      .orderBy("fold", "label")
  }

  private val kfoldOracle = """
    WITH assigned AS (
      SELECT list_reduce(list_transform(
          string_split_regex(md5(CAST(vec_id AS VARCHAR)), ''),
          c -> CAST(ascii(c) AS BIGINT)),
        (h, a) -> (h * 31 + a) % 1000000007) % 5 AS fold, label
      FROM embeddings),
    cnt AS (SELECT fold, label, COUNT(*) AS n FROM assigned GROUP BY fold, label)
    SELECT fold, label, n,
      CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY fold) AS share
    FROM cnt ORDER BY fold, label"""

  /** Incremental view maintenance (batch): the materialized aggregate is
    * kept as MERGEABLE PARTIALS (count + exact decimal sum), so folding
    * in a new data slice is `union partials -> re-combine` — the base
    * slice's partial is reused, never rescanned. Here both partials are
    * computed from the corpus split on a date (demonstrating the merge
    * algebra end-to-end); the oracle is the full recompute, which the
    * merged result must equal exactly. At 100 TB this is THE pattern for
    * daily-refresh rollups: O(delta) work per refresh, not O(table).
    */
  def ivmMerge(orders: DataFrame): DataFrame = {
    import graft.Num._
    val split = lit("1997-01-01").cast("timestamp")
    def partial(df: DataFrame) = df.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("total"))
    val base = partial(orders.filter(col("o_orderdate") < split))
    val delta = partial(orders.filter(col("o_orderdate") >= split))
    base.union(delta)
      .groupBy("o_orderpriority")
      .agg(sum("n").as("n_orders"), sum("total").cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  private val ivmOracle = """
    SELECT o_orderpriority, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Count-min sketch screening → exact recount: the one-pass mergeable
    * frequency sketch (completes the sketch family: bloom q85, HLL
    * q93/q164, GK quantiles q113, Misra-Gries q138). A fixed probe set
    * of keys (partkeys < 200 — known hot SKUs, the monitoring shape) is
    * screened against a CMS built over the whole fact stream; only keys
    * the sketch says MIGHT be heavy are recounted exactly. CMS never
    * underestimates, so the screen provably loses no truly-heavy probe
    * key and the exact recount makes the output identical to the plain
    * GROUP BY + HAVING (⇒ plain-SQL oracle). At 100 TB the sketch is a
    * few KB per partition merged once — the recount join touches only
    * the screened keys.
    */
  def cmsHeavyParts(lineitem: DataFrame,
      minShare: Double = 0.0001): DataFrame = {
    import org.apache.spark.sql.functions.{count_min_sketch, lit => flit}
    val agg = lineitem.agg(
        count(flit(1)).as("total"),
        count_min_sketch(col("l_partkey"), flit(0.0001), flit(0.99), flit(42))
          .as("cms"))
      .head()
    val total = agg.getAs[Long]("total")
    val threshold = math.max(1L, math.ceil(total * minShare).toLong)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(agg.getAs[Array[Byte]]("cms")))
    // fixed probe set: bounded, driver-safe (200 keys, not the key space)
    val candidates = (0L until 200L).filter(cms.estimateCount(_) >= threshold)
    lineitem
      .filter(col("l_partkey") < 200 && col("l_partkey").isin(candidates: _*))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_items"))
      .filter(col("n_items") >= threshold)
      .orderBy("l_partkey")
  }

  // threshold = ceil(total * 0.0001) replayed exactly in SQL
  private val cmsHeavyOracle = """
    WITH t AS (SELECT GREATEST(1, CAST(CEIL(COUNT(*) * 0.0001) AS BIGINT)) AS thr
      FROM lineitem)
    SELECT l_partkey, COUNT(*) AS n_items
    FROM lineitem, t WHERE l_partkey < 200
    GROUP BY l_partkey, thr HAVING COUNT(*) >= thr
    ORDER BY l_partkey"""

  /** Walk-forward (expanding-window) cross-validation splits — the
    * temporal CV design hash-based k-fold (q143) must not be used for:
    * every fold trains strictly before it tests, so the audit pins the
    * no-leakage invariant (max train day < min test day) alongside the
    * split masses. One conditional aggregation per fold over the day
    * column; fold boundaries derive from the corpus min day, so the
    * split is reproducible on any engine without a stored seed.
    */
  def walkForwardSplits(events: DataFrame, folds: Int = 3,
      testDays: Int = 7): DataFrame = {
    val bounds = events.agg(min(to_date(col("ts"))).as("lo")).localCheckpoint()
    val days = events.crossJoin(broadcast(bounds))
      .select(to_date(col("ts")).as("day"), col("lo"))
      .localCheckpoint() // each fold's conditional agg reads this
    (1 to folds).map { i =>
      val b = date_add(col("lo"), 7 * i)
      val e = date_add(col("lo"), 7 * i + testDays)
      days.agg(
          count(when(col("day") < b, 1)).as("n_train"),
          count(when(col("day") >= b && col("day") < e, 1)).as("n_test"),
          max(when(col("day") < b, col("day"))).as("max_train_day"),
          min(when(col("day") >= b && col("day") < e, col("day"))).as("min_test_day"))
        .select(lit(i.toLong).as("fold"), col("n_train"), col("n_test"),
          col("max_train_day"), col("min_test_day"))
    }.reduce(_.union(_)).orderBy("fold")
  }

  private val walkForwardOracle = """
    WITH b AS (SELECT MIN(CAST(ts AS DATE)) AS lo FROM events),
    d AS (SELECT CAST(ts AS DATE) AS day FROM events),
    f AS (SELECT unnest(range(1, 4)) AS fold)
    SELECT CAST(fold AS BIGINT) AS fold,
      COUNT(*) FILTER (WHERE day < lo + CAST(7 * fold AS INTEGER)) AS n_train,
      COUNT(*) FILTER (WHERE day >= lo + CAST(7 * fold AS INTEGER)
        AND day < lo + CAST(7 * fold + 7 AS INTEGER)) AS n_test,
      MAX(day) FILTER (WHERE day < lo + CAST(7 * fold AS INTEGER)) AS max_train_day,
      MIN(day) FILTER (WHERE day >= lo + CAST(7 * fold AS INTEGER)
        AND day < lo + CAST(7 * fold + 7 AS INTEGER)) AS min_test_day
    FROM d, b, f GROUP BY fold ORDER BY fold"""

  /** Systematic sampling: every k-th row of a PINNED pseudo-random
    * order (md5 of the key — decorrelated from any physical or semantic
    * order), start offset fixed at 1. The global rank distributes via
    * [[Dist.withRowNumber]]: 4096 buckets keyed by the
    * md5's first 3 hex chars (a PREFIX of the leading sort key, so
    * cross-bucket order equals flat order), per-bucket prefix counts in
    * a 4096-row window, within-bucket row_number partitioned by bucket
    * — rn identical to the flat global-window form the oracle keeps.
    * Output audits the per-stratum sample against its population mass
    * (share ratio ≈ 1/k) and pins membership with an exact checksum.
    */
  def systematicSample(docs: DataFrame, k: Int = 10): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"))
    val sampled = Dist.withRowNumber(base,
        substring(col("h"), 1, 3), Seq(col("h"), col("doc_id")))
      .select(col("doc_id"), col("lang"), col("rn"))
      .filter(pmod(col("rn"), lit(k)) === 1)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), sum("doc_id").as("sample_checksum"))
    val totals = docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
    totals.join(sampled, Seq("lang"), "left_outer")
      .select(col("lang"), col("n_total"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("sample_checksum"), lit(0L)).as("sample_checksum"),
        (coalesce(col("n_sampled"), lit(0L)).cast("double") /
          col("n_total").cast("double")).as("share"))
      .orderBy("lang")
  }

  private val systematicOracle = """
    WITH ranked AS (
      SELECT doc_id, lang,
        row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents),
    s AS (
      SELECT lang, COUNT(*) AS n_sampled,
        CAST(SUM(doc_id) AS BIGINT) AS sample_checksum
      FROM ranked WHERE rn % 10 = 1 GROUP BY lang),
    t AS (SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang)
    SELECT t.lang, n_total,
      COALESCE(n_sampled, 0) AS n_sampled,
      COALESCE(sample_checksum, 0) AS sample_checksum,
      CAST(COALESCE(n_sampled, 0) AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
    FROM t LEFT OUTER JOIN s ON t.lang = s.lang
    ORDER BY t.lang"""

  override def queries: Seq[Q] = Seq(
    Q("q187_walk_forward",
      (s, d) => walkForwardSplits(events(s, d)), Some(walkForwardOracle)),
    Q("q188_systematic_sample",
      (s, d) => systematicSample(documents(s, d)), Some(systematicOracle)),
    Q("q181_cms_heavy",
      (s, d) => cmsHeavyParts(lineitem(s, d)), Some(cmsHeavyOracle)),
    Q("q144_ivm_merge",
      (s, d) => ivmMerge(orders(s, d)), Some(ivmOracle)),
    Q("q143_kfold_splits",
      (s, d) => kfoldAudit(embeddings(s, d)), Some(kfoldOracle)),
    Q("q130_group_sample",
      (s, d) => groupSample(documents(s, d)), Some(groupSampleOracle)),
    Q("q137_bucketed_join",
      (s, d) => bucketedRevenue(s, d), Some(bucketedRevenueOracle)),
    Q("q108_partition_prune",
      (s, d) => partitionPrunedCounts(s, d), Some(partitionPrunedOracle)),
    // salted two-phase aggregation provably equals the direct groupBy —
    // the oracle is the plain GROUP BY
    Q("q58_salted_counts",
      (s, d) => saltedCount(events(s, d), "event_type").orderBy("event_type"),
      Some(saltedOracle)),
    // bloom pre-filter + exact join provably equals the plain join
    Q("q85_bloom_prune",
      (s, d) => bloomPrunedRevenue(s, lineitem(s, d), orders(s, d)),
      Some(bloomPrunedOracle)),
  )
}
