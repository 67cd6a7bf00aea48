package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, QueryModule}
import graft.Tables._
import graft.Num._

/** Relational operator surface derived from the reference pipeline
  * (SURVEY.md §2): scans, projections, the filename-parsing expression
  * chain, anti-join split, union audit, grouped counts, global sums,
  * ordering, sampling analogues — plus the windowing/rollup/set-op surface
  * the driver contract exercises on the TPC-H-ish corpus.
  *
  * Scale notes (100 TB posture):
  *  - Aggregations are plain groupBy/agg => Catalyst plans two-phase hash
  *    aggregation (partial map-side combine before the shuffle).
  *  - Dimension joins (customer/nation/region) are explicitly broadcast;
  *    the fact-fact anti-join shuffles on its key only after column
  *    pruning to the join key.
  *  - Every filter/projection is declarative so parquet scans get
  *    PushedFilters + pruned ReadSchema.
  */
object Relational extends QueryModule {

  /** TPC-H Q1-shaped pricing summary — the flagship aggregate (SURVEY.md
    * §7.2), semantics of the reference's grouped-count audit (A1,
    * 03a_Model Training.py:93-94) + global sums (A2, 03a:121-122) widened
    * to the classical form.
    */
  def pricingSummary(li: DataFrame): DataFrame = {
    val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val charge    = discPrice * (lit(1.0) + col("l_tax"))
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        // exact DECIMAL rendered as its canonical string: at sf1+ these
        // sums pass 2^53 in 1e-6 units, where EVERY decimal->double
        // conversion stack (in-engine cast, DuckDB's pandas bridge,
        // pyarrow's) rounds on its own — only the decimal digits
        // themselves hash identically at every scale
        sum(dec(discPrice, 6)).cast("decimal(38,6)").cast("string").as("sum_disc_price"),
        sum(dec(charge, 6)).cast("decimal(38,6)").cast("string").as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (sum(dec(col("l_discount"), 6)).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val pricingOracle = """
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_disc_price,
      CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  /** Deterministic train/test split + union audit: the reference's
    * sample -> anti-join -> union -> groupBy/count -> orderBy chain
    * (SA1/J1/SO1/A1/SR1, 03a_Model Training.py:81-96). The graded variant
    * replaces the Bernoulli sampler with a deterministic modular predicate
    * so DuckDB reproduces it exactly (SURVEY.md §7.2); the seeded sampleBy
    * path is covered by `stratifiedSplit` (rows-only + unit tests).
    */
  def splitAudit(li: DataFrame): DataFrame = {
    val keyed = li.select("l_orderkey", "l_linenumber", "l_returnflag")
    val train = keyed.filter(
      pmod(col("l_orderkey") * 37 + col("l_linenumber") * 7, lit(10)) < 8)
    val test = keyed.join(
      train.select("l_orderkey", "l_linenumber"),
      Seq("l_orderkey", "l_linenumber"), "left_anti")
    train.withColumn("eval_set", lit("train"))
      .union(test.withColumn("eval_set", lit("test"))) // positional UNION ALL (SO1)
      .groupBy("eval_set", "l_returnflag")
      .agg(count(lit(1)).as("instances"))
      .orderBy("eval_set", "l_returnflag")
  }

  private val splitAuditOracle = """
    WITH keyed AS (SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem),
    train AS (
      SELECT *, 'train' AS eval_set FROM keyed
      WHERE (l_orderkey * 37 + l_linenumber * 7) % 10 < 8),
    test AS (
      SELECT k.*, 'test' AS eval_set FROM keyed k
      WHERE NOT EXISTS (SELECT 1 FROM train t
        WHERE t.l_orderkey = k.l_orderkey AND t.l_linenumber = k.l_linenumber))
    SELECT eval_set, l_returnflag, COUNT(*) AS instances
    FROM (SELECT * FROM train UNION ALL SELECT * FROM test)
    GROUP BY eval_set, l_returnflag
    ORDER BY eval_set, l_returnflag"""

  /** Left-anti equi-join (J1, 03a_Model Training.py:82): orders with no
    * lineitem rows. Column-prunes the probe side to the join key before
    * the shuffle.
    */
  def unshippedOrders(orders: DataFrame, li: DataFrame): DataFrame =
    orders.join(li.select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_anti")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_value"))
      .orderBy("o_orderstatus")

  private val unshippedOracle = """
    SELECT o_orderstatus, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Global grand-total sums (A2 + F6/F7, 03a_Model Training.py:121-122):
    * `sum(4 + length(content))` re-expressed over documents.
    */
  def byteSizing(docs: DataFrame): DataFrame =
    docs.agg(
      sum(lit(4L) + col("n_chars")).as("total_bytes"),
      sum(length(col("text")).cast("long")).as("total_chars"),
      count(lit(1)).as("n_docs"))

  private val byteSizingOracle = """
    SELECT CAST(SUM(4 + n_chars) AS BIGINT) AS total_bytes,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           COUNT(*) AS n_docs
    FROM documents"""

  /** Filename parsing F1/F4/F5 (02_Data Ingest.py:93-100) using the
    * reference's exact expr strings (array-reverse basename, string-reverse
    * limit-2-split middle extraction, palindromic-token label cast) over a
    * synthesized path column.
    */
  def pathParse(docs: DataFrame): DataFrame =
    docs.withColumn("path",
        concat(lit("/data/"), col("source"), lit("/img_"), col("lang"),
          lit("_"), (col("doc_id") % 2).cast("string"), lit(".jpg")))
      .withColumn("file_name", expr("reverse(split(path,'/'))[0]")) // F1, 02:95
      .withColumn("device_id",                                      // F4, 02:98
        expr("reverse(split(reverse(split(file_name,'_',2)[1]),'_',2)[1])"))
      .withColumn("label",                                          // F5, 02:99
        expr("cast(split(reverse(split(file_name,'[.]')[0]),'_')[0] as int)").cast("long"))
      .select("doc_id", "path", "file_name", "device_id", "label")
      .orderBy("doc_id")

  private val pathParseOracle = """
    WITH p AS (SELECT doc_id,
        '/data/' || source || '/img_' || lang || '_' ||
          CAST(doc_id % 2 AS VARCHAR) || '.jpg' AS path
      FROM documents)
    SELECT doc_id, path,
      string_split(path, '/')[-1] AS file_name,
      regexp_extract(string_split(path, '/')[-1], '^[^_]*_(.*)_[^_]*$', 1) AS device_id,
      CAST(string_split(reverse(string_split_regex(string_split(path, '/')[-1], '\.')[1]), '_')[1] AS BIGINT) AS label
    FROM p ORDER BY doc_id"""

  /** Date-derivation rollup (F2/F3 semantics, 02_Data Ingest.py:96-97). */
  def dateRollup(orders: DataFrame): DataFrame =
    orders.groupBy(
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("yr", "mo")

  private val dateRollupOracle = """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY 1, 2 ORDER BY yr, mo"""

  /** Grouped count over the event stream table (A1 shape). */
  def eventsByType(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"),
        (dsum(col("value")) / count(lit(1))).as("avg_value"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"))
      .orderBy("event_type")

  private val eventsByTypeOracle = """
    SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
      MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events GROUP BY event_type ORDER BY event_type"""

  /** Ordered top-1 per key (SR2, 04a_Model Deployment.py:118-123): latest
    * event per user via a row_number window.
    */
  def latestEventPerUser(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    events.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type", "ts", "value")
      .orderBy("user_id")
  }

  private val latestEventOracle = """
    SELECT user_id, event_id, event_type, ts, value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    ORDER BY user_id"""

  /** Global sort + limit (SR1 + SR2 shape). */
  def topCustomers(customer: DataFrame): DataFrame =
    customer.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(10)

  private val topCustomersOracle = """
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment
    FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 10"""

  /** Fact-to-dim join with an explicit broadcast of the dimension —
    * the 100 TB-safe plan (no fact-side shuffle).
    */
  def segmentRevenue(orders: DataFrame, customer: DataFrame): DataFrame =
    orders.join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        dsum(col("o_totalprice")).as("revenue"))
      .orderBy("c_mktsegment")

  private val segmentRevenueOracle = """
    SELECT c_mktsegment, COUNT(*) AS n_orders,
      COUNT(DISTINCT o_custkey) AS n_customers,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** Multi-way star join: one fact-fact shuffle join (lineitem-orders),
    * all dimensions broadcast.
    */
  def nationRevenue(li: DataFrame, orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame =
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")

  private val nationRevenueOracle = """
    SELECT r_name, n_name,
      CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name ORDER BY r_name, n_name"""

  /** Set operations: INTERSECT / EXCEPT / UNION-distinct cardinalities. */
  def setOps(orders: DataFrame, customer: DataFrame): DataFrame = {
    val active = orders.select(col("o_custkey").as("k")).distinct()
    val rich   = customer.filter(col("c_acctbal") > lit(5000.0))
      .select(col("c_custkey").as("k"))
    val i = active.intersect(rich).agg(count(lit(1)).as("n")).withColumn("op", lit("intersect"))
    val e = rich.except(active).agg(count(lit(1)).as("n")).withColumn("op", lit("except"))
    val u = rich.union(active).distinct().agg(count(lit(1)).as("n")).withColumn("op", lit("union_distinct"))
    i.union(e).union(u).select("op", "n").orderBy("op")
  }

  private val setOpsOracle = """
    WITH active AS (SELECT DISTINCT o_custkey AS k FROM orders),
    rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000.0)
    SELECT 'intersect' AS op, COUNT(*) AS n FROM (SELECT k FROM active INTERSECT SELECT k FROM rich)
    UNION ALL
    SELECT 'except' AS op, COUNT(*) AS n FROM (SELECT k FROM rich EXCEPT SELECT k FROM active)
    UNION ALL
    SELECT 'union_distinct' AS op, COUNT(*) AS n FROM (SELECT DISTINCT k FROM (SELECT k FROM rich UNION ALL SELECT k FROM active))
    ORDER BY op"""

  /** Base64 codec (F8, 04a_Model Deployment.py:92-93,326-330). Spark's
    * base64 emits RFC-2045 MIME chunking (CRLF every 76 chars); strip it
    * for the canonical unchunked form DuckDB produces.
    */
  def base64Codec(docs: DataFrame): DataFrame = {
    val b64 = regexp_replace(base64(col("text").cast("binary")), "[\\r\\n]", "")
    docs.select(
        col("doc_id"),
        b64.as("b64"),
        length(b64).cast("long").as("b64_len"),
        (unbase64(b64).cast("string") === col("text"))
          .cast("int").cast("long").as("roundtrip_ok"))
      .orderBy("doc_id")
  }

  /** F9 current_user(): session-provenance stamp. The reference derives
    * user-scoped config paths from `select current_user()`
    * (01_Configuration.py:42: `useremail = spark.sql('select
    * current_user() as user').collect()[0]['user']`, then
    * `/Users/{useremail}/...` mount points). The literal user differs per
    * engine and deployment ('root' here, 'duckdb' in the oracle), so the
    * graded columns are the engine-agnostic facts a config layer branches
    * on: the user resolves non-empty, and the user-scoped mount path has
    * exactly the fixed-prefix+user+fixed-suffix shape. The raw value is
    * pinned by OperatorSpec instead.
    */
  def sessionProvenance(orders: DataFrame): DataFrame = {
    val u = expr("current_user()")
    val mount = concat(lit("/users/"), u, lit("/images"))
    orders.agg(count(lit(1)).as("n_orders"))
      .select(
        (length(u) > 0).cast("int").cast("long").as("user_ok"),
        (length(mount) - length(u)).cast("long").as("mount_fixed_len"),
        col("n_orders"))
  }

  private val provenanceOracle = """
    SELECT CAST(CASE WHEN length(current_user()) > 0 THEN 1 ELSE 0 END AS BIGINT) AS user_ok,
      CAST(length('/users/' || current_user() || '/images') - length(current_user()) AS BIGINT) AS mount_fixed_len,
      COUNT(*) AS n_orders
    FROM orders"""

  private val base64Oracle = """
    SELECT doc_id, to_base64(encode(text)) AS b64,
      CAST(length(to_base64(encode(text))) AS BIGINT) AS b64_len,
      CAST(CASE WHEN decode(from_base64(to_base64(encode(text)))) = text THEN 1 ELSE 0 END AS BIGINT) AS roundtrip_ok
    FROM documents ORDER BY doc_id"""

  /** Exact distinct cardinalities (the oracle-checkable side of the
    * approx_count_distinct audit; HLL variant is rows-only).
    */
  def distinctCounts(li: DataFrame): DataFrame =
    li.agg(
      countDistinct(col("l_orderkey")).as("n_orders"),
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      countDistinct(col("l_returnflag"), col("l_linestatus")).as("n_flag_status"))

  private val distinctOracle = """
    SELECT COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status
    FROM lineitem"""

  /** Exact interpolated percentiles per group. Rounded to 3 decimals, not
    * 2: medians of 2-decimal prices land exactly on .xx5 — a scale-2
    * rounding boundary where the engines' interpolation formulas differ by
    * 1 ulp — while scale-3 boundaries (.xxx5) are never approached.
    */
  def pricePercentiles(li: DataFrame): DataFrame =
    li.groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5D)"), 3).as("median_price"),
        round(expr("percentile(l_extendedprice, 0.9D)"), 3).as("p90_price"),
        round(expr("percentile(l_quantity, 0.5D)"), 3).as("median_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  private val percentilesOracle = """
    SELECT l_returnflag,
      ROUND(quantile_cont(l_extendedprice, 0.5), 3) AS median_price,
      ROUND(quantile_cont(l_extendedprice, 0.9), 3) AS p90_price,
      ROUND(quantile_cont(l_quantity, 0.5), 3) AS median_qty,
      COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Tumbling 5-minute event-time window (batch analogue of the
    * Structured-Streaming windowed aggregation; S4 semantics).
    */
  def eventsMinutely(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "5 minutes").getField("start").as("bucket_start"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .orderBy("bucket_start")

  private val minutelyOracle = """
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_start,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1 ORDER BY bucket_start"""

  /** Numeric bucketing histogram (the relational analogue of the per-band
    * pixel histogram in U2, 02_Data Ingest.py:223-249).
    */
  def valueHistogram(events: DataFrame): DataFrame =
    events.groupBy(floor(col("value") / lit(10.0)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("bucket_value"))
      .orderBy("bucket")

  private val histogramOracle = """
    SELECT CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bucket_value
    FROM events GROUP BY 1 ORDER BY bucket"""

  /** Running (cumulative) sum window per user. */
  def runningTotals(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.select(
        col("user_id"), col("event_id"), col("ts"),
        sum(dec(col("value"))).over(w).cast("double").as("running_value"))
      .orderBy("user_id", "ts", "event_id")
  }

  private val runningOracle = """
    SELECT user_id, event_id, ts,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
    FROM events ORDER BY user_id, ts, event_id"""

  /** Sessionization: 30-minute inactivity gap splits sessions. Integer
    * microsecond arithmetic so both engines agree bit-exactly.
    */
  def sessionize(events: DataFrame): DataFrame = {
    val w  = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = unix_micros(col("ts"))
    val prev = lag(us, 1).over(w)
    events
      .withColumn("new_sess",
        when(prev.isNull || (us - prev) > lit(1800000000L), 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(wc))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        dsum(col("value")).as("session_value"))
      .orderBy("user_id", "session_id")
  }

  /** Sliding (hopping) event-time windows — each event contributes to
    * width/slide buckets (here 10 min / 5 min = exactly 2), completing
    * the window family: tumbling (q16), sliding (this), session (q89).
    * Spark replicates rows into their windows scan-side (no self-join);
    * the oracle mirrors that with an explicit 2-element unnest onto the
    * same epoch-aligned 5-minute grid.
    */
  def slidingWindow(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes")
        .getField("start").as("win_start"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(unix_micros(col("win_start")).as("win_start_us"),
        col("n_events"), col("total_value"))
      .orderBy("win_start_us")

  private val slidingWindowOracle = """
    WITH w AS (
      SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                     time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'])
               AS win_start,
             value
      FROM events)
    SELECT epoch_us(win_start) AS win_start_us, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM w GROUP BY win_start ORDER BY win_start_us"""

  /** Sessionization via the BUILTIN session_window aggregate — the
    * idiomatic Spark spelling (works identically over a stream with a
    * watermark), completing the family: window-SQL (q19),
    * flatMapGroupsWithState (q45), transformWithState (q84), builtin
    * (this). Physical plan: sort within user partitions + merging
    * session-window aggregation — no per-row window state, shuffle keyed
    * on user_id only.
    *
    * Boundary semantics differ from q19/q45 by design: session_window
    * treats the window as half-open [first, last+gap), so a gap of
    * EXACTLY 30 minutes starts a new session (>=), while the lag-based
    * twins split only on strict >. The oracle mirrors >=.
    */
  def sessionWindow(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("session_start_us"),
        max(unix_micros(col("ts"))).as("session_end_us"))
      .select(col("user_id"), col("session_start_us"), col("session_end_us"),
        col("n_events"))
      .orderBy("user_id", "session_start_us")

  private val sessionWindowOracle = """
    WITH g AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
             THEN 1 ELSE 0 END AS new_sess
      FROM events),
    s AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM g)
    SELECT user_id, MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
      COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_id ORDER BY user_id, session_start_us"""

  private val sessionizeOracle = """
    WITH g AS (
      SELECT user_id, event_id, ts, value,
        CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
             THEN 1 ELSE 0 END AS new_sess
      FROM events),
    s AS (
      SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM g)
    SELECT user_id, session_id, COUNT(*) AS n_events,
      MIN(ts) AS session_start, MAX(ts) AS session_end,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
    FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id"""

  /** ROLLUP over (year, market segment), implemented as
    * aggregate-then-reaggregate: the finest grouping is computed once and
    * coarser levels re-sum it. At scale this beats Expand-based ROLLUP
    * (which triples fact rows before the shuffle); the reaggregation input
    * is only |years|x|segments| rows. Sums stay DECIMAL until the end so
    * every level is exact.
    */
  def revenueRollup(orders: DataFrame, customer: DataFrame): DataFrame = {
    val fine = orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("yr_n"),
        col("c_mktsegment").as("seg_n"))
      .agg(count(lit(1)).as("n_orders"), sum(dec(col("o_totalprice"))).as("rev_d"))
    val byYear = fine.groupBy("yr_n")
      .agg(sum(col("n_orders")).as("n_orders"), sum(col("rev_d")).as("rev_d"))
      .withColumn("seg_n", lit(null).cast("string"))
    val total = fine
      .agg(sum(col("n_orders")).as("n_orders"), sum(col("rev_d")).as("rev_d"))
      .withColumn("yr_n", lit(null).cast("long"))
      .withColumn("seg_n", lit(null).cast("string"))
    fine.select("yr_n", "seg_n", "n_orders", "rev_d")
      .union(byYear.select("yr_n", "seg_n", "n_orders", "rev_d"))
      .union(total.select("yr_n", "seg_n", "n_orders", "rev_d"))
      .select(
        coalesce(col("yr_n").cast("string"), lit("ALL")).as("yr"),
        coalesce(col("seg_n"), lit("ALL")).as("seg"),
        col("n_orders"),
        col("rev_d").cast("double").as("revenue"))
      .orderBy("yr", "seg")
  }

  private val rollupOracle = """
    WITH j AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr_n, c_mktsegment AS seg_n, o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey)
    SELECT COALESCE(CAST(yr_n AS VARCHAR), 'ALL') AS yr,
           COALESCE(seg_n, 'ALL') AS seg,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM j GROUP BY ROLLUP(yr_n, seg_n) ORDER BY yr, seg"""

  /** As-of-style enrichment: each purchase event annotated with the id of
    * the latest preceding error event of the same user (last_value IGNORE
    * NULLS over an unbounded-preceding window — the composition-based
    * as-of join, SURVEY.md "custom operators" preference (a)).
    */
  def lastErrorBeforePurchase(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("last_error_id",
        last(when(col("event_type") === "error", col("event_id")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts", "last_error_id")
      .orderBy("user_id", "event_id")
  }

  private val lastErrorOracle = """
    WITH a AS (
      SELECT user_id, event_id, ts, event_type,
        LAST_VALUE(CASE WHEN event_type = 'error' THEN event_id END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_error_id
      FROM events)
    SELECT user_id, event_id, ts, last_error_id
    FROM a WHERE event_type = 'purchase' ORDER BY user_id, event_id"""

  /** Seeded stratified sample (SA1, 03a_Model Training.py:81) + uniform
    * sample (SA2, 04a:313) + repartition (SA3, 03a:85-86). Sampling is
    * engine-specific randomness => rows-only check (SURVEY.md §5.2).
    */
  def stratifiedSplitAudit(li: DataFrame, spark: SparkSession): DataFrame = {
    val keyed = li.select("l_orderkey", "l_linenumber", "l_returnflag")
    val flags = boundedStrata(keyed, "l_returnflag")
    val train = keyed.stat.sampleBy("l_returnflag",
      flags.map(_ -> 0.8).toMap, seed = 42L)
    val test = keyed.join(train.select("l_orderkey", "l_linenumber"),
      Seq("l_orderkey", "l_linenumber"), "left_anti")
    train.withColumn("eval_set", lit("train"))
      .union(test.withColumn("eval_set", lit("test")))
      .repartition(spark.sparkContext.defaultParallelism)
      .groupBy("eval_set", "l_returnflag")
      .agg(count(lit(1)).as("instances"))
      .orderBy("eval_set", "l_returnflag")
  }

  /** Bounded driver-side stratum collect for `sampleBy`-style APIs.
    * `sampleBy` inherently needs a driver-side fraction map, so the
    * distinct stratum values MUST come to the driver — but an
    * accidentally high-cardinality stratum column (a timestamp, an id)
    * would otherwise OOM the driver or build a million-entry map. The
    * limit(cap+1) bounds the fetch (Spark stops pulling partitions once
    * the limit is satisfied) so misuse fails fast with a clear message
    * instead of degrading.
    */
  private[graft] def boundedStrata(
      df: DataFrame, column: String, cap: Int = 1000): Array[String] = {
    val vals = df.select(column).distinct().limit(cap + 1)
      .collect().map(_.getString(0))
    require(vals.length <= cap,
      s"sampleBy stratum column '$column' has more than $cap distinct " +
        "values; stratified sampling requires a small driver-side " +
        "fraction map. Bucket the column first or raise the cap.")
    vals
  }

  /** approx_count_distinct (HLL++) audit — rows-only (sketch estimates are
    * engine-specific).
    */
  def approxDistinct(li: DataFrame): DataFrame =
    li.agg(
      approx_count_distinct(col("l_orderkey")).as("approx_orders"),
      approx_count_distinct(col("l_partkey")).as("approx_parts"),
      countDistinct(col("l_orderkey")).as("exact_orders"))

  /** Mergeable distinct-count sketches (Apache DataSketches HLL, the
    * Spark 4 sketch function family): per-group sketches built
    * distributed, a re-aggregated union proving mergeability (the
    * property that matters at 100 TB — per-partition/per-day sketches
    * union into corpus totals without rescanning), estimates next to
    * exact counts. The sketch binary is engine-specific so this is a
    * rows-only query; OperatorSpec pins the error bound and the
    * union==whole identity.
    */
  def hllSketchDistinct(events: DataFrame): DataFrame = {
    // localCheckpoint: the tiny per-type sketch table feeds BOTH output
    // branches; without it each branch re-scans and re-aggregates the
    // events table
    val perType = events.groupBy("event_type")
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
        countDistinct(col("user_id")).as("exact_users"))
      .localCheckpoint()
    perType.select(col("event_type"),
        expr("hll_sketch_estimate(sk)").as("est_users"), col("exact_users"))
      .unionByName(
        // union of the per-type sketches == sketch of the whole table
        perType.agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
            .as("est_users"))
          .select(lit("ALL").as("event_type"), col("est_users"),
            lit(null).cast("long").as("exact_users")))
      .orderBy("event_type")
  }

  /** Window-function suite: rank/dense_rank (value order, ties allowed —
    * both are tie-stable), ntile and lag over fully-tiebroken orders.
    */
  def windowSuite(events: DataFrame): DataFrame = {
    val byValue     = Window.partitionBy("user_id").orderBy(col("value").desc)
    val byValueTie  = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
    val byTime      = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events.select(
        col("user_id"), col("event_id"), col("value"),
        rank().over(byValue).cast("long").as("value_rank"),
        dense_rank().over(byValue).cast("long").as("value_dense_rank"),
        ntile(4).over(byValueTie).cast("long").as("value_quartile"),
        round(col("value") - lag(col("value"), 1).over(byTime), 2).as("value_delta"),
        lead(col("event_id"), 1).over(byTime).as("next_event_id"))
      .orderBy("user_id", "event_id")
  }

  private val windowSuiteOracle = """
    SELECT user_id, event_id, value,
      CAST(rank() OVER (PARTITION BY user_id ORDER BY value DESC) AS BIGINT) AS value_rank,
      CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY value DESC) AS BIGINT) AS value_dense_rank,
      CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS value_quartile,
      ROUND(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS value_delta,
      lead(event_id, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event_id
    FROM events ORDER BY user_id, event_id"""

  /** Outer-join audit: parts with/without high-quantity sales via a left
    * outer join against a filtered fact side (null-detection per brand).
    */
  def outerJoinAudit(part: DataFrame, li: DataFrame): DataFrame = {
    val bigQty = li.filter(col("l_quantity") >= 49).select("l_partkey")
    part.join(bigQty, col("p_partkey") === col("l_partkey"), "left_outer")
      .groupBy("p_brand")
      .agg(
        countDistinct(col("p_partkey")).as("n_parts"),
        countDistinct(when(col("l_partkey").isNotNull, col("p_partkey"))).as("with_bigqty_sales"),
        (countDistinct(col("p_partkey")) -
          countDistinct(when(col("l_partkey").isNotNull, col("p_partkey")))).as("without_bigqty_sales"))
      .orderBy("p_brand")
  }

  private val outerJoinOracle = """
    SELECT p_brand,
      COUNT(DISTINCT p_partkey) AS n_parts,
      COUNT(DISTINCT CASE WHEN l_partkey IS NOT NULL THEN p_partkey END) AS with_bigqty_sales,
      COUNT(DISTINCT p_partkey) - COUNT(DISTINCT CASE WHEN l_partkey IS NOT NULL THEN p_partkey END) AS without_bigqty_sales
    FROM part LEFT OUTER JOIN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49) b
      ON p_partkey = l_partkey
    GROUP BY p_brand ORDER BY p_brand"""

  /** The SQL entry point (spark.sql over registered views) with a
    * correlated EXISTS — TPC-H Q4 shape; the identical SQL string is the
    * oracle (shared dialect).
    */
  private val priorityExistsSql = """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  def priorityExists(spark: SparkSession, sfDir: String): DataFrame = {
    orders(spark, sfDir).createOrReplaceTempView("orders")
    lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    spark.sql(priorityExistsSql)
  }

  /** Top-k rows per key via the bounded `top_k_by` aggregate
    * (graft.functions.TopKByAgg): partial buffers keep at most k rows per
    * key per partition, so the shuffle carries k x |keys| rows — the
    * scale-correct form of SR2-style retrieval (a window row_number must
    * shuffle + sort every input row).
    */
  def topEventsPerUser(events: DataFrame, k: Int = 2): DataFrame = {
    import graft.functions.TopKByAgg.top_k_by
    events.groupBy("user_id")
      .agg(top_k_by(
        struct(col("event_id"), col("event_type"), col("value")),
        unix_micros(col("ts")), col("event_id"), k).as("top"))
      .select(col("user_id"), posexplode(col("top")).as(Seq("rank0", "r")))
      .select(col("user_id"), (col("rank0") + 1).cast("long").as("rnk"),
        col("r.event_id").as("event_id"), col("r.event_type").as("event_type"),
        col("r.value").as("value"))
      .orderBy("user_id", "rnk")
  }

  private val topEventsOracle = """
    SELECT user_id, CAST(rn AS BIGINT) AS rnk, event_id, event_type, value
    FROM (
      SELECT user_id, event_id, event_type, value,
        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn <= 2 ORDER BY user_id, rnk"""

  override def queries: Seq[Q] = Seq(
    Q("q01_pricing_summary",
      (s, d) => pricingSummary(lineitem(s, d)), Some(pricingOracle)),
    Q("q02_split_audit",
      (s, d) => splitAudit(lineitem(s, d)), Some(splitAuditOracle)),
    Q("q03_unshipped_orders",
      (s, d) => unshippedOrders(orders(s, d), lineitem(s, d)), Some(unshippedOracle)),
    Q("q04_byte_sizing",
      (s, d) => byteSizing(documents(s, d)), Some(byteSizingOracle)),
    Q("q05_path_parse",
      (s, d) => pathParse(documents(s, d)), Some(pathParseOracle)),
    Q("q06_date_rollup",
      (s, d) => dateRollup(orders(s, d)), Some(dateRollupOracle)),
    Q("q07_events_by_type",
      (s, d) => eventsByType(events(s, d)), Some(eventsByTypeOracle)),
    Q("q08_latest_event_per_user",
      (s, d) => latestEventPerUser(events(s, d)), Some(latestEventOracle)),
    Q("q09_top_customers",
      (s, d) => topCustomers(customer(s, d)), Some(topCustomersOracle)),
    Q("q10_segment_revenue",
      (s, d) => segmentRevenue(orders(s, d), customer(s, d)), Some(segmentRevenueOracle)),
    Q("q11_nation_revenue",
      (s, d) => nationRevenue(lineitem(s, d), orders(s, d), customer(s, d),
        nation(s, d), region(s, d)), Some(nationRevenueOracle)),
    Q("q12_set_ops",
      (s, d) => setOps(orders(s, d), customer(s, d)), Some(setOpsOracle)),
    Q("q13_base64_codec",
      (s, d) => base64Codec(documents(s, d)), Some(base64Oracle)),
    Q("q203_session_provenance",
      (s, d) => sessionProvenance(orders(s, d)), Some(provenanceOracle)),
    Q("q14_distinct_counts",
      (s, d) => distinctCounts(lineitem(s, d)), Some(distinctOracle)),
    Q("q15_price_percentiles",
      (s, d) => pricePercentiles(lineitem(s, d)), Some(percentilesOracle)),
    Q("q16_events_minutely",
      (s, d) => eventsMinutely(events(s, d)), Some(minutelyOracle)),
    Q("q17_value_histogram",
      (s, d) => valueHistogram(events(s, d)), Some(histogramOracle)),
    Q("q18_running_totals",
      (s, d) => runningTotals(events(s, d)), Some(runningOracle)),
    Q("q19_sessionize",
      (s, d) => sessionize(events(s, d)), Some(sessionizeOracle)),
    Q("q89_session_window",
      (s, d) => sessionWindow(events(s, d)), Some(sessionWindowOracle)),
    Q("q92_sliding_window",
      (s, d) => slidingWindow(events(s, d)), Some(slidingWindowOracle)),
    Q("q33_revenue_rollup",
      (s, d) => revenueRollup(orders(s, d), customer(s, d)), Some(rollupOracle)),
    Q("q34_last_error_before_purchase",
      (s, d) => lastErrorBeforePurchase(events(s, d)), Some(lastErrorOracle)),
    Q("q35_stratified_split_audit",
      (s, d) => stratifiedSplitAudit(lineitem(s, d), s), None),
    Q("q36_approx_distinct",
      (s, d) => approxDistinct(lineitem(s, d)), None),
    Q("q93_hll_sketch",
      (s, d) => hllSketchDistinct(events(s, d)), None),
    Q("q48_window_suite",
      (s, d) => windowSuite(events(s, d)), Some(windowSuiteOracle)),
    Q("q49_outer_join_audit",
      (s, d) => outerJoinAudit(part(s, d), lineitem(s, d)), Some(outerJoinOracle)),
    Q("q50_priority_exists",
      (s, d) => priorityExists(s, d), Some(priorityExistsSql)),
    Q("q57_topk_per_user",
      (s, d) => topEventsPerUser(events(s, d)), Some(topEventsOracle)),
    Q("q62_signup_funnel",
      (s, d) => signupFunnel(events(s, d)), Some(funnelOracle)),
  )

  /** Conversion funnel: per user, first signup and whether a purchase
    * follows within 7 days — a broadcastable 1-row-per-user build side
    * joined back to the purchase stream, then a single rollup.
    */
  def signupFunnel(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("signup_us"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
    val conv = signups.join(purchases, Seq("user_id"), "left_outer")
      .groupBy(col("user_id"), col("signup_us"))
      .agg(
        sum(when(col("p_us") >= col("signup_us") &&
          col("p_us") <= col("signup_us") + lit(604800000000L), 1L).otherwise(0L))
          .as("purchases_7d"))
    conv.agg(
        count(lit(1)).as("n_signup_users"),
        sum(when(col("purchases_7d") > 0, 1L).otherwise(0L)).as("n_converted"),
        sum(col("purchases_7d")).as("total_purchases_7d"))
  }

  private val funnelOracle = """
    WITH s AS (
      SELECT user_id, MIN(epoch_us(ts)) AS signup_us
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    p AS (
      SELECT user_id, epoch_us(ts) AS p_us
      FROM events WHERE event_type = 'purchase'),
    conv AS (
      SELECT s.user_id, s.signup_us,
        CAST(SUM(CASE WHEN p.p_us >= s.signup_us
          AND p.p_us <= s.signup_us + 604800000000 THEN 1 ELSE 0 END) AS BIGINT) AS purchases_7d
      FROM s LEFT OUTER JOIN p ON s.user_id = p.user_id
      GROUP BY s.user_id, s.signup_us)
    SELECT COUNT(*) AS n_signup_users,
      CAST(SUM(CASE WHEN purchases_7d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
      CAST(SUM(purchases_7d) AS BIGINT) AS total_purchases_7d
    FROM conv"""
}
