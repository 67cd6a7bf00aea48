package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Q, QueryModule}
import graft.Tables._
import graft.Num._

/** Extended relational operators beyond the round-1 surface: non-equi
  * (range/band) joins, CUBE grouping, and range-frame windows — the
  * remaining classical operator families a warehouse workload exercises.
  *
  * Scale notes: the band table is tiny by construction so the non-equi
  * join is a BroadcastNestedLoopJoin (each fact row probes an in-memory
  * interval list — the correct plan; a shuffle theta-join would be
  * pathological). CUBE reaggregates in one pass with partial map-side
  * combine. The range-frame window shuffles once on user_id and scans
  * each partition sorted — the same shape at any corpus size.
  */
object Extended extends QueryModule {

  /** Non-equi band join: price intervals as a broadcast dimension. */
  def bandRangeJoin(spark: SparkSession, li: DataFrame): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      (1L, 0.0, 20000.0),
      (2L, 20000.0, 45000.0),
      (3L, 45000.0, 70000.0),
      (4L, 70000.0, 1e12),
    ).toDF("band_id", "lo", "hi")
    li.join(broadcast(bands),
        col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
      .groupBy("band_id")
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("band_value"))
      .orderBy("band_id")
  }

  private val bandRangeOracle = """
    WITH bands(band_id, lo, hi) AS (VALUES
      (1, 0.0, 20000.0), (2, 20000.0, 45000.0),
      (3, 45000.0, 70000.0), (4, 70000.0, 1000000000000.0))
    SELECT CAST(band_id AS BIGINT) AS band_id, COUNT(*) AS n_items,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS band_value
    FROM lineitem JOIN bands
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band_id ORDER BY band_id"""

  /** CUBE over (order priority, market segment): all four grouping sets in
    * one pass (q33 covers ROLLUP, q61 explicit GROUPING SETS — this
    * completes the family with the native `cube` operator).
    */
  def cubeRevenue(orders: DataFrame, customer: DataFrame): DataFrame =
    orders.join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .cube(col("o_orderpriority").as("prio_n"), col("c_mktsegment").as("seg_n"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .select(
        coalesce(col("prio_n"), lit("ALL")).as("prio"),
        coalesce(col("seg_n"), lit("ALL")).as("seg"),
        col("n_orders"), col("revenue"))
      .orderBy("prio", "seg")

  private val cubeOracle = """
    SELECT COALESCE(o_orderpriority, 'ALL') AS prio,
           COALESCE(c_mktsegment, 'ALL') AS seg,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY CUBE(o_orderpriority, c_mktsegment)
    ORDER BY prio, seg"""

  /** Range-frame window: every purchase annotated with the count and
    * exact-decimal value of the same user's events in the 5 minutes
    * strictly before it ([ts-5min, ts-1µs] in integer micros — the
    * interval-join-as-window-frame composition; frames are value-based,
    * so co-timestamped events resolve identically in both engines).
    */
  def purchaseContext(events: DataFrame): DataFrame = {
    val base = events.select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("ts_us"), col("value"))
    val w = Window.partitionBy("user_id").orderBy("ts_us")
      .rangeBetween(-300000000L, -1L)
    base
      .withColumn("n_prior_5m", count(lit(1)).over(w))
      .withColumn("prior_value_5m",
        coalesce(sum(dec(col("value"), 2)).over(w),
          lit(0).cast(DecimalType(18, 2))).cast("double"))
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us", "n_prior_5m", "prior_value_5m")
      .orderBy("event_id")
  }

  private val purchaseContextOracle = """
    WITH base AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
      FROM events),
    win AS (
      SELECT event_id, user_id, ts_us, event_type,
        COUNT(*) OVER w AS n_prior_5m,
        CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))) OVER w, 0) AS DOUBLE)
          AS prior_value_5m
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        RANGE BETWEEN 300000000 PRECEDING AND 1 PRECEDING))
    SELECT event_id, user_id, ts_us, n_prior_5m, prior_value_5m
    FROM win WHERE event_type = 'purchase' ORDER BY event_id"""

  /** Unpivot (wide -> long): per-orderstatus totals melted into
    * (status, metric, value) rows via `stack` — the inverse of q59's
    * pivot, completing the reshape pair. Values are exact decimal sums
    * cast to double before melting, so the long form is bit-stable.
    */
  def unpivotTotals(orders: DataFrame): DataFrame = {
    val wide = orders.groupBy("o_orderstatus")
      .agg(
        dsum(col("o_totalprice")).as("total_price"),
        count(lit(1)).cast("double").as("n_orders"),
        davg(col("o_totalprice")).as("avg_price"))
    wide.select(col("o_orderstatus"), expr(
        "stack(3, 'total_price', total_price, 'n_orders', n_orders, " +
          "'avg_price', avg_price) as (metric, value)"))
      .orderBy("o_orderstatus", "metric")
  }

  private val unpivotOracle = """
    WITH wide AS (
      SELECT o_orderstatus,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        CAST(COUNT(*) AS DOUBLE) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
      FROM orders GROUP BY o_orderstatus)
    SELECT o_orderstatus, metric, value FROM (
      SELECT o_orderstatus, 'total_price' AS metric, total_price AS value FROM wide
      UNION ALL
      SELECT o_orderstatus, 'n_orders', n_orders FROM wide
      UNION ALL
      SELECT o_orderstatus, 'avg_price', avg_price FROM wide)
    ORDER BY o_orderstatus, metric"""

  /** Rank-family window suite: ntile/percent_rank/cume_dist per market
    * segment over a unique ordering (acctbal, custkey — uniqueness makes
    * every rank function deterministic and tie-free in both engines).
    */
  def rankSuite(customer: DataFrame): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    customer.select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .orderBy("c_mktsegment", "c_acctbal", "c_custkey")
  }

  private val rankSuiteOracle = """
    SELECT c_mktsegment, c_custkey, c_acctbal,
      CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      percent_rank() OVER w AS pct_rank,
      cume_dist() OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    ORDER BY c_mktsegment, c_acctbal, c_custkey"""

  /** Array-function suite over token arrays: size/distinct/sort/slice/
    * reverse/contains/filter — results rendered as '|'-joined strings so
    * the oracle compare stays scalar. Every ordered output is explicitly
    * sorted first (engine list_distinct order is not a portable contract).
    */
  def arraySuite(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull) // null-text safety: len/size(NULL) diverge across engines
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(array_distinct(col("t"))).cast("long").as("n_distinct"),
        concat_ws("|", slice(sort_array(array_distinct(col("t"))), 1, 5)).as("first5"),
        concat_ws("|", slice(reverse(col("t")), 1, 3)).as("last3_rev"),
        array_contains(col("t"), "the").as("has_the"),
        concat_ws("|", expr(
          "sort_array(filter(array_distinct(t), x -> x IN ('the','a','of')))"))
          .as("stop_hits"))
      .orderBy("doc_id")

  private val arraySuiteOracle = """
    WITH s AS (SELECT doc_id, string_split(text, ' ') AS t
               FROM documents WHERE text IS NOT NULL)
    SELECT doc_id,
      CAST(len(t) AS BIGINT) AS n_tokens,
      CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
      COALESCE(array_to_string(list_sort(list_distinct(t))[1:5], '|'), '') AS first5,
      COALESCE(array_to_string(list_reverse(t)[1:3], '|'), '') AS last3_rev,
      list_contains(t, 'the') AS has_the,
      -- COALESCE: DuckDB array_to_string([]) is NULL, Spark concat_ws is ''
      COALESCE(array_to_string(list_sort(list_filter(list_distinct(t),
        x -> x IN ('the', 'a', 'of'))), '|'), '') AS stop_hits
    FROM s ORDER BY doc_id"""

  /** Array set-operation suite: intersect/union/except/overlap between
    * the first and second half of each document's token stream —
    * vocabulary drift within a document, the kind of array set algebra
    * feature pipelines run per row. Results are canonicalized
    * (distinct + sort + string-join) because the two engines' set ops
    * agree on MEMBERSHIP but not on element order. Pure scan-side HOFs,
    * no shuffle.
    */
  def arraySetOps(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"),
        expr("slice(t, 1, size(t) div 2)").as("a"),
        expr("slice(t, size(t) div 2 + 1, size(t) - size(t) div 2)").as("b"))
      .select(
        col("doc_id"),
        // array_intersect already dedups; sort_array canonicalizes order
        concat_ws("|", expr("sort_array(array_intersect(a, b))"))
          .as("inter"),
        size(expr("array_union(a, b)")).cast("long").as("n_union"),
        size(expr("array_except(a, b)")).cast("long").as("n_a_only"),
        expr("arrays_overlap(a, b)").cast("long").as("overlaps"))
      .orderBy("doc_id")

  private val arraySetOpsOracle = """
    WITH s AS (SELECT doc_id, string_split(text, ' ') AS t
               FROM documents WHERE text IS NOT NULL),
    h AS (SELECT doc_id,
            t[1:len(t)//2] AS a,
            t[len(t)//2+1:] AS b
          FROM s)
    SELECT doc_id,
      COALESCE(array_to_string(list_sort(list_distinct(list_intersect(a, b))), '|'), '') AS inter,
      CAST(len(list_distinct(list_concat(a, b))) AS BIGINT) AS n_union,
      CAST(len(list_distinct(list_filter(a, x -> NOT list_contains(b, x)))) AS BIGINT) AS n_a_only,
      CAST(list_has_any(a, b) AS BIGINT) AS overlaps
    FROM h ORDER BY doc_id"""

  /** Provenance columns from the scan: every curation pipeline needs to
    * answer "which file did this row come from" for audits/takedowns;
    * Spark exposes it as the hidden `_metadata` struct on file scans (no
    * input_file_name() UDF call, no extra I/O — the value is attached at
    * scan time). Grouped per source file so the output is a compact
    * per-file manifest.
    */
  def provenanceManifest(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), expr("_metadata.file_name").as("file_name"))
      .groupBy("file_name")
      .agg(count(lit(1)).as("n_rows"), min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("file_name")

  // single-file table: the manifest is fully determined
  private val provenanceOracle = """
    SELECT 'documents.parquet' AS file_name, COUNT(*) AS n_rows,
      MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM documents GROUP BY 1 ORDER BY file_name"""

  /** explode_outer: docs with no qualifying token survive as a null row
    * (the left-lateral semantics `explode` would silently drop — the
    * difference only shows on empty arrays, which ~1/5 of the corpus
    * hits at the >= 8-char threshold).
    */
  def longTokenAudit(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull) // null text: explode_outer(NULL) vs unnest diverge
      .select(col("doc_id"), explode_outer(expr(
        "sort_array(array_distinct(filter(split(text, ' '), x -> length(x) >= 8)))"))
        .as("long_tok"))
      .orderBy(col("doc_id"), col("long_tok").asc_nulls_first)

  private val longTokenOracle = """
    WITH l AS (
      SELECT doc_id, list_sort(list_distinct(list_filter(
        string_split(text, ' '), x -> len(x) >= 8))) AS lt
      FROM documents WHERE text IS NOT NULL)
    SELECT doc_id,
      unnest(CASE WHEN len(lt) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE lt END) AS long_tok
    FROM l ORDER BY doc_id, long_tok NULLS FIRST"""

  /** Full outer join: reconcile the order ledger against the event
    * ledger by key, classifying each key as both/orders-only/events-only
    * with exact decimal value totals per class. Both sides pre-aggregate
    * before the join (shrinks the join input to |keys|; a full outer
    * join cannot broadcast, so Catalyst plans a sort-merge join on the
    * reduced sides — the correct shape at any scale).
    */
  def fullOuterRecon(orders: DataFrame, events: DataFrame): DataFrame = {
    val o = orders.groupBy(col("o_custkey").as("okey"))
      .agg(dsum(col("o_totalprice")).as("order_value"))
    val e = events.groupBy(col("user_id").as("ekey"))
      .agg(dsum(col("value")).as("event_value"))
    o.join(e, col("okey") === col("ekey"), "full_outer")
      .withColumn("side",
        when(col("okey").isNotNull && col("ekey").isNotNull, "both")
          .when(col("okey").isNotNull, "orders_only")
          .otherwise("events_only"))
      .groupBy("side")
      .agg(
        count(lit(1)).as("n_keys"),
        sum(dec(coalesce(col("order_value"), lit(0)), 2)).cast("double").as("order_value"),
        sum(dec(coalesce(col("event_value"), lit(0)), 2)).cast("double").as("event_value"))
      .orderBy("side")
  }

  private val fullOuterOracle = """
    WITH o AS (
      SELECT o_custkey AS okey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_value
      FROM orders GROUP BY 1),
    e AS (
      SELECT user_id AS ekey,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS event_value
      FROM events GROUP BY 1),
    j AS (
      SELECT CASE WHEN okey IS NOT NULL AND ekey IS NOT NULL THEN 'both'
                  WHEN okey IS NOT NULL THEN 'orders_only'
                  ELSE 'events_only' END AS side,
             order_value, event_value
      FROM o FULL OUTER JOIN e ON okey = ekey)
    SELECT side, COUNT(*) AS n_keys,
      CAST(SUM(CAST(COALESCE(order_value, 0) AS DECIMAL(18,2))) AS DOUBLE) AS order_value,
      CAST(SUM(CAST(COALESCE(event_value, 0) AS DECIMAL(18,2))) AS DOUBLE) AS event_value
    FROM j GROUP BY side ORDER BY side"""

  /** Conditional-expression suite: CASE chains, NULLIF/COALESCE masking,
    * GREATEST/LEAST clamping, IF and NVL2 — the null-handling scalar
    * family. All branch predicates compare exact 2-decimal doubles or
    * strings, so every branch choice is engine-deterministic.
    */
  def conditionalSuite(customer: DataFrame): DataFrame =
    customer.select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, "overdrawn")
          .when(col("c_acctbal") < 1000, "low")
          .otherwise("high").as("bal_class"),
        coalesce(nullif(col("c_mktsegment"), lit("MACHINERY")), lit("OTHER"))
          .as("seg_masked"),
        greatest(col("c_acctbal"), lit(0.0)).as("bal_floor"),
        least(col("c_acctbal"), lit(5000.0)).as("bal_cap"),
        expr("if(c_acctbal >= 0, 1L, 0L)").as("is_positive"),
        expr("nvl2(nullif(c_name, ''), length(c_name), -1)")
          .cast("long").as("name_len"))
      .orderBy("c_custkey")

  private val conditionalOracle = """
    SELECT c_custkey,
      CASE WHEN c_acctbal < 0 THEN 'overdrawn'
           WHEN c_acctbal < 1000 THEN 'low' ELSE 'high' END AS bal_class,
      COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg_masked,
      GREATEST(c_acctbal, 0.0) AS bal_floor,
      LEAST(c_acctbal, 5000.0) AS bal_cap,
      CAST(CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END AS BIGINT) AS is_positive,
      CAST(CASE WHEN NULLIF(c_name, '') IS NOT NULL
                THEN len(c_name) ELSE -1 END AS BIGINT) AS name_len
    FROM customer ORDER BY c_custkey"""

  /** grouping()/grouping_id() metadata over CUBE: the aggregation-level
    * discriminators (q65 disambiguates levels via COALESCE labels; this
    * exposes the standard bit-vector functions directly — first grouping
    * column = most significant bit in both engines).
    */
  def groupingIdSuite(orders: DataFrame): DataFrame =
    orders.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        grouping_id().as("gid"),
        grouping(col("o_orderstatus")).cast("long").as("g_status"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
        col("n_orders"), col("gid"), col("g_status"))
      .orderBy("gid", "st", "prio")

  private val groupingIdOracle = """
    SELECT COALESCE(o_orderstatus, 'ALL') AS st,
           COALESCE(o_orderpriority, 'ALL') AS prio,
           COUNT(*) AS n_orders,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY gid, st, prio"""

  /** Explicit GROUPING SETS via the first-class Dataset.groupingSets API
    * (Spark 4) — the general form of which rollup (q33) and cube
    * (q65/q77) are special cases: exactly the requested grouping
    * combinations, one Expand + two-phase aggregation, no redundant
    * sets. Here: (status, priority), (status), and the grand total.
    */
  def groupingSetsAudit(orders: DataFrame): DataFrame = {
    import graft.Num._
    orders.groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
        col("n_orders"), col("total_price"))
      .orderBy("st", "prio")
  }

  private val groupingSetsOracle = """
    SELECT COALESCE(o_orderstatus, 'ALL') AS st,
           COALESCE(o_orderpriority, 'ALL') AS prio,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    ORDER BY st, prio"""

  /** Null-handling aggregate semantics, pinned: COUNT(*) counts rows,
    * COUNT(col) skips nulls, SUM/MIN/MAX skip nulls, count_if counts a
    * predicate — the null contracts every downstream consumer silently
    * relies on. Nulls are synthesized deterministically (values below a
    * threshold) with the identical CASE in both engines.
    */
  def nullAggSuite(events: DataFrame): DataFrame = {
    import graft.Num._
    events
      .withColumn("v", expr("CASE WHEN value < 50 THEN NULL ELSE value END"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("v")).as("n_vals"),
        (count(lit(1)) - count(col("v"))).as("n_nulls"),
        dsum(col("v")).as("sum_v"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        expr("count_if(v IS NULL)").as("n_null_if"))
      .orderBy("event_type")
  }

  private val nullAggOracle = """
    WITH t AS (SELECT event_type,
        CASE WHEN value < 50 THEN NULL ELSE value END AS v
      FROM events)
    SELECT event_type,
      COUNT(*) AS n_rows,
      COUNT(v) AS n_vals,
      COUNT(*) - COUNT(v) AS n_nulls,
      CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
      MIN(v) AS min_v,
      MAX(v) AS max_v,
      CAST(count_if(v IS NULL) AS BIGINT) AS n_null_if
    FROM t GROUP BY event_type ORDER BY event_type"""

  /** Statistical aggregates, exactly: builtin stddev/var/corr merge
    * partial moments in partition order (last-ulp nondeterminism the
    * oracle gate cannot tolerate), so the moments are derived from exact
    * decimal POWER SUMS instead — count, Σx, Σx², Σy, Σy², Σxy are each
    * order-independent decimal sums; every downstream double operation
    * (the textbook variance/correlation formulas) is then the identical
    * IEEE expression in both engines. Same two-phase hash-agg shuffle
    * shape as any sum.
    */
  def exactMoments(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"), 2)).cast("double").as("s1"),
        sum(dec(col("value") * col("value"), 4)).cast("double").as("s2"),
        // id power sums go through decimal like the value columns: a raw
        // int64 Σid² overflows near 3e9-row scale under ANSI Spark while
        // DuckDB silently promotes to HUGEINT — decimal(38,0) keeps both
        // engines exact and order-independent
        sum(col("user_id").cast("decimal(38,0)")).cast("double").as("su"),
        sum(col("user_id").cast("decimal(38,0)") *
          col("user_id").cast("decimal(38,0)")).cast("double").as("su2"),
        sum(dec(col("value") * col("user_id"), 2)).cast("double").as("s11"))
      .select(col("event_type"), col("n"),
        (col("s1") / col("n")).as("mean_value"),
        // nullif guards: singleton groups (n=1) and zero-variance columns
        // yield NULL instead of engine-dependent inf/NaN edges
        ((col("s2") - col("s1") * col("s1") / col("n")) /
          nullif(col("n") - 1, lit(0))).as("var_value"),
        // explicit CASE clamp: near-constant groups cancel to a tiny
        // NEGATIVE radicand (last-ulp noise) — Spark sqrt would give NaN
        // while the oracle engine errors. CASE (not GREATEST) because
        // GREATEST's null handling is not a portable contract.
        expr("""CASE WHEN (s2 - s1 * s1 / n) / nullif(n - 1, 0) > 0
                     THEN sqrt((s2 - s1 * s1 / n) / nullif(n - 1, 0))
                     WHEN (s2 - s1 * s1 / n) / nullif(n - 1, 0) IS NULL THEN NULL
                     ELSE 0.0 END""").as("stddev_value"),
        expr("""(n * s11 - s1 * su) / nullif(
                  sqrt(CASE WHEN n * s2 - s1 * s1 > 0 THEN n * s2 - s1 * s1 ELSE 0.0 END) *
                  sqrt(CASE WHEN n * su2 - su * su > 0 THEN n * su2 - su * su ELSE 0.0 END), 0.0)""")
          .as("corr_value_user"))
      .orderBy("event_type")

  private val exactMomentsOracle = """
    WITH s AS (
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        CAST(SUM(CAST(value * value AS DECIMAL(18,4))) AS DOUBLE) AS s2,
        -- id sums through VARCHAR before DOUBLE: DuckDB's direct HUGEINT->
        -- DOUBLE cast is not correctly rounded past int64 (see
        -- higherMomentsOracle); the per-row square is promoted to HUGEINT
        -- so the multiply itself cannot overflow either
        CAST(CAST(SUM(user_id) AS VARCHAR) AS DOUBLE) AS su,
        CAST(CAST(SUM(CAST(user_id AS HUGEINT) * user_id) AS VARCHAR) AS DOUBLE) AS su2,
        CAST(SUM(CAST(value * user_id AS DECIMAL(18,2))) AS DOUBLE) AS s11
      FROM events GROUP BY event_type)
    SELECT event_type, n,
      s1 / n AS mean_value,
      (s2 - s1 * s1 / n) / NULLIF(n - 1, 0) AS var_value,
      CASE WHEN (s2 - s1 * s1 / n) / NULLIF(n - 1, 0) > 0
           THEN sqrt((s2 - s1 * s1 / n) / NULLIF(n - 1, 0))
           WHEN (s2 - s1 * s1 / n) / NULLIF(n - 1, 0) IS NULL THEN NULL
           ELSE 0.0 END AS stddev_value,
      (n * s11 - s1 * su) / NULLIF(
        sqrt(CASE WHEN n * s2 - s1 * s1 > 0 THEN n * s2 - s1 * s1 ELSE 0.0 END) *
        sqrt(CASE WHEN n * su2 - su * su > 0 THEN n * su2 - su * su ELSE 0.0 END), 0) AS corr_value_user
    FROM s ORDER BY event_type"""

  /** Higher exact moments — skewness and kurtosis from the SAME
    * single-pass power-sum algebra as [[exactMoments]], extended to
    * Σx³/Σx⁴ via exact unscaled-integer decimals (see the in-body
    * comment for why a plain double→decimal cast breaks at x⁴
    * magnitudes). Central moments and the skewness/kurtosis ratios are
    * then the identical IEEE expression tree in both engines — only *,
    * /, and sqrt (all correctly rounded by spec), no pow() (libm pow
    * differs across runtimes in the last ulp), and constant-bearing
    * products written in Catalyst's ReorderAssociativeOperator canonical
    * shape so the optimizer cannot regroup them away from the oracle's
    * evaluation order. One two-phase hash-agg shuffle, |groups| rows.
    */
  def higherMoments(events: DataFrame): DataFrame = {
    // Unscaled-integer power sums (the VectorSumDecAgg trick): value has
    // exactly 2 decimal digits, so a = round(value·100) is an exact
    // integer and a⁴ is an exact DECIMAL(38,0) product — summed with no
    // rounding at all. A direct double→DECIMAL(38,8) cast of value⁴
    // diverges between engines: the scaled magnitude (~1e19) exceeds
    // 2^53, so DuckDB's scale-in-double conversion quantizes while
    // Spark's exact BigDecimal expansion doesn't. Unscaling back to
    // double (one cast + one correctly-rounded division) is engine-
    // deterministic.
    val a = round(col("value") * lit(100.0)).cast("decimal(38,0)")
    events.groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(a).as("t1"),
        sum(a * a).as("t2"),
        sum(a * a * a).as("t3"),
        sum(a * a * a * a).as("t4"))
      .select(col("event_type"), col("n"),
        (col("t1").cast("double") / lit(100.0)).as("s1"),
        (col("t2").cast("double") / lit(10000.0)).as("s2"),
        (col("t3").cast("double") / lit(1000000.0)).as("s3"),
        (col("t4").cast("double") / lit(100000000.0)).as("s4"))
      .select(col("event_type"), col("n"), col("s1"), col("s2"), col("s3"),
        col("s4"), expr("s1 / n").as("m"))
      .select(col("event_type"), col("n"), col("s1"), col("s2"), col("s3"),
        col("s4"), col("m"), expr("m * m").as("mm"))
      // constant-bearing products are written in Catalyst's canonical
      // shape — constant leftmost, non-constants grouped left-assoc —
      // so ReorderAssociativeOperator's regrouping is a no-op and the
      // oracle (which has no such rule) evaluates the identical tree;
      // 3*m*m*m*m spelled naively regroups to 3*(m·m·m·m) and flips the
      // last ulp
      .select(col("event_type"), col("n"), col("m"),
        expr("s2 / n - mm").as("m2"),
        expr("s3 / n - 3 * (m * (s2 / n)) + 2 * (mm * m)").as("m3"),
        expr("s4 / n - 4 * (m * (s3 / n)) + 6 * (mm * (s2 / n)) - 3 * (mm * mm)")
          .as("m4"))
      .select(col("event_type"), col("n"),
        col("m").as("mean_value"),
        col("m2").as("var_pop"),
        expr("CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) ELSE NULL END")
          .as("skewness"),
        expr("CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3 ELSE NULL END")
          .as("kurtosis"))
      .orderBy("event_type")
  }

  private val higherMomentsOracle = """
    WITH raw AS (
      SELECT event_type,
        CAST(round(value * 100.0) AS DECIMAL(38,0)) AS a
      FROM events),
    -- decimal->double goes through VARCHAR: DuckDB's direct HUGEINT->
    -- DOUBLE cast is not correctly rounded once the sum exceeds int64
    -- (upper*2^64 + lower, two double roundings), while string->double
    -- and Spark's BigDecimal->double both are
    s AS (
      SELECT event_type, COUNT(*) AS n,
        CAST(CAST(SUM(a) AS VARCHAR) AS DOUBLE) / 100.0 AS s1,
        CAST(CAST(SUM(a * a) AS VARCHAR) AS DOUBLE) / 10000.0 AS s2,
        CAST(CAST(SUM(a * a * a) AS VARCHAR) AS DOUBLE) / 1000000.0 AS s3,
        CAST(CAST(SUM(a * a * a * a) AS VARCHAR) AS DOUBLE) / 100000000.0 AS s4
      FROM raw GROUP BY event_type),
    c1 AS (SELECT *, s1 / n AS m FROM s),
    c1b AS (SELECT *, m * m AS mm FROM c1),
    c2 AS (SELECT *,
        s2 / n - mm AS m2,
        s3 / n - 3 * (m * (s2 / n)) + 2 * (mm * m) AS m3,
        s4 / n - 4 * (m * (s3 / n)) + 6 * (mm * (s2 / n)) - 3 * (mm * mm) AS m4
      FROM c1b)
    SELECT event_type, n, m AS mean_value, m2 AS var_pop,
      CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) ELSE NULL END AS skewness,
      CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3 ELSE NULL END AS kurtosis
    FROM c2 ORDER BY event_type"""

  /** Time-series gap fill: hourly event counts joined against the
    * complete hour spine between the corpus bounds, zero-filling silent
    * hours — the date-spine completion every monitoring/feature pipeline
    * needs (a groupBy alone silently drops empty buckets). The spine is
    * generated from a 1-row bounds aggregate (`sequence` + explode), so
    * it broadcasts; output in integer micros.
    */
  def gapFill(events: DataFrame): DataFrame = {
    val hourly = events.groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n_events"))
      .localCheckpoint() // bounds + join both read this one aggregate
    // date_trunc is monotone, so min/max of the hourly buckets equal the
    // truncated raw bounds — deriving them here avoids a second full scan
    val bounds = hourly.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
    val spine = bounds.select(
      explode(expr("sequence(lo, hi, interval 1 hour)")).as("h"))
    spine.join(hourly, Seq("h"), "left_outer")
      .select(unix_micros(col("h")).as("hour_us"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy("hour_us")
  }

  private val gapFillOracle = """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n_events
      FROM events GROUP BY 1),
    bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
      FROM events),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds)
    SELECT epoch_us(spine.h) AS hour_us, COALESCE(n_events, 0) AS n_events
    FROM spine LEFT OUTER JOIN hourly ON spine.h = hourly.h
    ORDER BY hour_us"""

  /** MapType suite: per-doc token-frequency maps built and consumed in
    * the plan (map_from_arrays, size, element_at, map_values). Outputs
    * are scalars the oracle derives directly from tokens — map-typed
    * COLUMNS never cross the compare boundary (map rendering/ordering is
    * not a portable contract; map semantics are what's under test).
    */
  def mapSuite(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), expr(
        "map_from_arrays(array_distinct(t), " +
          "transform(array_distinct(t), x -> size(filter(t, y -> y = x))))").as("m"))
      .select(
        col("doc_id"),
        size(col("m")).cast("long").as("n_keys"),
        expr("element_at(m, 'the')").cast("long").as("the_count"),
        expr("array_max(map_values(m))").cast("long").as("max_freq"))
      .orderBy("doc_id")

  private val mapSuiteOracle = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tk
      FROM documents WHERE text IS NOT NULL),
    freq AS (SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY 1, 2)
    SELECT doc_id,
      COUNT(*) AS n_keys,
      CAST(MAX(CASE WHEN tk = 'the' THEN c END) AS BIGINT) AS the_count,
      CAST(MAX(c) AS BIGINT) AS max_freq
    FROM freq GROUP BY doc_id ORDER BY doc_id"""

  /** Correlated LATERAL subquery with LIMIT: per-nation top-3 customers
    * via a lateral dependent subquery — Catalyst decorrelates it
    * (DecorrelateInnerQuery) into the window/limit form; the SQL string
    * is dialect-shared with DuckDB, which executes LATERAL natively.
    */
  private val lateralTopnSql = """
    SELECT n.n_name, c.c_custkey, c.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 3) c
    ORDER BY n.n_name, c.c_acctbal DESC, c.c_custkey"""

  def lateralTopn(spark: SparkSession, sfDir: String): DataFrame = {
    nation(spark, sfDir).createOrReplaceTempView("nation")
    customer(spark, sfDir).createOrReplaceTempView("customer")
    spark.sql(lateralTopnSql)
  }

  /** Recursive CTE (Spark 4 WITH RECURSIVE): the month ladder between
    * the order-date bounds generated by iteration — carrying the upper
    * bound through the recursion — left-joined to monthly order counts
    * with zero-fill. The recursion-generated spine complements q80's
    * sequence-generated one; months render as strings (the repo's
    * DATE-rendering rule).
    */
  private def recursiveMonthsSql(fmt: String): String = s"""
    WITH RECURSIVE months(m, hi) AS (
      SELECT date_trunc('month', MIN(o_orderdate)),
             date_trunc('month', MAX(o_orderdate))
      FROM orders
      UNION ALL
      SELECT m + INTERVAL 1 MONTH, hi FROM months WHERE m < hi
    ),
    monthly AS (
      SELECT date_trunc('month', o_orderdate) AS mm, COUNT(*) AS n
      FROM orders GROUP BY 1)
    SELECT $fmt AS month, COALESCE(n, 0) AS n_orders
    FROM months LEFT JOIN monthly ON m = mm
    ORDER BY month"""

  def recursiveMonths(spark: SparkSession, sfDir: String): DataFrame = {
    orders(spark, sfDir).createOrReplaceTempView("orders")
    spark.sql(recursiveMonthsSql("date_format(m, 'yyyy-MM')"))
  }

  /** Name-based union with missing-column fill (`unionByName(
    * allowMissingColumns = true)`) — the schema-evolution union: two
    * ledger extracts with different column ORDER and one missing column
    * are aligned by NAME (positional `union`, SO1, would silently pair
    * o_orderstatus with o_orderkey here) and the absent column comes
    * back NULL. The aggregate then exercises exactly the null semantics
    * evolution produces: COUNT(*) vs COUNT(col) vs null-skipping SUM.
    */
  def unionByNameRecon(orders: DataFrame): DataFrame = {
    val a = orders.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val b = orders.filter(col("o_orderkey") % 3 === 1)
      .select(col("o_orderstatus"), col("o_orderkey"))
    a.unionByName(b, allowMissingColumns = true)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_totalprice")).as("n_priced"),
        dsum(col("o_totalprice")).as("priced_total"))
      .orderBy("o_orderstatus")
  }

  private val unionByNameOracle = """
    WITH u AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL BY NAME
      SELECT o_orderstatus, o_orderkey FROM orders WHERE o_orderkey % 3 = 1)
    SELECT o_orderstatus, COUNT(*) AS n_rows, COUNT(o_totalprice) AS n_priced,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS priced_total
    FROM u GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Explicit AS-OF join — the temporal "latest effective row as of t"
    * lookup (reference has no temporal join; this is the classic rates /
    * SCD lookup every warehouse needs). The point-in-time dimension is
    * intervalized once with lead() (tiny, single-partition window on the
    * dim side only), then the fact side probes it with a broadcast range
    * join: at 100 TB the fact table never shuffles — each row scans an
    * in-memory interval list (BroadcastNestedLoopJoin over |eras| rows,
    * q64's shape). DuckDB's native ASOF JOIN is the oracle, making this
    * an equivalence proof between "intervalize + range join" and the
    * dedicated temporal operator.
    */
  def asofJoin(spark: SparkSession, orders: DataFrame): DataFrame = {
    import spark.implicits._
    val rates = Seq(
      ("1994-07-01", 1.00), ("1996-01-01", 1.04), ("1997-01-01", 1.09),
      ("1998-01-01", 1.16), ("1999-01-01", 1.08), ("2000-01-01", 1.12),
      ("2001-01-01", 1.21),
    ).toDF("eff", "rate")
      .select(to_date(col("eff")).as("effective_from"), col("rate"))
    val nextEra = Window.orderBy("effective_from")
    val eras = rates.withColumn("effective_to",
      coalesce(lead(col("effective_from"), 1).over(nextEra),
        to_date(lit("9999-12-31"))))
    orders.join(broadcast(eras),
        col("o_orderdate") >= col("effective_from") &&
          col("o_orderdate") < col("effective_to"))
      .groupBy(date_format(col("effective_from"), "yyyy-MM-dd").as("era"),
        col("rate"))
      .agg(count(lit(1)).as("n_orders"),
        // rate applied in exact decimal: a double product lands arbitrarily
        // close to .xx5 boundaries where engines' double->decimal rounding
        // diverges; decimal x decimal is exact and order-independent
        sum(dec(col("o_totalprice")) * col("rate").cast(DecimalType(4, 2)))
          .cast("double").as("adj_revenue"))
      .orderBy("era")
  }

  private val asofJoinOracle = """
    WITH rates(eff, rate) AS (VALUES
      (DATE '1994-07-01', 1.00), (DATE '1996-01-01', 1.04),
      (DATE '1997-01-01', 1.09), (DATE '1998-01-01', 1.16),
      (DATE '1999-01-01', 1.08), (DATE '2000-01-01', 1.12),
      (DATE '2001-01-01', 1.21))
    SELECT strftime(eff, '%Y-%m-%d') AS era, CAST(rate AS DOUBLE) AS rate,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(rate AS DECIMAL(4,2)))
           AS DOUBLE) AS adj_revenue
    FROM orders ASOF JOIN rates ON o_orderdate >= eff
    GROUP BY 1, 2 ORDER BY era"""

  /** SCD2 history build from a CDC-style event stream: collapse
    * consecutive same-value rows per key, then emit validity intervals
    * [valid_from, valid_to) with an is_current flag — the standard
    * "dimension table from a change feed" derivation. Two windows over
    * the SAME (user_id, time) partitioning: Catalyst reuses one shuffle +
    * sort for both (no second exchange), so at 100 TB this is a single
    * repartition by key regardless of history depth. valid_to is
    * COALESCEd to a 10000-01-01 sentinel instead of NULL so the column
    * stays integral end-to-end (a nullable BIGINT degrades to float64 in
    * the driver's pandas compare).
    */
  def scd2History(events: DataFrame): DataFrame = {
    val sentinelUs = 253402300800000000L // 10000-01-01T00:00Z in micros
    val byTime = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val changes = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(byTime))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("valid_from_us"))
    val byStart = Window.partitionBy("user_id")
      .orderBy(col("valid_from_us"), col("event_id"))
    changes
      .withColumn("valid_to_us",
        coalesce(lead(col("valid_from_us"), 1).over(byStart), lit(sentinelUs)))
      .withColumn("is_current", (col("valid_to_us") === sentinelUs).cast("long"))
      .orderBy("user_id", "valid_from_us")
  }

  private val scd2Oracle = """
    WITH ordered AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS prev_type
      FROM events),
    changes AS (
      SELECT user_id, event_id, event_type, ts_us FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type)
    SELECT user_id, event_id, event_type, ts_us AS valid_from_us,
      COALESCE(lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id),
               253402300800000000) AS valid_to_us,
      CAST(CASE WHEN lead(ts_us) OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id) IS NULL THEN 1 ELSE 0 END
           AS BIGINT) AS is_current
    FROM changes ORDER BY user_id, valid_from_us"""

  /** Single-pass pipeline telemetry via `Dataset.observe`: data-quality
    * gate metrics (row count, exact value total, negative-value count,
    * max timestamp) are accumulated ON the pass that consumes the data —
    * at 100 TB the alternative is a second full scan per audit. The
    * consuming action here is a distributed `foreach` (nothing is
    * collected); the observed-metrics row is then lifted back into a
    * 1-row DataFrame, which the oracle reproduces relationally.
    */
  def observeMetrics(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val observed = events.observe("quality_gate",
      count(lit(1)).as("n_rows"),
      sum(dec(col("value"), 2)).as("value_total"),
      count(when(col("value") < 0, lit(1))).as("n_negative"),
      max(unix_micros(col("ts"))).as("max_ts_us"))
    // run the dataset's OWN QueryExecution (foreach/count would plan a new
    // one and the metrics would attach there, not here); nothing leaves
    // the executors
    observed.queryExecution.toRdd.foreach(_ => ())
    val m = observed.queryExecution.observedMetrics("quality_gate")
    Seq((m.getLong(0),
        m.getDecimal(1).doubleValue(),
        m.getLong(2),
        m.getLong(3)))
      .toDF("n_rows", "value_total", "n_negative", "max_ts_us")
  }

  private val observeOracle = """
    SELECT COUNT(*) AS n_rows,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_total,
      CAST(COUNT(CASE WHEN value < 0 THEN 1 END) AS BIGINT) AS n_negative,
      MAX(epoch_us(ts)) AS max_ts_us
    FROM events"""

  /** Multi-format source round-trip: the events table is materialized once
    * per sfDir as JSON-lines and CSV (fixture, session-cached), read back
    * through the json/csv sources with an explicit schema (no inference
    * pass — at scale, schema inference is a full extra scan), unioned, and
    * aggregated. Every row surviving BOTH text formats exactly (shortest
    * round-trip double serialization) makes the oracle the plain parquet
    * aggregate at double weight.
    */
  def multiformatSource(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = textCopiesDir(spark, sfDir)
    val schema = "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
    val j = spark.read.schema(schema).json(s"$dir/json")
    val c = spark.read.schema(schema).option("header", "true").csv(s"$dir/csv")
    j.union(c)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("total_value"))
      .orderBy("event_type")
  }

  private val textDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def textCopiesDir(spark: SparkSession, sfDir: String): String =
    textDirs.computeIfAbsent(sfDir, _ => {
      val dir = graft.Tmp.dir("graft_events_text")
      val base = events(spark, sfDir)
        .select("event_id", "user_id", "event_type", "value")
      base.write.mode("overwrite").json(s"$dir/json")
      base.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
      dir.toString
    })

  /** Bench warmup hook: materialize the text-format fixtures outside query
    * timings (corpus preparation, not q120 operator cost).
    */
  def prepareTextCopies(spark: SparkSession, sfDir: String): Unit = {
    textCopiesDir(spark, sfDir); ()
  }

  private val multiformatOracle = """
    SELECT event_type, 2 * COUNT(*) AS n_rows,
      CAST(2 * SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type"""

  /** Explicit left-semi join — membership without duplication or payload
    * (q03's anti join's dual; with inner/left/full/anti/cross/range/asof
    * this completes the join-type family). The dim side reduces to bare
    * keys before broadcasting: a semi join needs only key presence, so
    * shipping any other column is wasted broadcast bytes at scale.
    */
  def semiJoinRevenue(orders: DataFrame, customer: DataFrame): DataFrame =
    orders.join(
        broadcast(customer.filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("o_orderstatus")

  private val semiJoinOracle = """
    SELECT o_orderstatus, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer
                        WHERE c_mktsegment = 'BUILDING')
    GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** ORC + plain-text source round-trip (completes the source-format
    * family: parquet / csv / jsonl / orc / text / binary / streaming
    * file). Both copies are fixture writes (cached per sfDir, prepared
    * in bench warmup); the graded read re-aggregates each format back to
    * corpus totals the oracle recomputes from parquet.
    */
  def orcTextSource(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = orcTextDir(spark, sfDir)
    val o = spark.read.orc(s"$dir/orc")
      .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("total"))
      .select(lit("orc").as("fmt"), col("n_rows"), col("total"))
    val t = spark.read.text(s"$dir/text")
      .agg(count(lit(1)).as("n_rows"),
        sum(length(col("value")).cast("long")).as("total"))
      .select(lit("text").as("fmt"), col("n_rows"), col("total"))
    o.union(t).orderBy("fmt")
  }

  private val orcTextDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def orcTextDir(spark: SparkSession, sfDir: String): String =
    orcTextDirs.computeIfAbsent(sfDir, _ => {
      val dir = graft.Tmp.dir("graft_docs_orctext")
      val docs = documents(spark, sfDir)
      docs.select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").orc(s"$dir/orc")
      // documents.text is newline-free by construction (FIXTURES.md), so
      // one line per document survives the text round-trip losslessly
      docs.select("text").write.mode("overwrite").text(s"$dir/text")
      dir.toString
    })

  /** Bench warmup hook (corpus preparation, not q149 operator cost). */
  def prepareOrcText(spark: SparkSession, sfDir: String): Unit = {
    orcTextDir(spark, sfDir); ()
  }

  private val orcTextOracle = """
    SELECT 'orc' AS fmt, COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS total
    FROM documents
    UNION ALL
    SELECT 'text', COUNT(*), CAST(SUM(length(text)) AS BIGINT)
    FROM documents ORDER BY fmt"""

  /** Schema-evolution read: two parquet generations of the same table —
    * v1 lacks a column that v2 added — unioned by a mergeSchema scan
    * that null-fills the missing column (the lakehouse add-column
    * evolution path, no rewrite of old files). The audit groups on the
    * evolved column with an explicit marker for pre-evolution rows.
    */
  def schemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Num._
    spark.read.option("mergeSchema", "true")
      .parquet(schemaEvoDir(spark, sfDir))
      .groupBy(coalesce(col("o_orderpriority"), lit("<pre-evolution>")).as("prio"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("prio")
  }

  private val schemaEvoDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def schemaEvoDir(spark: SparkSession, sfDir: String): String =
    schemaEvoDirs.computeIfAbsent(sfDir, _ => {
      val dir = graft.Tmp.dir("graft_orders_evo")
      val o = orders(spark, sfDir)
      o.filter(pmod(col("o_orderkey"), lit(2L)) === 0)
        .select("o_orderkey", "o_totalprice") // generation 1: narrow schema
        .write.mode("overwrite").parquet(s"$dir/gen=1")
      o.filter(pmod(col("o_orderkey"), lit(2L)) === 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$dir/gen=2")
      dir.toString
    })

  /** Bench warmup hook (corpus preparation, not q150 operator cost). */
  def prepareSchemaEvo(spark: SparkSession, sfDir: String): Unit = {
    schemaEvoDir(spark, sfDir); ()
  }

  private val schemaEvoOracle = """
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-evolution>'
                ELSE o_orderpriority END AS prio,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY 1 ORDER BY prio"""

  /** Row-level change feed between two table versions: generic
    * full-outer diff on the primary key classifying delete / update /
    * unchanged rows (insert is symmetric), plus the exact decimal drift
    * of the updated measure. The engine runs the GENERIC algorithm —
    * the planted mutation (same recipe as q142's bucket-level
    * reconciliation) only makes the expected feed closed-form for the
    * oracle. Key-partitioned shuffle both sides, counts-only output.
    */
  def changeFeed(orders: DataFrame): DataFrame = {
    import graft.Num._
    val a = orders.select(col("o_orderkey").as("k"), col("o_totalprice").as("va"))
    val b = orders.filter(pmod(col("o_orderkey"), lit(971L)) =!= 3)
      .select(col("o_orderkey").as("k"),
        when(pmod(col("o_orderkey"), lit(977L)) === 5,
          col("o_totalprice") + 1.0).otherwise(col("o_totalprice")).as("vb"))
    a.join(b, Seq("k"), "full_outer")
      .withColumn("op",
        when(col("vb").isNull, "delete")
          .when(col("va").isNull, "insert")
          .when(col("va") =!= col("vb"), "update")
          .otherwise("unchanged"))
      .groupBy("op")
      .agg(count(lit(1)).as("n_rows"),
        dsum(coalesce(col("vb"), lit(0.0)) - coalesce(col("va"), lit(0.0)))
          .as("value_drift"))
      .orderBy("op")
  }

  private val changeFeedOracle = """
    SELECT 'delete' AS op, COUNT(*) AS n_rows,
      CAST(SUM(CAST(0.0 - o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value_drift
    FROM orders WHERE o_orderkey % 971 = 3
    UNION ALL
    SELECT 'unchanged', COUNT(*),
      CAST(SUM(CAST(0.0 AS DECIMAL(18,2))) AS DOUBLE)
    FROM orders WHERE o_orderkey % 971 <> 3 AND o_orderkey % 977 <> 5
    UNION ALL
    SELECT 'update', COUNT(*),
      CAST(SUM(CAST((o_totalprice + 1.0) - o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
    FROM orders WHERE o_orderkey % 971 <> 3 AND o_orderkey % 977 = 5
    ORDER BY op"""

  /** Native-operator twin of q110: the same rates workload through the
    * custom AsofLookup LogicalPlan/Strategy/SparkPlan
    * ([[graft.plans.AsofLookup]]) instead of the intervalize+range-join
    * composition — same oracle (DuckDB ASOF JOIN), so the dedicated
    * operator is equivalence-proven against both the composition and the
    * reference engine.
    */
  def asofNative(spark: SparkSession, orders: DataFrame): DataFrame = {
    import spark.implicits._
    import graft.plans.AsofLookup.asofLookup
    val rates = Seq(
      ("1994-07-01", 1.00), ("1996-01-01", 1.04), ("1997-01-01", 1.09),
      ("1998-01-01", 1.16), ("1999-01-01", 1.08), ("2000-01-01", 1.12),
      ("2001-01-01", 1.21),
    ).toDF("eff", "rate")
      .select(to_date(col("eff")).as("effective_from"), col("rate"))
    asofLookup(
        orders.select(col("o_orderdate"), col("o_totalprice")),
        rates,
        to_date(col("o_orderdate")).cast("date"), col("effective_from"))
      .groupBy(date_format(col("effective_from"), "yyyy-MM-dd").as("era"),
        col("rate"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice")) * col("rate").cast(DecimalType(4, 2)))
          .cast("double").as("adj_revenue"))
      .orderBy("era")
  }

  /** Missing-value repair over a daily series: LOCF (last observation
    * carried forward) and linear interpolation between anchor
    * observations. Anchors are the per-(type, day) exact-decimal sums
    * with ~⅓ of days deterministically dropped (portable md5 coin — the
    * same days vanish in both engines), so the fill logic is exercised
    * on real gaps at every SF. All window work partitions by type (the
    * series key): no global shuffle, frames are IGNORE NULLS running
    * first/last — the shape that distributes over millions of series.
    */
  def locfInterpolate(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("decimal(18,0)")).as("s1"))
      .withColumn("anchor",
        ascii(substring(md5(concat(col("event_type"), col("day").cast("string"))), 1, 1)) % 3 =!= 0)
      .localCheckpoint() // bounds + spine join read this one aggregate
    val bounds = daily.agg(min("day").as("lo"), max("day").as("hi"))
    val spine = bounds
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      .crossJoin(daily.select("event_type").distinct())
    val anchors = daily.filter(col("anchor"))
      .select(col("event_type"), col("day"),
        (col("s1").cast("double") / 100.0).as("v"))
    val wBack = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(anchors, Seq("event_type", "day"), "left_outer")
      .select(col("event_type"), col("day"),
        col("v").isNotNull.cast("long").as("is_anchor"), col("v"),
        last(col("v"), ignoreNulls = true).over(wBack).as("prev_v"),
        last(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wBack).as("prev_d"),
        first(col("v"), ignoreNulls = true).over(wFwd).as("next_v"),
        first(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wFwd).as("next_d"))
      .select(col("event_type"), col("day"), col("is_anchor"),
        col("v").as("anchor_val"),
        col("prev_v").as("locf_val"),
        when(col("prev_d").isNotNull && col("next_d").isNotNull,
          when(col("prev_d") === col("next_d"), col("prev_v"))
            .otherwise(col("prev_v") + (col("next_v") - col("prev_v")) *
              datediff(col("day"), col("prev_d")).cast("double") /
              datediff(col("next_d"), col("prev_d")).cast("double")))
          .otherwise(coalesce(col("prev_v"), col("next_v"))).as("interp_val"))
      .orderBy("event_type", "day")
  }

  private val locfOracle = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
        SUM(CAST(ROUND(value * 100, 0) AS DECIMAL(18,0))) AS s1,
        ascii(substr(md5(event_type || CAST(CAST(ts AS DATE) AS VARCHAR)), 1, 1)) % 3 <> 0 AS anchor
      FROM events GROUP BY 1, 2),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
    spine AS (
      SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds),
    grid AS (
      SELECT t.event_type, spine.day
      FROM spine CROSS JOIN (SELECT DISTINCT event_type FROM daily) t),
    anchors AS (
      SELECT event_type, day, CAST(s1 AS DOUBLE) / 100.0 AS v
      FROM daily WHERE anchor),
    framed AS (
      SELECT g.event_type, g.day, a.v,
        last_value(a.v IGNORE NULLS) OVER wb AS prev_v,
        last_value(CASE WHEN a.v IS NOT NULL THEN g.day END IGNORE NULLS) OVER wb AS prev_d,
        first_value(a.v IGNORE NULLS) OVER wf AS next_v,
        first_value(CASE WHEN a.v IS NOT NULL THEN g.day END IGNORE NULLS) OVER wf AS next_d
      FROM grid g LEFT OUTER JOIN anchors a
        ON g.event_type = a.event_type AND g.day = a.day
      WINDOW
        wb AS (PARTITION BY g.event_type ORDER BY g.day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY g.event_type ORDER BY g.day
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_type, day,
      CAST(v IS NOT NULL AS BIGINT) AS is_anchor,
      v AS anchor_val,
      prev_v AS locf_val,
      CASE WHEN prev_d IS NOT NULL AND next_d IS NOT NULL THEN
        CASE WHEN prev_d = next_d THEN prev_v
          ELSE prev_v + (next_v - prev_v) *
            CAST(date_diff('day', prev_d, day) AS DOUBLE) /
            CAST(date_diff('day', prev_d, next_d) AS DOUBLE) END
        ELSE COALESCE(prev_v, next_v) END AS interp_val
    FROM framed ORDER BY event_type, day"""

  /** Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL) — the
    * multiset counterparts of q12's distinct set ops. Multiplicity-aware
    * semantics matter for reconciliation (N copies on one side vs M on
    * the other). Spark plans these as grouped-count joins on the
    * element key — one shuffle each, no global sort.
    */
  def bagSetOps(orders: DataFrame): DataFrame = {
    val a = orders.filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("k"))
    val b = orders.filter(col("o_totalprice") > lit(250000.0))
      .select(col("o_custkey").as("k"))
    def n(df: DataFrame, op: String) =
      df.agg(count(lit(1)).as("n")).withColumn("op", lit(op))
    n(a.intersectAll(b), "intersect_all")
      .union(n(a.exceptAll(b), "except_all_open_minus_big"))
      .union(n(b.exceptAll(a), "except_all_big_minus_open"))
      .select("op", "n").orderBy("op")
  }

  private val bagSetOpsOracle = """
    WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'),
    b AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 250000.0)
    SELECT 'except_all_big_minus_open' AS op, COUNT(*) AS n
      FROM (SELECT k FROM b EXCEPT ALL SELECT k FROM a)
    UNION ALL
    SELECT 'except_all_open_minus_big' AS op, COUNT(*) AS n
      FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    UNION ALL
    SELECT 'intersect_all' AS op, COUNT(*) AS n
      FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    ORDER BY op"""

  /** XML source round-trip (completes the format family: parquet, csv,
    * jsonl, orc, text, binary, xml — Spark 4's built-in XML reader).
    * Explicit schema: no inference scan, the reader plans exactly the
    * projected fields. The fixture derives from documents, so the
    * oracle recomputes from the source table (DuckDB reads no XML).
    */
  def xmlSource(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = xmlFixtureDir(spark, sfDir)
    val schema = "doc_id LONG, lang STRING, source STRING, n_chars LONG"
    spark.read.format("xml").option("rowTag", "doc").schema(schema).load(dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("lang", "source")
  }

  private val xmlDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def xmlFixtureDir(spark: SparkSession, sfDir: String): String =
    xmlDirs.computeIfAbsent(sfDir, _ => {
      val dir = graft.Tmp.dir("graft_docs_xml").toString
      documents(spark, sfDir).select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").format("xml")
        .option("rowTag", "doc").option("rootTag", "docs").save(dir)
      dir
    })

  /** Bench warmup hook (corpus preparation, not q183 operator cost). */
  def prepareXml(spark: SparkSession, sfDir: String): Unit = {
    xmlFixtureDir(spark, sfDir); ()
  }

  private val xmlOracle = """
    SELECT lang, source, COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang, source ORDER BY lang, source"""

  /** Batch MERGE INTO semantics (the lakehouse write-side upsert,
    * batch twin of q95's streaming CDC merge): target = open orders,
    * source = repriced big-ticket orders; matched rows UPDATE, source-
    * only rows INSERT, target-only rows carry over. Spelled as ONE
    * full-outer join on the merge key — the distributed shape MERGE
    * compiles to (both sides shuffle on the key once; at 100 TB the
    * target side would be bucketed on the key and not move at all).
    * Output audits the action mix and the exact post-merge revenue.
    */
  def mergeInto(orders: DataFrame): DataFrame = {
    val target = orders.filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey").as("t_key"), col("o_totalprice").as("t_price"))
    val source = orders.filter(col("o_totalprice") > lit(250000.0))
      .select(col("o_orderkey").as("s_key"),
        // repricing by an exact binary shift (-1024.0) keeps 2-decimal
        // exactness; prices here are > 250k so it cannot go negative
        (col("o_totalprice") - lit(1024.0)).as("s_price"))
    target.join(source, col("t_key") === col("s_key"), "full_outer")
      .select(
        when(col("t_key").isNotNull && col("s_key").isNotNull, "update")
          .when(col("s_key").isNotNull, "insert")
          .otherwise("keep").as("action"),
        coalesce(col("s_price"), col("t_price")).as("price"))
      .groupBy("action")
      .agg(count(lit(1)).as("n_rows"), dsum(col("price")).as("revenue"))
      .orderBy("action")
  }

  private val mergeIntoOracle = """
    WITH target AS (
      SELECT o_orderkey AS t_key, o_totalprice AS t_price
      FROM orders WHERE o_orderstatus = 'O'),
    source AS (
      SELECT o_orderkey AS s_key, o_totalprice - 1024.0 AS s_price
      FROM orders WHERE o_totalprice > 250000.0),
    merged AS (
      SELECT
        CASE WHEN t_key IS NOT NULL AND s_key IS NOT NULL THEN 'update'
             WHEN s_key IS NOT NULL THEN 'insert'
             ELSE 'keep' END AS action,
        COALESCE(s_price, t_price) AS price
      FROM target FULL OUTER JOIN source ON t_key = s_key)
    SELECT action, COUNT(*) AS n_rows,
      CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM merged GROUP BY action ORDER BY action"""

  // ---------------------------------------------------------------- q366

  /** CSV parse-mode audit: the same fixture (documents as headerless
    * CSV plus 7 planted malformed lines — wrong arity and bad types)
    * read in PERMISSIVE (corrupt rows kept, flagged via
    * _corrupt_record) and DROPMALFORMED (corrupt rows silently gone).
    * The report pins Spark's malformed-row contract: row counts,
    * corrupt counts, and the parsed-payload checksum that must be
    * IDENTICAL across modes — corruption handling must never change
    * clean-row parsing. Completes the source family's error-path
    * coverage (q121 covers JSON).
    */
  def csvModes(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = csvDir(spark, sfDir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType),
      StructField("_corrupt_record", StringType)))
    val perm = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("_corrupt_record").isNotNull.cast("long")).as("n_corrupt"),
        sum("n_chars").as("checksum"))
      .select(lit("permissive").as("mode"), col("n_rows"), col("n_corrupt"),
        col("checksum"))
    val drop = spark.read
      .schema(StructType(schema.fields.dropRight(1)))
      .option("mode", "DROPMALFORMED")
      .csv(dir)
      .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("checksum"))
      .select(lit("dropmalformed").as("mode"), col("n_rows"),
        lit(0L).as("n_corrupt"), col("checksum"))
    perm.unionAll(drop).orderBy("mode")
  }

  private val csvDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def csvDir(spark: SparkSession, sfDir: String): String =
    csvDirs.computeIfAbsent(sfDir, _ => {
      val dir = graft.Tmp.dir("graft_docs_csv")
      documents(spark, sfDir).select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").option("header", "false")
        .csv(s"$dir/csv")
      // every planted line has correct arity but an unparseable LONG in
      // both numeric fields — unambiguously malformed under every CSV
      // mode (short/long-arity semantics differ across Spark versions)
      val bad = (1 to 7).map(i => s"bad$i,xx,chars$i")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/csv/part-corrupt.csv"),
        bad.mkString("\n").getBytes("UTF-8"))
      s"$dir/csv"
    })

  /** Bench warmup hook (fixture preparation, not q366 operator cost). */
  def prepareCsv(spark: SparkSession, sfDir: String): Unit = {
    csvDir(spark, sfDir); ()
  }

  private val csvModesOracle = """
    SELECT 'dropmalformed' AS mode, COUNT(*) AS n_rows,
      CAST(0 AS BIGINT) AS n_corrupt,
      CAST(SUM(n_chars) AS BIGINT) AS checksum
    FROM documents
    UNION ALL
    SELECT 'permissive', COUNT(*) + 7, 7, CAST(SUM(n_chars) AS BIGINT)
    FROM documents ORDER BY mode"""

  override def queries: Seq[Q] = Seq(
    Q("q366_csv_modes",
      (s, d) => csvModes(s, d), Some(csvModesOracle)),
    Q("q189_merge_into",
      (s, d) => mergeInto(orders(s, d)), Some(mergeIntoOracle)),
    Q("q183_xml_source",
      (s, d) => xmlSource(s, d), Some(xmlOracle)),
    Q("q175_locf_interpolate",
      (s, d) => locfInterpolate(events(s, d)), Some(locfOracle)),
    Q("q180_bag_set_ops",
      (s, d) => bagSetOps(orders(s, d)), Some(bagSetOpsOracle)),
    Q("q162_asof_native",
      (s, d) => asofNative(s, orders(s, d)), Some(asofJoinOracle)),
    Q("q149_orc_text_source",
      (s, d) => orcTextSource(s, d), Some(orcTextOracle)),
    Q("q150_schema_evolution",
      (s, d) => schemaEvolution(s, d), Some(schemaEvoOracle)),
    Q("q147_change_feed",
      (s, d) => changeFeed(orders(s, d)), Some(changeFeedOracle)),
    Q("q122_semi_join",
      (s, d) => semiJoinRevenue(orders(s, d), customer(s, d)),
      Some(semiJoinOracle)),
    Q("q119_observe_metrics",
      (s, d) => observeMetrics(s, events(s, d)), Some(observeOracle)),
    Q("q120_multiformat_source",
      (s, d) => multiformatSource(s, d), Some(multiformatOracle)),
    Q("q110_asof_join",
      (s, d) => asofJoin(s, orders(s, d)), Some(asofJoinOracle)),
    Q("q111_scd2_history",
      (s, d) => scd2History(events(s, d)), Some(scd2Oracle)),
    Q("q83_recursive_months",
      (s, d) => recursiveMonths(s, d),
      Some(recursiveMonthsSql("strftime(m, '%Y-%m')"))),
    Q("q82_lateral_topn", (s, d) => lateralTopn(s, d), Some(lateralTopnSql)),
    Q("q81_map_suite", (s, d) => mapSuite(documents(s, d)), Some(mapSuiteOracle)),
    Q("q80_gap_fill", (s, d) => gapFill(events(s, d)), Some(gapFillOracle)),
    Q("q79_exact_moments",
      (s, d) => exactMoments(events(s, d)), Some(exactMomentsOracle)),
    Q("q90_higher_moments",
      (s, d) => higherMoments(events(s, d)), Some(higherMomentsOracle)),
    Q("q97_array_set_ops",
      (s, d) => arraySetOps(documents(s, d)), Some(arraySetOpsOracle)),
    Q("q98_provenance_manifest",
      (s, d) => provenanceManifest(s, d), Some(provenanceOracle)),
    Q("q99_grouping_sets",
      (s, d) => groupingSetsAudit(orders(s, d)), Some(groupingSetsOracle)),
    Q("q100_null_agg_suite",
      (s, d) => nullAggSuite(events(s, d)), Some(nullAggOracle)),
    Q("q77_grouping_id", (s, d) => groupingIdSuite(orders(s, d)), Some(groupingIdOracle)),
    Q("q76_conditional_suite",
      (s, d) => conditionalSuite(customer(s, d)), Some(conditionalOracle)),
    Q("q75_full_outer_recon",
      (s, d) => fullOuterRecon(orders(s, d), events(s, d)), Some(fullOuterOracle)),
    Q("q73_array_suite",
      (s, d) => arraySuite(documents(s, d)), Some(arraySuiteOracle)),
    Q("q74_long_token_audit",
      (s, d) => longTokenAudit(documents(s, d)), Some(longTokenOracle)),
    Q("q64_band_range_join",
      (s, d) => bandRangeJoin(s, lineitem(s, d)), Some(bandRangeOracle)),
    Q("q65_cube_revenue",
      (s, d) => cubeRevenue(orders(s, d), customer(s, d)), Some(cubeOracle)),
    Q("q66_purchase_context",
      (s, d) => purchaseContext(events(s, d)), Some(purchaseContextOracle)),
    Q("q70_unpivot_totals",
      (s, d) => unpivotTotals(orders(s, d)), Some(unpivotOracle)),
    Q("q71_rank_suite",
      (s, d) => rankSuite(customer(s, d)), Some(rankSuiteOracle)),
    Q("q104_union_by_name",
      (s, d) => unionByNameRecon(orders(s, d)), Some(unionByNameOracle)),
  )
}
