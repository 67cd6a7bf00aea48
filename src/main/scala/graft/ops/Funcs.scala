package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, QueryModule}
import graft.Tables._
import graft.Num._

/** Scalar-function surface beyond the reference's F-series: JSON
  * extraction (the events.props payload), string functions, math
  * functions — the breadth a user of the engine reaches for daily. All
  * deterministic and oracle-checked; transcendentals are rounded at
  * scale 8 because Java StrictMath and DuckDB's libm can differ in the
  * final bit.
  */
object Funcs extends QueryModule {

  /** JSON payload extraction + rollup over the event props column. */
  def jsonExtract(events: DataFrame): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("long")
    events.withColumn("k", k)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("distinct_k"))
      .orderBy("event_type")
  }

  private val jsonOracle = """
    WITH e AS (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
    SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k,
      COUNT(DISTINCT k) AS distinct_k
    FROM e GROUP BY event_type ORDER BY event_type"""

  /** String-function suite over part names. */
  def stringSuite(part: DataFrame): DataFrame =
    part.select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        length(col("p_name")).cast("long").as("len"),
        lpad(col("p_brand"), 12, "*").as("padded"),
        regexp_replace(col("p_name"), " ", "-").as("dashed"),
        reverse(col("p_name")).as("rev"),
        substring(col("p_name"), 1, 5).as("prefix5"),
        (instr(col("p_name"), "a") > 0).cast("int").cast("long").as("has_a"),
        trim(concat(lit("  "), col("p_type"), lit("  "))).as("trimmed"),
        coalesce(nullif(col("p_brand"), lit("Brand#1")), lit("OTHER")).as("brand_or_other"))
      .orderBy("p_partkey")

  private val stringOracle = """
    SELECT p_partkey,
      upper(p_name) AS up,
      CAST(length(p_name) AS BIGINT) AS len,
      lpad(p_brand, 12, '*') AS padded,
      regexp_replace(p_name, ' ', '-', 'g') AS dashed,
      reverse(p_name) AS rev,
      substr(p_name, 1, 5) AS prefix5,
      CAST(CASE WHEN strpos(p_name, 'a') > 0 THEN 1 ELSE 0 END AS BIGINT) AS has_a,
      trim('  ' || p_type || '  ') AS trimmed,
      COALESCE(NULLIF(p_brand, 'Brand#1'), 'OTHER') AS brand_or_other
    FROM part ORDER BY p_partkey"""

  /** Math-function suite over a deterministic lineitem sample. */
  def mathSuite(li: DataFrame): DataFrame =
    li.filter(pmod(col("l_orderkey"), lit(997)) === 0)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_extendedprice") * lit(-1.0)).as("abs_price"),
        ceil(col("l_quantity")).cast("long").as("ceil_qty"),
        floor(col("l_extendedprice")).cast("long").as("floor_price"),
        round(sqrt(col("l_extendedprice")), 8).as("sqrt_price"),
        (col("l_quantity") * col("l_quantity")).as("qty_sq"),
        greatest(col("l_discount"), col("l_tax")).as("max_rate"),
        least(col("l_discount"), col("l_tax")).as("min_rate"),
        signum(col("l_extendedprice") - lit(30000.0)).as("price_sign"),
        round(log(col("l_extendedprice")), 8).as("ln_price"),
        round(exp(col("l_discount")), 8).as("exp_disc"),
        round(log10(col("l_extendedprice")), 8).as("log10_price"))
      .orderBy("l_orderkey", "l_linenumber")

  private val mathOracle = """
    SELECT l_orderkey, l_linenumber,
      abs(l_extendedprice * -1.0) AS abs_price,
      CAST(ceil(l_quantity) AS BIGINT) AS ceil_qty,
      CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
      ROUND(sqrt(l_extendedprice), 8) AS sqrt_price,
      l_quantity * l_quantity AS qty_sq,
      GREATEST(l_discount, l_tax) AS max_rate,
      LEAST(l_discount, l_tax) AS min_rate,
      CAST(sign(l_extendedprice - 30000.0) AS DOUBLE) AS price_sign,
      ROUND(ln(l_extendedprice), 8) AS ln_price,
      ROUND(exp(l_discount), 8) AS exp_disc,
      ROUND(log10(l_extendedprice), 8) AS log10_price
    FROM lineitem WHERE l_orderkey % 997 = 0
    ORDER BY l_orderkey, l_linenumber"""

  /** Date/time-function suite over orders. */
  def dateSuite(orders: DataFrame): DataFrame =
    orders.filter(pmod(col("o_orderkey"), lit(499)) === 0)
      .select(
        col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        dayofweek(col("o_orderdate")).cast("long").as("dow_1sun"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_2002"),
        date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3mo"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("epoch_us")) // NTZ -> TZ in UTC session
      .orderBy("o_orderkey")

  private val dateOracle = """
    SELECT o_orderkey,
      date_trunc('month', o_orderdate) AS month_start,
      CAST(dayofmonth(o_orderdate) AS BIGINT) AS dom,
      CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow_1sun,
      CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
      CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002,
      strftime(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE), '%Y-%m-%d') AS plus3mo,
      epoch_us(o_orderdate) AS epoch_us
    FROM orders WHERE o_orderkey % 499 = 0
    ORDER BY o_orderkey"""

  /** Pivot: revenue per year x market segment as wide columns (the five
    * segment values are a fixed vocabulary, so the output schema is
    * deterministic; the oracle is conditional aggregation).
    */
  def pivotRevenue(orders: DataFrame, customer: DataFrame): DataFrame = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    orders.join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        col("c_mktsegment"), dec(col("o_totalprice")).as("p"))
      .groupBy("yr")
      .pivot("c_mktsegment", segs)
      .sum("p")
      .select(col("yr") +: segs.map(s => col(s).cast("double").as(s)): _*)
      .orderBy("yr")
  }

  private val pivotOracle = """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      CAST(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "AUTOMOBILE",
      CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "BUILDING",
      CAST(SUM(CASE WHEN c_mktsegment = 'FURNITURE' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "FURNITURE",
      CAST(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "HOUSEHOLD",
      CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "MACHINERY"
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1 ORDER BY yr"""

  /** Ordered distinct string aggregation per group. */
  def stringAgg(li: DataFrame): DataFrame =
    li.groupBy("l_returnflag")
      .agg(
        array_join(sort_array(collect_set(col("l_linestatus"))), ",").as("statuses"),
        countDistinct(col("l_linestatus")).as("n_statuses"))
      .orderBy("l_returnflag")

  private val stringAggOracle = """
    SELECT l_returnflag,
      string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
      COUNT(DISTINCT l_linestatus) AS n_statuses
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Bitwise operator suite: row-level &, |, ^, ~, shifts and popcount
    * folded through the bit_and/bit_or/bit_xor aggregates per group —
    * integer-exact in both engines (no float divergence possible).
    * Operator spellings differ (Spark `^` = DuckDB `xor()`, DuckDB `^` is
    * POWER; Spark `shiftleft()` = DuckDB `<<`), semantics are two's-
    * complement int64 in both.
    */
  def bitwiseSuite(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        expr("bit_and(event_id & 1023)").as("and_low"),
        expr("bit_or(event_id & 1023)").as("or_low"),
        expr("bit_xor(user_id)").as("xor_users"),
        sum(expr("bit_count(event_id)").cast("long")).as("total_bits"),
        // id-magnitude sums grow ~N²: promote addends to decimal(38,0)
        // (exact, like q79/q90) instead of raw int64 sums that ANSI-
        // overflow around 4e9 rows; DuckDB's SUM is already HUGEINT.
        // The final BIGINT output cast overflows identically in both
        // engines if the total itself outgrows int64.
        sum(expr("shiftright(event_id, 2)").cast("decimal(38,0)"))
          .cast("long").as("sum_shr"),
        sum(expr("shiftleft(user_id, 3)").cast("decimal(38,0)"))
          .cast("long").as("sum_shl"),
        sum(expr("event_id ^ user_id").cast("decimal(38,0)"))
          .cast("long").as("sum_xor"),
        sum(expr("~event_id & 1023")).as("sum_not_low"))
      .orderBy("event_type")

  private val bitwiseOracle = """
    SELECT event_type, COUNT(*) AS n,
      bit_and(event_id & 1023) AS and_low,
      bit_or(event_id & 1023) AS or_low,
      bit_xor(user_id) AS xor_users,
      CAST(SUM(bit_count(event_id)) AS BIGINT) AS total_bits,
      CAST(SUM(event_id >> 2) AS BIGINT) AS sum_shr,
      CAST(SUM(user_id << 3) AS BIGINT) AS sum_shl,
      CAST(SUM(xor(event_id, user_id)) AS BIGINT) AS sum_xor,
      CAST(SUM(~event_id & 1023) AS BIGINT) AS sum_not_low
    FROM events GROUP BY event_type ORDER BY event_type"""

  /** Per-type weighted mean via the typed Aggregator API (weight =
    * event_id%10 + 1, a deterministic stand-in for a sampling weight).
    * See [[graft.functions.WeightedMeanAgg]] for the exactness contract.
    */
  def weightedMean(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import graft.functions.WeightedMeanAgg
    events
      .select(col("event_type"),
        col("value"), (col("event_id") % 10 + 1).as("w"))
      .as[WeightedMeanAgg.EvW]
      .groupByKey(_.event_type)
      .agg(WeightedMeanAgg.weightedMean.toColumn.name("wmean"))
      .toDF("event_type", "wmean")
      .orderBy("event_type")
  }

  private val weightedMeanOracle = """
    SELECT event_type,
      CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)) * ((event_id % 10) + 1)) AS VARCHAR) AS DOUBLE)
        / CAST(CAST(SUM((event_id % 10) + 1) AS VARCHAR) AS DOUBLE) AS wmean
    FROM events GROUP BY event_type ORDER BY event_type"""

  /** Exact MODE and DISCRETE quantiles per group — the order-statistics
    * that interpolated percentile (q15) doesn't cover. Both are spelled
    * as explicit window semantics instead of engine builtins because the
    * builtins' tie-breaking is engine-defined (Spark `mode()` picks an
    * arbitrary most-frequent value; DuckDB's differs) — the explicit
    * forms pin a total order: mode = highest count then lowest value,
    * discrete quantile q = smallest value whose cume_dist >= q (the
    * standard inverse-CDF definition). Distribution shape: the mode is a
    * two-phase count aggregate (map-side partials) + a top-1 window over
    * |distinct values| rows; the quantile pass is one sort per group.
    */
  def quantileModes(li: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = li.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val wMode = Window.partitionBy("l_returnflag")
      .orderBy(col("cnt").desc, col("l_quantity").asc)
    val modes = freq.withColumn("rn", row_number().over(wMode))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
        col("cnt").as("mode_n"))
    val wCd = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    val disc = li.select(col("l_returnflag"), col("l_quantity"))
      .withColumn("cd", cume_dist().over(wCd))
      .groupBy("l_returnflag")
      .agg(min(when(col("cd") >= 0.5, col("l_quantity"))).as("p50_disc"),
        min(when(col("cd") >= 0.9, col("l_quantity"))).as("p90_disc"),
        count(lit(1)).as("n"))
    modes.join(disc, "l_returnflag").orderBy("l_returnflag")
  }

  private val quantileModesOracle = """
    WITH freq AS (
      SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2),
    modes AS (
      SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_n
      FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
              ORDER BY cnt DESC, l_quantity ASC) AS rn FROM freq)
      WHERE rn = 1),
    cd AS (
      SELECT l_returnflag, l_quantity,
        cume_dist() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cd
      FROM lineitem),
    disc AS (
      SELECT l_returnflag,
        MIN(CASE WHEN cd >= 0.5 THEN l_quantity END) AS p50_disc,
        MIN(CASE WHEN cd >= 0.9 THEN l_quantity END) AS p90_disc,
        COUNT(*) AS n
      FROM cd GROUP BY 1)
    SELECT modes.l_returnflag, mode_qty, mode_n, p50_disc, p90_disc, n
    FROM modes JOIN disc ON modes.l_returnflag = disc.l_returnflag
    ORDER BY modes.l_returnflag"""

  /** Regexp-function suite over document text: match counting, first
    * match, all-matches extraction, global replacement, boolean match —
    * regexp_count / regexp_extract / regexp_extract_all / regexp_replace
    * / rlike. Patterns stay in the common Java-regex ∩ RE2 dialect
    * (character classes + quantifiers) so both engines compile them
    * identically; the all-matches list is folded to '|'-joined md5 to
    * keep rows narrow.
    */
  def regexpSuite(docs: DataFrame): DataFrame = {
    val pat = "ta[a-z]+"
    docs.select(
        col("doc_id"),
        regexp_count(col("text"), lit(pat)).cast("long").as("n_ta"),
        regexp_extract(col("text"), pat, 0).as("first_ta"),
        md5(concat_ws("|", regexp_extract_all(col("text"), lit(pat), lit(0)))
          .cast("binary")).as("all_ta_md5"),
        col("text").rlike("vector|stream").cast("int").as("has_topic"),
        md5(regexp_replace(col("text"), "[aeiou]", "_").cast("binary"))
          .as("devoweled_md5"))
      .orderBy("doc_id")
  }

  private val regexpOracle = """
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, 'ta[a-z]+')) AS BIGINT) AS n_ta,
      COALESCE(regexp_extract(text, 'ta[a-z]+'), '') AS first_ta,
      -- COALESCE: DuckDB array_to_string([]) is NULL, Spark concat_ws is ''
      md5(COALESCE(array_to_string(regexp_extract_all(text, 'ta[a-z]+'), '|'), ''))
        AS all_ta_md5,
      CAST(regexp_matches(text, 'vector|stream') AS INT) AS has_topic,
      md5(regexp_replace(text, '[aeiou]', '_', 'g')) AS devoweled_md5
    FROM documents ORDER BY doc_id"""

  /** Semi-structured VARIANT pipeline (Spark 4's open JSON type,
    * complementing q53's string-path get_json_object): rows are serialized
    * to JSON, parsed into VARIANT once, and all downstream access is typed
    * `variant_get` path extraction — nested object, array index, and a
    * missing path through `try_variant_get` (NULL, never an error). The
    * double survives the text round-trip exactly (shortest-round-trip
    * serialization on both engines), so the revenue sum still
    * decimal-matches the oracle, which reads the same fields relationally.
    * At scale VARIANT keeps one binary-encoded column instead of
    * re-parsing JSON text per access.
    */
  def variantSuite(orders: DataFrame): DataFrame = {
    val j = to_json(struct(
      col("o_orderkey").as("k"),
      col("o_orderstatus").as("s"),
      array(col("o_totalprice")).as("a"),
      struct(col("o_orderpriority").as("p")).as("n")))
    orders.withColumn("v", parse_json(j))
      .select(
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("variant_get(v, '$.s', 'string')").as("s"),
        expr("variant_get(v, '$.a[0]', 'double')").as("price"),
        expr("variant_get(v, '$.n.p', 'string')").as("prio"),
        expr("try_variant_get(v, '$.missing', 'bigint')").as("missing"))
      .groupBy("s", "prio")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("price")).as("revenue"),
        max(col("k")).as("max_key"),
        count(col("missing")).as("n_missing"))
      .orderBy("s", "prio")
  }

  private val variantOracle = """
    SELECT o_orderstatus AS s, o_orderpriority AS prio, COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      MAX(o_orderkey) AS max_key, CAST(0 AS BIGINT) AS n_missing
    FROM orders GROUP BY 1, 2 ORDER BY s, prio"""

  /** Approximate quantiles (Greenwald-Khanna `approx_percentile`) per
    * return flag — the sketch that replaces exact percentiles (q15) when
    * a single sorted pass over 100 TB is off the table: mergeable
    * per-partition summaries, one small final merge. Sketch outputs are
    * solver-defined, not SQL-reproducible => rows-only here; the ScalaTest
    * spec pins each estimate within the documented rank-error bound of
    * the exact percentile.
    */
  def approxQuantiles(li: DataFrame): DataFrame =
    li.groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95), 10000)")
          .as("approx_q"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"),
        element_at(col("approx_q"), 1).as("p25"),
        element_at(col("approx_q"), 2).as("p50"),
        element_at(col("approx_q"), 3).as("p75"),
        element_at(col("approx_q"), 4).as("p95"),
        col("n_rows"))
      .orderBy("l_returnflag")

  /** Malformed-input tolerance audit: a deterministic slice of the JSON
    * payloads is corrupted in-plan, then parsed with `from_json` under
    * PERMISSIVE semantics — bad records degrade to NULL rows instead of
    * failing the job (at 100 TB a fail-on-first-bad-record pipeline never
    * finishes; quarantine-and-count is the only viable posture). The audit
    * reports per-type valid counts and the aggregate over surviving rows.
    */
  def corruptJsonAudit(events: DataFrame): DataFrame = {
    val raw = when(col("event_id") % 7 === 0, concat(lit("x"), col("props")))
      .otherwise(col("props"))
    events.withColumn("parsed", from_json(raw, "k BIGINT", Map.empty[String, String]))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        count(col("parsed.k")).as("n_valid"),
        sum(col("parsed.k")).as("sum_k"))
      .orderBy("event_type")
  }

  private val corruptJsonOracle = """
    WITH r AS (SELECT event_type,
        CASE WHEN event_id % 7 = 0 THEN 'x' || props ELSE props END AS raw
      FROM events)
    SELECT event_type, COUNT(*) AS n_events,
      CAST(COUNT(CASE WHEN json_valid(raw) THEN 1 END) AS BIGINT) AS n_valid,
      CAST(SUM(CASE WHEN json_valid(raw)
                THEN CAST(json_extract_string(raw, '$.k') AS BIGINT) END)
           AS BIGINT) AS sum_k
    FROM r GROUP BY event_type ORDER BY event_type"""

  /** argmax/argmin aggregate family (`max_by`/`min_by`): "the value at the
    * extremal key" without a self-join or window — single-pass, partial-
    * aggregable, the O(1)-state alternative to q08's row_number approach.
    * The ordering key (event_id) is unique, so results are deterministic
    * across engines (max_by on a tied key is tie-arbitrary — never use a
    * non-unique key when an oracle must match).
    */
  def argmaxSuite(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(
        max_by(col("value"), col("event_id")).as("last_val"),
        min_by(col("value"), col("event_id")).as("first_val"),
        max_by(col("user_id"), col("event_id")).as("last_user"),
        max(col("event_id")).as("max_event_id"))
      .orderBy("event_type")

  private val argmaxOracle = """
    SELECT event_type,
      arg_max("value", event_id) AS last_val,
      arg_min("value", event_id) AS first_val,
      arg_max(user_id, event_id) AS last_user,
      MAX(event_id) AS max_event_id
    FROM events GROUP BY event_type ORDER BY event_type"""

  /** Pythagorean mean suite per event type: arithmetic (exact decimal
    * sum), geometric (exp of the mean log) and harmonic (n over the
    * reciprocal sum) means. Transcendental addends have no exact-decimal
    * path, so the log/reciprocal sums are PINNED-ORDER folds over the
    * per-type value sequence (event_id order — the q133 rule: both
    * engines fold `0.0 + x₁ + x₂ + …` in the same order, and identical
    * fold sequences give identical doubles). The oracle-reproducible
    * form; the production path is a plain double sum whose ±ULP noise a
    * monitoring use case tolerates. AM ≥ GM ≥ HM by construction.
    */
  def meanSuite(events: DataFrame): DataFrame = {
    // values that round to zero at the working scale have no log or
    // reciprocal — excluded from all three means in BOTH engines (and
    // ANSI mode would otherwise fault the 100/v division)
    val base = events.select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("v100"))
      .filter(col("v100") > 0)
    base.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (sum(col("v100")).cast("double") / count(lit(1)) / 100.0).as("arith_mean"),
        exp(osum(expr("ln(v100 / cast(100.0 as double))"), col("event_id"))
          / count(lit(1))).as("geo_mean"),
        (count(lit(1)).cast("double")
          / osum(expr("cast(100.0 as double) / v100"), col("event_id"))).as("harm_mean"))
      .select(col("event_type"), col("n"),
        col("arith_mean"),
        round(col("geo_mean"), 6).as("geo_mean"),
        round(col("harm_mean"), 6).as("harm_mean"))
      .orderBy("event_type")
  }

  private val meanSuiteOracle = """
    WITH base AS (
      SELECT event_type, event_id,
        CAST(ROUND(value * 100, 0) AS BIGINT) AS v100
      FROM events)
    , pos AS (SELECT * FROM base WHERE v100 > 0)
    SELECT event_type, COUNT(*) AS n,
      CAST(CAST(SUM(v100) AS BIGINT) AS DOUBLE) / COUNT(*) / 100.0 AS arith_mean,
      ROUND(exp(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(ln(v100 / CAST(100.0 AS DOUBLE)) ORDER BY event_id)), (s, x) -> s + x) / COUNT(*)), 6) AS geo_mean,
      ROUND(CAST(COUNT(*) AS DOUBLE) / list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(CAST(100.0 AS DOUBLE) / v100 ORDER BY event_id)), (s, x) -> s + x), 6) AS harm_mean
    FROM pos GROUP BY event_type ORDER BY event_type"""

  override def queries: Seq[Q] = Seq(
    Q("q185_mean_suite",
      (s, d) => meanSuite(events(s, d)), Some(meanSuiteOracle)),
    Q("q121_corrupt_json_audit",
      (s, d) => corruptJsonAudit(events(s, d)), Some(corruptJsonOracle)),
    Q("q123_argmax_suite",
      (s, d) => argmaxSuite(events(s, d)), Some(argmaxOracle)),
    Q("q118_variant_suite",
      (s, d) => variantSuite(orders(s, d)), Some(variantOracle)),
    Q("q113_approx_quantiles",
      (s, d) => approxQuantiles(lineitem(s, d)), None),
    Q("q53_json_extract", (s, d) => jsonExtract(events(s, d)), Some(jsonOracle)),
    Q("q102_quantile_modes",
      (s, d) => quantileModes(lineitem(s, d)), Some(quantileModesOracle)),
    Q("q107_regexp_suite",
      (s, d) => regexpSuite(documents(s, d)), Some(regexpOracle)),
    Q("q91_bitwise_suite",
      (s, d) => bitwiseSuite(events(s, d)), Some(bitwiseOracle)),
    Q("q94_weighted_mean",
      (s, d) => weightedMean(s, events(s, d)), Some(weightedMeanOracle)),
    Q("q59_pivot_revenue",
      (s, d) => pivotRevenue(orders(s, d), customer(s, d)), Some(pivotOracle)),
    Q("q60_string_agg", (s, d) => stringAgg(lineitem(s, d)), Some(stringAggOracle)),
    Q("q54_string_suite", (s, d) => stringSuite(part(s, d)), Some(stringOracle)),
    Q("q55_math_suite", (s, d) => mathSuite(lineitem(s, d)), Some(mathOracle)),
    Q("q56_date_suite", (s, d) => dateSuite(orders(s, d)), Some(dateOracle)),
  )
}
