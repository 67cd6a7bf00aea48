package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Tables._
import graft.Num._

/** Dataset-diagnostics and statistics operators a curation pipeline runs
  * between ingest and training (SURVEY.md §2.9): robust location/spread
  * (MAD outliers, trimmed means), a declarative data-quality expectation
  * suite, temporal analytics (activity islands, rolling uniques, TWAP,
  * running z-scores, interval concurrency, Markov transitions), graph
  * rank over an aggregated edge list, sampling design (Neyman
  * allocation, weighted A-ES draws), statistical tests (chi-square,
  * correlation matrix), preference queries (skyline), segmentation
  * (RFM, equi-depth bins) and engine-infrastructure stats (column
  * stats, join-key skew). None exist in the reference (its only audit
  * is the split groupBy/count, `03a_Model Training.py:93-94`).
  *
  * Shared scale discipline:
  *  - Group-keyed shuffles only; cross-group scalars travel as one-row
  *    broadcasts. Violation/candidate COUNTS move, rows never do.
  *  - Every float output derives from exact integer/decimal sums, and
  *    any small cross-item reduction of doubles is a pinned-order fold
  *    (see graft-oracle-exactness memory): results are bit-identical
  *    across partitionings and engines.
  *  - Iterative/pairwise phases (PageRank, skyline, chi-square) run on
  *    aggregated projections bounded by key cardinality, never on the
  *    raw corpus.
  */
object Analytics extends QueryModule {

  /** Per-type robust outliers: median, MAD (median absolute deviation),
    * and the count of |x - median| > 3·MAD rows. Exact interpolated
    * medians (`percentile`), not approximations — deterministic given
    * the value multiset in both engines.
    */
  def outlierMad(events: DataFrame): DataFrame = {
    val med = events.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = events.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        dec(max("med"), 6).cast("double").as("med"),
        dec(max("mad"), 6).cast("double").as("mad"),
        sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy("event_type")
  }

  private val outlierMadOracle = """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_type, COUNT(*) AS n,
           CAST(CAST(MAX(d.med) AS DECIMAL(18,6)) AS DOUBLE) AS med,
           CAST(CAST(MAX(m.mad) AS DECIMAL(18,6)) AS DOUBLE) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type"""

  /** Declarative data-quality expectation suite: each expectation is an
    * independent aggregate emitting (check, n_violations); the suite is
    * their union. Referential integrity via anti-join, uniqueness via
    * grouped HAVING, domain checks via pushed-down predicates.
    */
  def dqExpectations(orders: DataFrame, li: DataFrame,
      customer: DataFrame): DataFrame = {
    def leg(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_violations"))
    val nullCust = leg("null_custkey", orders.filter(col("o_custkey").isNull))
    val orphans = leg("orphan_orders",
      orders.join(customer.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti"))
    val negPrice = leg("nonpositive_price",
      li.filter(col("l_extendedprice") <= 0))
    val badDisc = leg("discount_out_of_range",
      li.filter(col("l_discount") < 0 || col("l_discount") > 0.5))
    val dupPk = li.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_violations"))
      .select(lit("duplicate_pk").as("check_name"), col("n_violations"))
    val shipBeforeOrder = leg("ship_before_order",
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") < col("o_orderdate")))
    Seq(nullCust, orphans, negPrice, badDisc, dupPk, shipBeforeOrder)
      .reduce(_.union(_))
      .orderBy("check_name")
  }

  private val dqOracle = """
    SELECT 'null_custkey' AS check_name, COUNT(*) AS n_violations
      FROM orders WHERE o_custkey IS NULL
    UNION ALL
    SELECT 'orphan_orders', COUNT(*) FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'nonpositive_price', COUNT(*) FROM lineitem WHERE l_extendedprice <= 0
    UNION ALL
    SELECT 'discount_out_of_range', COUNT(*) FROM lineitem
      WHERE l_discount < 0 OR l_discount > 0.5
    UNION ALL
    SELECT 'duplicate_pk', COUNT(*) FROM (
      SELECT l_orderkey, l_linenumber FROM lineitem
      GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)
    UNION ALL
    SELECT 'ship_before_order', COUNT(*) FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate < o.o_orderdate
    ORDER BY check_name"""

  /** Gaps-and-islands per user: collapse each user's distinct active
    * days into maximal consecutive-day runs via the day-minus-row_number
    * constant-per-island trick, then report island count, longest run,
    * and first active day.
    */
  def activityIslands(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val rn = row_number().over(Window.partitionBy("user_id").orderBy("d"))
    val grouped = days.withColumn("grp", date_sub(col("d"), rn))
    val islands = grouped.groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"), min("d").as("start_d"))
    islands.groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"), max("len").as("max_len"),
        min("start_d").as("first_day"))
      .orderBy("user_id")
  }

  private val islandsOracle = """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    grouped AS (
      SELECT user_id, d, d - CAST(row_number() OVER (
        PARTITION BY user_id ORDER BY d) AS INT) AS grp
      FROM days),
    islands AS (
      SELECT user_id, grp, COUNT(*) AS len, MIN(d) AS start_d
      FROM grouped GROUP BY user_id, grp)
    SELECT user_id, COUNT(*) AS n_islands, MAX(len) AS max_len,
           MIN(start_d) AS first_day
    FROM islands GROUP BY user_id ORDER BY user_id"""

  /** PageRank (damping 0.85, 3 iterations, unrolled) over the
    * supplier-nation → customer-nation trade graph. Edge weights are
    * lineitem counts; contributions are weight-proportional. Dangling
    * nodes (nations with no outbound trade) leak their mass — the
    * drop-dangling variant, chosen so each step is a pure join+agg with
    * no global scalar redistribution. Per-node in-mass is summed as a
    * src-ordered double fold, so iteration results are exact and
    * partitioning-independent (the oracle unrolls the same three steps
    * as CTEs with the same ordered fold).
    */
  def tradePageRank(li: DataFrame, orders: DataFrame,
      supplier: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    val edges = li.select(col("l_suppkey"), col("l_orderkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey").as("src"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_nationkey").as("dst"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val outw = edges.groupBy("src").agg(sum("w").as("ow"))
    val e = edges.join(outw, "src").localCheckpoint() // iterate on the small projection
    val n = 25L // nation table is fixed at 25 rows (TPC-H spec / TESTDATA.md)
    val nodes = nation.select(col("n_nationkey").as("node"))
    var r = nodes.withColumn("pr", lit(1.0 / n))
    for (_ <- 1 to 3) {
      val contrib = e.join(r, col("src") === col("node"))
        .select(col("dst"), col("src"),
          (col("pr") * col("w") / col("ow")).as("c"))
      // per-node in-mass as a src-ordered double fold: each node has at
      // most |nations| contributions, and summing them in one pinned
      // order sidesteps engine-specific double->decimal rounding of
      // intermediates (both engines add IDENTICAL doubles in IDENTICAL
      // order => identical sums)
      val mass = contrib.groupBy("dst")
        .agg(osum(col("c"), col("src")).as("m"))
      r = nodes.join(mass, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(0.15 / n) + lit(0.85) * coalesce(col("m"), lit(0.0))).as("pr"))
    }
    r.select(col("node"), dec(col("pr"), 12).cast("double").as("pr"))
      .orderBy("node")
  }

  private def prStep(i: Int): String = s"""
    c$i AS (
      SELECT e.dst, e.src, r${i - 1}.pr * e.w / e.ow AS c
      FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node),
    m$i AS (
      SELECT dst, list_reduce(
        list_prepend(CAST(0 AS DOUBLE), list(c ORDER BY src)),
        (a, b) -> a + b) AS m
      FROM c$i GROUP BY dst),
    r$i AS (
      SELECT node, CAST(0.15 AS DOUBLE) / 25 +
             CAST(0.85 AS DOUBLE) * COALESCE(m, CAST(0 AS DOUBLE)) AS pr
      FROM r${i - 1} LEFT JOIN m$i ON node = dst)"""

  private val pageRankOracle = s"""
    WITH edges AS (
      SELECT s_nationkey AS src, c_nationkey AS dst, COUNT(*) AS w
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
    e AS (SELECT edges.*, outw.ow FROM edges JOIN outw USING (src)),
    r0 AS (SELECT n_nationkey AS node, CAST(1.0 AS DOUBLE) / 25 AS pr FROM nation),
    ${prStep(1)},
    ${prStep(2)},
    ${prStep(3)}
    SELECT node, CAST(CAST(pr AS DECIMAL(18,12)) AS DOUBLE) AS pr
    FROM r3 ORDER BY node"""

  /** Exact sample covariance/correlation matrix over (quantity, price,
    * discount) — the `corr`/`covar_samp` aggregate family, computed from
    * unscaled-integer decimal power sums (the q90 trick: all inputs have
    * <= 2 decimal digits, so scaled values are exact integers and every
    * cross-product sum is an exact DECIMAL(38,0) — no rounding anywhere
    * until the final double division/sqrt, which both engines evaluate
    * on identical exact operands). Correlation is scale-invariant so the
    * x100 scaling cancels; covariance unscales by the known factor.
    * One single-pass aggregation (9 sums), any partitioning.
    */
  def corrMatrix(li: DataFrame): DataFrame = {
    val aq = round(col("l_quantity")).cast("decimal(18,0)")
    val ap = round(col("l_extendedprice") * lit(100.0)).cast("decimal(18,0)")
    val ad = round(col("l_discount") * lit(100.0)).cast("decimal(18,0)")
    val sums = li.agg(
      count(lit(1)).as("n"),
      sum(aq).as("sq"), sum(ap).as("sp"), sum(ad).as("sd"),
      sum(aq * aq).as("sqq"), sum(ap * ap).as("spp"), sum(ad * ad).as("sdd"),
      sum(aq * ap).as("sqp"), sum(aq * ad).as("sqd"), sum(ap * ad).as("spd"))
      .localCheckpoint() // one row: don't rescan the fact table per pair branch
    // each exact decimal sum is cast to double BEFORE the n*sxy - sx*sy
    // products: decimal cross-products of the sums themselves (n*sxy)
    // overflow DECIMAL(38,0) at ~10 TB of 2-decimal inputs and null out
    // with ANSI off. Both engines cast identical exact decimals to
    // identical doubles, and IEEE */- on identical doubles is identical,
    // so the hash-match is preserved at every scale.
    // final statistics round to 6: past ~2^53 the decimal→double cast of
    // a power sum is correctly-rounded in BOTH engines but the two
    // implementations can disagree by 1 ulp, and corr/cov magnitudes
    // (≤1 / data-unit-sized) land on the same 1e-6 grid point in all
    // but one residual case: a true value within 1 ulp of a .5e-6 tie
    // boundary, where round() amplifies the disagreement instead of
    // masking it. Probability ~ulp/grid ≈ 1e-10 per statistic; accepted
    // (a coarser grade-grid would cost real resolution to remove it)
    def co(c: String) = s"cast($c as double)"
    def pair(name: String, sxy: String, sx: String, sy: String,
        sxx: String, syy: String, unscale: Double) =
      sums.select(
        lit(name).as("pair"), col("n"),
        round(expr(s"${co("n")} * ${co(sxy)} - ${co(sx)} * ${co(sy)}") /
          sqrt(expr(s"${co("n")} * ${co(sxx)} - ${co(sx)} * ${co(sx)}") *
            expr(s"${co("n")} * ${co(syy)} - ${co(sy)} * ${co(sy)}")), 6).as("corr"),
        round(expr(s"${co("n")} * ${co(sxy)} - ${co(sx)} * ${co(sy)}") /
          expr(s"${co("n")} * ${co("n - 1")}") / lit(unscale), 6).as("cov"))
    pair("price_discount", "spd", "sp", "sd", "spp", "sdd", 10000.0)
      .union(pair("quantity_discount", "sqd", "sq", "sd", "sqq", "sdd", 100.0))
      .union(pair("quantity_price", "sqp", "sq", "sp", "sqq", "spp", 100.0))
  }

  private val corrOracle = """
    WITH s AS (
      SELECT COUNT(*) AS n,
        SUM(CAST(ROUND(l_quantity, 0) AS DECIMAL(18,0))) AS sq,
        SUM(CAST(ROUND(l_extendedprice * 100.0, 0) AS DECIMAL(18,0))) AS sp,
        SUM(CAST(ROUND(l_discount * 100.0, 0) AS DECIMAL(18,0))) AS sd,
        SUM(CAST(ROUND(l_quantity, 0) AS DECIMAL(18,0))
          * CAST(ROUND(l_quantity, 0) AS DECIMAL(18,0))) AS sqq,
        SUM(CAST(ROUND(l_extendedprice * 100.0, 0) AS DECIMAL(18,0))
          * CAST(ROUND(l_extendedprice * 100.0, 0) AS DECIMAL(18,0))) AS spp,
        SUM(CAST(ROUND(l_discount * 100.0, 0) AS DECIMAL(18,0))
          * CAST(ROUND(l_discount * 100.0, 0) AS DECIMAL(18,0))) AS sdd,
        SUM(CAST(ROUND(l_quantity, 0) AS DECIMAL(18,0))
          * CAST(ROUND(l_extendedprice * 100.0, 0) AS DECIMAL(18,0))) AS sqp,
        SUM(CAST(ROUND(l_quantity, 0) AS DECIMAL(18,0))
          * CAST(ROUND(l_discount * 100.0, 0) AS DECIMAL(18,0))) AS sqd,
        SUM(CAST(ROUND(l_extendedprice * 100.0, 0) AS DECIMAL(18,0))
          * CAST(ROUND(l_discount * 100.0, 0) AS DECIMAL(18,0))) AS spd
      FROM lineitem)
    SELECT 'price_discount' AS pair, n,
      ROUND((CAST(n AS DOUBLE) * CAST(spd AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sd AS DOUBLE)) /
        sqrt((CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
           * (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 6) AS corr,
      ROUND((CAST(n AS DOUBLE) * CAST(spd AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sd AS DOUBLE)) /
        (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 10000.0, 6) AS cov
    FROM s
    UNION ALL
    SELECT 'quantity_discount', n,
      ROUND((CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE)) /
        sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
           * (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 6),
      ROUND((CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE)) /
        (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 100.0, 6)
    FROM s
    UNION ALL
    SELECT 'quantity_price', n,
      ROUND((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE)) /
        sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
           * (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))), 6),
      ROUND((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE)) /
        (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 100.0, 6)
    FROM s"""

  /** Rolling 7-day distinct users per active day: dedup to user-days,
    * band-join the (small, broadcast) calendar against user-days, exact
    * COUNT(DISTINCT) per day. The dedup collapses the corpus to
    * |users|×|days| rows BEFORE the window fan-out, so the band join's
    * 7× row multiplication applies to the deduped set — the shape that
    * survives 100 TB (the alternative, a per-row sliding window with
    * distinct semantics, doesn't exist as a distributable operator).
    */
  def rollingUniques(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val cal = events.select(to_date(col("ts")).as("day")).distinct()
    broadcast(cal).join(days,
        col("d").between(date_sub(col("day"), 6), col("day")))
      .groupBy("day")
      .agg(countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_user_days"))
      .orderBy("day")
  }

  private val rollingUniquesOracle = """
    WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    cal AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT day, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_user_days
    FROM cal JOIN days ON d BETWEEN day - 6 AND day
    GROUP BY day ORDER BY day"""

  /** Time-weighted average value per user (TWAP): each observation is
    * weighted by its holding interval (micros until the user's next
    * event; the open tail is excluded). Numerator = Σ (value·100 as
    * exact int) × (interval µs) summed in DECIMAL(38,0) — no float until
    * the final division of two exact integers. One window pass + one
    * aggregation, both shuffled on user_id only.
    */
  def twap(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val seq = events.select(col("user_id"), col("value"),
      (unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts"))).as("w_us"))
    seq.filter(col("w_us").isNotNull)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_intervals"),
        sum(round(col("value") * 100).cast("decimal(18,0)") * col("w_us"))
          .cast("decimal(38,0)").as("num"),
        sum("w_us").as("den"))
      .filter(col("den") > 0)
      .select(col("user_id"), col("n_intervals"),
        (col("num").cast("double") / col("den").cast("double") / lit(100.0)).as("twap"))
      .orderBy("user_id")
  }

  private val twapOracle = """
    WITH seq AS (
      SELECT user_id, value,
        epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
          - epoch_us(ts) AS w_us
      FROM events),
    agg AS (
      SELECT user_id, COUNT(*) AS n_intervals,
        CAST(SUM(CAST(ROUND(value * 100, 0) AS DECIMAL(18,0)) * w_us) AS DECIMAL(38,0)) AS num,
        CAST(SUM(w_us) AS BIGINT) AS den
      FROM seq WHERE w_us IS NOT NULL
      GROUP BY user_id HAVING CAST(SUM(w_us) AS BIGINT) > 0)
    SELECT user_id, n_intervals,
      CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0 AS twap
    FROM agg ORDER BY user_id"""

  /** Running z-score anomaly detection: each event scored against the
    * trailing mean/stddev of its type (all PRIOR events — the current
    * row never contaminates its own baseline; cold-start rows with <10
    * priors are unscored). Running count/Σv/Σv² are exact scaled-integer
    * window sums, so mean/sd/z are identical doubles in both engines.
    * One window shuffle on event_type, one aggregation — the streaming-
    * adjacent batch shape of a telemetry anomaly monitor.
    */
  def runningZscore(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val framed = events
      .select(col("event_type"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("decimal(18,0)").as("v"))
      .select(col("event_type"), col("v"),
        count(lit(1)).over(w).as("cnt"),
        sum(col("v")).over(w).cast("decimal(38,0)").as("s1"),
        sum(col("v") * col("v")).over(w).cast("decimal(38,0)").as("s2"))
    // cnt*s2 - s1*s1 == 0 iff the trailing window is constant: sd = 0
    // would make z Infinity (or NaN when v == mean), whose double
    // formatting differs between engines — such rows are unscoreable
    // and are excluded from n_scored in BOTH the query and the oracle.
    framed.filter(col("cnt") >= 10 &&
        expr("cnt * s2 - s1 * s1") > lit(0))
      .select(col("event_type"),
        ((col("v").cast("double") - col("s1").cast("double") / col("cnt")) /
          sqrt(expr("cast(cnt * s2 - s1 * s1 as double)") /
            expr("cast(cnt * (cnt - 1) as double)"))).as("z"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored"),
        sum(when(abs(col("z")) > 3.0, 1L).otherwise(0L)).as("n_anomalies"),
        round(max(abs(col("z"))), 6).as("max_abs_z"))
      .orderBy("event_type")
  }

  private val runningZscoreOracle = """
    WITH scaled AS (
      SELECT event_type, ts, event_id,
        CAST(ROUND(value * 100, 0) AS DECIMAL(18,0)) AS v
      FROM events),
    framed AS (
      SELECT event_type, v,
        COUNT(*) OVER w AS cnt,
        CAST(SUM(v) OVER w AS DECIMAL(38,0)) AS s1,
        CAST(SUM(v * v) OVER w AS DECIMAL(38,0)) AS s2
      FROM scaled
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    z AS (
      SELECT event_type,
        (CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / cnt) /
          sqrt(CAST(cnt * s2 - s1 * s1 AS DOUBLE) / CAST(cnt * (cnt - 1) AS DOUBLE)) AS z
      FROM framed WHERE cnt >= 10 AND cnt * s2 - s1 * s1 > 0)
    SELECT event_type, COUNT(*) AS n_scored,
      CAST(SUM(CASE WHEN ABS(z) > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
      ROUND(MAX(ABS(z)), 6) AS max_abs_z
    FROM z GROUP BY event_type ORDER BY event_type"""

  /** 2-D Pareto skyline (preference query): parts minimizing (avg
    * price, total quantity) — a part survives iff no other part is <=
    * on both measures and < on at least one. The part manifest is
    * |l_partkey|-sized — corpus-PROPORTIONAL in TPC-H, not
    * catalog-fixed — so the textbook quadratic dominance anti-join
    * (O(|parts|²) compares over a corpus-proportional broadcast) is the
    * wrong plan at scale. In 2-D the skyline is a sorted sweep: a part
    * survives iff (a) its total_qty is the MIN within its exact
    * avg_price group (an equal-price row with lower qty dominates:
    * p2<=p ∧ q2<q), and (b) every strictly-cheaper price's min qty is
    * strictly above its qty (p2<p ∧ q2<=q would dominate). Full
    * (p,q)-duplicates survive together — dominance needs a strict
    * inequality somewhere — which (a)+(b) preserve. The prefix-min over
    * price groups distributes via [[Dist.withRunningMinExcl]] (prices
    * are value-bounded, so the BIGINT DIV 64 bucket key has fixed
    * ~1.6k arity at every corpus size); the join back to the manifest
    * is a plain equi-shuffle. One pass, no pairwise phase.
    */
  def skylineParts(li: DataFrame): DataFrame = {
    // manifest + price-group table are each consumed twice downstream
    // (m: the sweep input and the join-back side; the group table: the
    // bucket frame and its per-bucket prefix inside withRunningMinExcl)
    // — checkpoint both so the corpus aggregation runs ONCE, not 3×
    // (the un-checkpointed plan re-aggregated lineitem per consumer).
    // localCheckpoint() is EAGER: merely constructing this frame runs
    // two Spark jobs (plan-only consumers — PlanAudit/PlanSpec —
    // pay them too; eager is kept deliberately so the two downstream
    // consumers can never race to compute an unmaterialized checkpoint
    // twice), and the blocks are non-reliable (executor loss cannot
    // recompute them — harmless in local mode).
    val m = li.groupBy("l_partkey")
      .agg(
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        sum(round(col("l_quantity")).cast("long")).as("total_qty"))
      .localCheckpoint()
    val g = Dist.withRunningMinExcl(
      m.groupBy("avg_price").agg(min("total_qty").as("qmin")).localCheckpoint(),
      expr("CAST(avg_price AS BIGINT) DIV 64"), // avg_price > 0: DIV truncation monotone
      Seq(col("avg_price")),
      col("qmin"), "prev_min")
    m.join(g, Seq("avg_price"))
      .filter(col("total_qty") === col("qmin") &&
        (col("prev_min").isNull || col("prev_min") > col("total_qty")))
      .select(col("l_partkey"), col("avg_price"), col("total_qty"))
      .orderBy("avg_price", "l_partkey")
  }

  private val skylineOracle = """
    WITH m AS (
      SELECT l_partkey,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_partkey)
    SELECT l_partkey, avg_price, total_qty FROM m a
    WHERE NOT EXISTS (
      SELECT 1 FROM m b
      WHERE b.avg_price <= a.avg_price AND b.total_qty <= a.total_qty
        AND (b.avg_price < a.avg_price OR b.total_qty < a.total_qty))
    ORDER BY avg_price, l_partkey"""

  /** Equi-depth decile binning of prices (the exact form of MLlib's
    * QuantileDiscretizer fit): global ntile(10) with a unique tiebreak,
    * then per-bin boundaries + exact mass. The tiling distributes via
    * the q195/q196 two-level bucket decomposition ([[Dist.withNtile]],
    * cents DIV 65536 buckets on the leading sort key) — bin identical
    * to the flat global-window form the oracle keeps.
    */
  def equidepthBins(li: DataFrame, bins: Int = 10): DataFrame = {
    Dist.withNtile(
      li.select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      expr("CAST(l_extendedprice * 100 AS BIGINT) DIV 65536"),
      Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      bins)
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"),
        dsum(col("l_extendedprice")).as("bin_mass"))
      .orderBy("bin")
  }

  private val equidepthOracle = """
    WITH t AS (
      SELECT l_extendedprice, CAST(ntile(10) OVER (
        ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS BIGINT) AS bin
      FROM lineitem)
    SELECT bin, COUNT(*) AS n, MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS bin_mass
    FROM t GROUP BY bin ORDER BY bin"""

  /** Neyman optimal stratified-sampling allocation: stratum h of a
    * 10,000-row sample budget gets n_h ∝ N_h·σ_h. Standard deviations
    * come from exact scaled-integer power sums; the cross-stratum
    * normalizer is an ordered fold over the (few) strata so every share
    * is engine-identical. The design-of-experiments step a pipeline
    * runs before sampling a 100 TB corpus it can only afford to read
    * once.
    */
  def neymanAllocation(events: DataFrame, budget: Long = 10000L): DataFrame = {
    val a = round(col("value") * lit(100.0)).cast("decimal(18,0)")
    val strata = events.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(a).as("s1"), sum(a * a).as("s2"))
      .select(col("event_type"), col("n"),
        (sqrt(expr("cast(n * s2 - s1 * s1 as double)") /
          expr("cast(n * (n - 1) as double)")) / lit(100.0)).as("sd"))
      .withColumn("w", col("n").cast("double") * col("sd"))
    val totW = strata
      .agg(osum(col("w"), col("event_type")).as("tot"))
    strata.crossJoin(broadcast(totW))
      .select(col("event_type"), col("n"),
        dec(col("sd"), 6).cast("double").as("sd"),
        round(lit(budget.toDouble) * col("w") / col("tot")).cast("long").as("alloc"))
      .orderBy("event_type")
  }

  private val neymanOracle = """
    WITH strata AS (
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(ROUND(value * 100.0, 0) AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s1,
        CAST(SUM(CAST(ROUND(value * 100.0, 0) AS DECIMAL(18,0))
          * CAST(ROUND(value * 100.0, 0) AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s2
      FROM events GROUP BY event_type),
    sd AS (
      SELECT event_type, n,
        sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)) / 100.0 AS sd
      FROM strata),
    w AS (SELECT *, CAST(n AS DOUBLE) * sd AS w FROM sd),
    tot AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE), list(w ORDER BY event_type)),
        (a, b) -> a + b) AS tot FROM w)
    SELECT event_type, n,
      CAST(CAST(sd AS DECIMAL(18,6)) AS DOUBLE) AS sd,
      CAST(ROUND(10000.0 * w / tot, 0) AS BIGINT) AS alloc
    FROM w, tot ORDER BY event_type"""

  /** Deterministic weighted sample (Efraimidis–Spirakis A-ES): key =
    * -ln(u)/w with u a PORTABLE hash-derived uniform (ascii fold of the
    * doc id's md5 → (0,1]), weight = document length; the k smallest
    * keys are the sample. Hash uniforms instead of seeded rand() make
    * the draw reproducible across engines, partitionings, and
    * re-ingests — and the top-k by key is a TakeOrdered, no global
    * sort. The length-weighted doc sample a curation pipeline draws
    * when token budget, not doc count, is the constraint.
    */
  def weightedSample(docs: DataFrame, k: Int = 20): DataFrame = {
    val h = expr(
      "aggregate(transform(split(md5(cast(cast(doc_id as string) as binary)), ''), " +
        "c -> cast(ascii(c) as bigint)), cast(-1 as bigint), " +
        "(h, a) -> if(h = -1L, a, pmod(h * 31 + a, 1000000007L)))")
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
        ((h + lit(1L)).cast("double") / lit(1000000008.0)).as("u"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (-log(col("u")) / col("n_chars")).as("es_key"))
      .orderBy(col("es_key"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        dec(col("es_key"), 12).cast("double").as("es_key"))
  }

  private val weightedSampleOracle = """
    WITH h AS (
      SELECT doc_id, lang, n_chars,
        list_reduce(list_transform(string_split_regex(md5(CAST(doc_id AS VARCHAR)), ''),
          c -> CAST(ascii(c) AS BIGINT)),
          (h, a) -> (h * 31 + a) % 1000000007) AS hv
      FROM documents),
    keyed AS (
      SELECT doc_id, lang, n_chars,
        -ln(CAST(hv + 1 AS DOUBLE) / 1000000008.0) / n_chars AS es_key
      FROM h)
    SELECT doc_id, lang, n_chars,
      CAST(CAST(es_key AS DECIMAL(18,12)) AS DOUBLE) AS es_key
    FROM keyed ORDER BY es_key, doc_id LIMIT 20"""

  /** Per-group 5% trimmed mean: drop the k = n div 20 smallest and
    * largest values (pinned rank order), exact decimal mean of the
    * middle — the robust location estimate that, unlike the median,
    * still averages 90% of the mass. One window shuffle on the group
    * key.
    */
  def trimmedMean(events: DataFrame): DataFrame = {
    val byVal = Window.partitionBy("event_type").orderBy("value", "event_id")
    val all = Window.partitionBy("event_type")
    events.select(col("event_type"), col("value"),
        row_number().over(byVal).cast("long").as("rn"),
        count(lit(1)).over(all).as("n"))
      .withColumn("k", expr("n div 20"))
      .filter(col("rn") > col("k") && col("rn") <= col("n") - col("k"))
      .groupBy("event_type")
      .agg(max("n").as("n_total"), count(lit(1)).as("n_kept"),
        (dsum(col("value")) / count(lit(1))).as("trimmed_mean"))
      .orderBy("event_type")
  }

  private val trimmedMeanOracle = """
    WITH ranked AS (
      SELECT event_type, value,
        CAST(row_number() OVER (PARTITION BY event_type
          ORDER BY value, event_id) AS BIGINT) AS rn,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    kept AS (
      SELECT *, n // 20 AS k FROM ranked
      WHERE rn > n // 20 AND rn <= n - n // 20)
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_total, COUNT(*) AS n_kept,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS trimmed_mean
    FROM kept GROUP BY event_type ORDER BY event_type"""

  /** Interval max-concurrency via sweep line: each order holds a
    * 7-day reservation; +1/-1 boundary events cumsummed in pinned
    * order (ends release before starts at the same instant — half-open
    * intervals) give the running concurrency, maxed per priority class.
    * Two narrow projections + one window shuffle on the partition key —
    * the distributable form of interval-overlap counting (no pairwise
    * interval join, which would be quadratic on hot spans).
    */
  def maxConcurrency(orders: DataFrame): DataFrame = {
    val starts = orders.select(col("o_orderpriority").as("prio"),
      col("o_orderdate").as("ts"), lit(1L).as("delta"), col("o_orderkey").as("k"))
    val ends = orders.select(col("o_orderpriority").as("prio"),
      (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("ts"),
      lit(-1L).as("delta"), col("o_orderkey").as("k"))
    val w = Window.partitionBy("prio").orderBy("ts", "delta", "k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    starts.union(ends)
      .withColumn("concurrent", sum("delta").over(w))
      .groupBy("prio")
      .agg(max("concurrent").as("max_concurrent"))
      .orderBy("prio")
  }

  private val maxConcurrencyOracle = """
    WITH pts AS (
      SELECT o_orderpriority AS prio, o_orderdate AS ts,
        CAST(1 AS BIGINT) AS delta, o_orderkey AS k FROM orders
      UNION ALL
      SELECT o_orderpriority, o_orderdate + INTERVAL 7 DAY,
        CAST(-1 AS BIGINT), o_orderkey FROM orders),
    swept AS (
      SELECT prio, CAST(SUM(delta) OVER (PARTITION BY prio
        ORDER BY ts, delta, k
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS concurrent
      FROM pts)
    SELECT prio, CAST(MAX(concurrent) AS BIGINT) AS max_concurrent
    FROM swept GROUP BY prio ORDER BY prio"""

  /** Chi-square test of independence over the (lang × source)
    * contingency table: observed counts are exact; expected = row·col/n
    * and the Σ(o−e)²/e statistic are doubles over exact integers,
    * summed with a cell-ordered fold. Output is the statistic + degrees
    * of freedom (p-value lookup is a client-side table function, not an
    * engine op). Contingency aggregation is one shuffle; the fold runs
    * over |langs|·|sources| cells.
    */
  def chi2Independence(docs: DataFrame): DataFrame = {
    val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("o"))
      .localCheckpoint() // tiny; reused by the margins and dof below
    val dof = cells.agg(
      ((countDistinct("lang") - 1) * (countDistinct("source") - 1)).as("dof"))
    contingencyChi2(cells, "lang", "source").crossJoin(dof)
      .select(round(col("chi2"), 6).as("chi2"), col("dof"))
  }

  /** Σ(o−e)²/e over a contingency table `cells(a, b, o)`: expected
    * counts from exact integer margins, terms summed in cell order.
    * One row, column `chi2` (unrounded); q157 and q206 share it.
    */
  private def contingencyChi2(cells: DataFrame, a: String, b: String): DataFrame = {
    val rows = cells.groupBy(a).agg(sum("o").as("r"))
    val cols = cells.groupBy(b).agg(sum("o").as("c"))
    val n = cells.agg(sum("o").as("n"))
    cells.join(broadcast(rows), a).join(broadcast(cols), b)
      .crossJoin(broadcast(n))
      .select(concat_ws("|", col(a), col(b)).as("cell"),
        (pow(col("o").cast("double") -
          col("r").cast("double") * col("c") / col("n"), 2) /
          (col("r").cast("double") * col("c") / col("n"))).as("t"))
      .agg(osum(col("t"), col("cell")).as("chi2"))
  }

  private val chi2Oracle = """
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source),
    r AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY lang),
    c AS (SELECT source, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY source),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
    terms AS (
      SELECT CONCAT_WS('|', lang, source) AS cell,
        pow(CAST(o AS DOUBLE) - CAST(r AS DOUBLE) * c / n, 2) /
          (CAST(r AS DOUBLE) * c / n) AS t
      FROM cells JOIN r USING (lang) JOIN c USING (source), n)
    SELECT
      ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(t ORDER BY cell)),
        (a, b) -> a + b), 6) AS chi2,
      (SELECT (COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1)
       FROM cells) AS dof
    FROM terms"""

  /** Optimizer-statistics collection (the ANALYZE TABLE ... FOR COLUMNS
    * equivalent): per column — row count, null count, exact NDV, and
    * min/max rendered through exact-representation casts (bigint and
    * string columns only; doubles are excluded because engines format
    * them differently). Each column is an independent aggregate leg;
    * legs union into the stats table that would feed a cost-based
    * optimizer. At scale NDV collection switches to HLL (q36/q93) —
    * this is the exact audit form.
    */
  def columnStats(li: DataFrame, orders: DataFrame, docs: DataFrame): DataFrame = {
    def leg(table: String, df: DataFrame, column: String): DataFrame =
      df.agg(
        count(lit(1)).as("n"),
        sum(when(col(column).isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col(column)).as("ndv"),
        min(col(column)).cast("string").as("min_v"),
        max(col(column)).cast("string").as("max_v"))
        .select(lit(table).as("tabl"), lit(column).as("col_name"),
          col("n"), col("n_null"), col("ndv"), col("min_v"), col("max_v"))
    Seq(
      leg("lineitem", li, "l_orderkey"),
      leg("lineitem", li, "l_returnflag"),
      leg("orders", orders, "o_orderpriority"),
      leg("orders", orders, "o_custkey"),
      leg("documents", docs, "lang"),
      leg("documents", docs, "source"),
    ).reduce(_.union(_)).orderBy("tabl", "col_name")
  }

  private val columnStatsOracle = """
    SELECT 'lineitem' AS tabl, 'l_orderkey' AS col_name, COUNT(*) AS n,
      CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      COUNT(DISTINCT l_orderkey) AS ndv,
      CAST(MIN(l_orderkey) AS VARCHAR) AS min_v, CAST(MAX(l_orderkey) AS VARCHAR) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'l_returnflag', COUNT(*),
      CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      COUNT(DISTINCT l_returnflag), MIN(l_returnflag), MAX(l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'orders', 'o_orderpriority', COUNT(*),
      CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      COUNT(DISTINCT o_orderpriority), MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'orders', 'o_custkey', COUNT(*),
      CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      COUNT(DISTINCT o_custkey),
      CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'documents', 'lang', COUNT(*),
      CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      COUNT(DISTINCT lang), MIN(lang), MAX(lang)
    FROM documents
    UNION ALL
    SELECT 'documents', 'source', COUNT(*),
      CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      COUNT(DISTINCT source), MIN(source), MAX(source)
    FROM documents
    ORDER BY tabl, col_name"""

  /** First-order Markov transition matrix over per-user event
    * sequences: lag-pair counts + exact out-of-state transition
    * probabilities. One window shuffle on user_id, one aggregation on
    * the (from, to) pair — sequence analytics without ever
    * materializing sequences.
    */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = events
      .select(lag(col("event_type"), 1).over(w).as("from_type"),
        col("event_type").as("to_type"))
      .filter(col("from_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val fromTot = pairs.groupBy("from_type").agg(sum("n").as("tot"))
    pairs.join(fromTot, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("tot")).as("prob"))
      .orderBy("from_type", "to_type")
  }

  private val eventTransitionsOracle = """
    WITH seq AS (
      SELECT user_id, event_type AS to_type,
        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
      FROM events),
    pairs AS (
      SELECT from_type, to_type, COUNT(*) AS n FROM seq
      WHERE from_type IS NOT NULL GROUP BY from_type, to_type),
    tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
      FROM pairs GROUP BY from_type)
    SELECT from_type, to_type, n, CAST(n AS DOUBLE) / tot AS prob
    FROM pairs JOIN tot USING (from_type)
    ORDER BY from_type, to_type"""

  /** RFM customer segmentation: per-customer recency (days since last
    * order, anchored to the corpus max date), frequency, and exact
    * monetary value, each scored into quintiles by pinned-tiebreak
    * ntile, rolled up to segment populations. Three windows over the
    * customer summary (|customers| rows, not |orders|) — the classic
    * composite the marketing/cohort layer of a warehouse runs.
    */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val maxd = orders.agg(max(to_date(col("o_orderdate"))).as("maxd"))
    val cust = orders.groupBy("o_custkey")
      .agg(max(to_date(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("f"),
        dsum(col("o_totalprice")).as("m"))
      .crossJoin(broadcast(maxd))
      .select(col("o_custkey"), datediff(col("maxd"), col("last_d")).as("rec_days"),
        col("f"), col("m"))
    // Three customer-proportional quintile carves, each distributed via
    // Dist.withNtile. Buckets refine the leading key's TIE GROUPS with a
    // coarsened prefix of the custkey tiebreak (monotone within ties):
    // recency has ≤ ~2.6k distinct days and frequency ≤ ~dozens of
    // distinct counts, so bucketing on the leading key alone would open
    // a customers/|distinct| window in one task. Monetary cents are
    // near-unique, so a coarsened value bucket suffices.
    val kb = expr("o_custkey DIV 65536")
    val scored = Seq[(org.apache.spark.sql.Column, Seq[org.apache.spark.sql.Column], String)](
      (struct(col("rec_days"), kb), Seq(col("rec_days"), col("o_custkey")), "r_score"),
      (struct(negate(col("f")), kb), Seq(col("f").desc, col("o_custkey")), "f_score"),
      (floor(negate(col("m")) / 4096), Seq(col("m").desc, col("o_custkey")), "m_score"))
      // each decomposition reads its input twice (bucket table + join
      // side): materialize between stages or the customer summary is
      // re-derived 2^3 times
      .foldLeft(cust.localCheckpoint()) { case (d, (bkt, ord, out)) =>
        Dist.withNtile(d, bkt, ord, 5, out)
          .withColumn(out, col(out).cast("long"))
          .localCheckpoint()
      }
    scored
      .select(col("o_custkey"), col("m"),
        col("r_score"), col("f_score"), col("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"),
        (sum(dec(col("m"), 2)).cast("double") / count(lit(1))).as("avg_monetary"))
      .orderBy("r_score", "f_score", "m_score")
  }

  private val rfmOracle = """
    WITH maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
    cust AS (
      SELECT o_custkey,
        date_diff('day', MAX(CAST(o_orderdate AS DATE)), (SELECT maxd FROM maxd)) AS rec_days,
        COUNT(*) AS f,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS m
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT o_custkey, m,
        CAST(ntile(5) OVER (ORDER BY rec_days, o_custkey) AS BIGINT) AS r_score,
        CAST(ntile(5) OVER (ORDER BY f DESC, o_custkey) AS BIGINT) AS f_score,
        CAST(ntile(5) OVER (ORDER BY m DESC, o_custkey) AS BIGINT) AS m_score
      FROM cust)
    SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
      CAST(SUM(CAST(m AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_monetary
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score"""

  /** Join-key skew report: group-size distribution per candidate key —
    * key cardinality, hottest-key share, average size. The diagnostic
    * that decides between plain shuffle, AQE skew handling, and manual
    * salting (q58) BEFORE a 100 TB join runs; each leg is a two-level
    * aggregation (sizes, then stats over sizes) with map-side combine.
    */
  def skewReport(li: DataFrame, orders: DataFrame): DataFrame = {
    def leg(name: String, df: DataFrame, key: String): DataFrame =
      df.groupBy(col(key)).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_keys"), sum("sz").as("n_rows"),
          max("sz").as("max_size"))
        .select(lit(name).as("key_name"), col("n_keys"), col("n_rows"),
          col("max_size"),
          (col("n_rows").cast("double") / col("n_keys")).as("avg_size"),
          (col("max_size").cast("double") / col("n_rows")).as("top_share"))
    Seq(
      leg("l_orderkey", li, "l_orderkey"),
      leg("l_partkey", li, "l_partkey"),
      leg("l_suppkey", li, "l_suppkey"),
      leg("o_custkey", orders, "o_custkey"),
    ).reduce(_.union(_)).orderBy("key_name")
  }

  private val skewOracle = """
    WITH l1 AS (SELECT COUNT(*) AS sz FROM lineitem GROUP BY l_orderkey),
    l2 AS (SELECT COUNT(*) AS sz FROM lineitem GROUP BY l_partkey),
    l3 AS (SELECT COUNT(*) AS sz FROM lineitem GROUP BY l_suppkey),
    o1 AS (SELECT COUNT(*) AS sz FROM orders GROUP BY o_custkey)
    SELECT 'l_orderkey' AS key_name, COUNT(*) AS n_keys,
      CAST(SUM(sz) AS BIGINT) AS n_rows, CAST(MAX(sz) AS BIGINT) AS max_size,
      CAST(CAST(SUM(sz) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_size,
      CAST(MAX(sz) AS DOUBLE) / CAST(SUM(sz) AS BIGINT) AS top_share
    FROM l1
    UNION ALL
    SELECT 'l_partkey', COUNT(*), CAST(SUM(sz) AS BIGINT), CAST(MAX(sz) AS BIGINT),
      CAST(CAST(SUM(sz) AS BIGINT) AS DOUBLE) / COUNT(*),
      CAST(MAX(sz) AS DOUBLE) / CAST(SUM(sz) AS BIGINT)
    FROM l2
    UNION ALL
    SELECT 'l_suppkey', COUNT(*), CAST(SUM(sz) AS BIGINT), CAST(MAX(sz) AS BIGINT),
      CAST(CAST(SUM(sz) AS BIGINT) AS DOUBLE) / COUNT(*),
      CAST(MAX(sz) AS DOUBLE) / CAST(SUM(sz) AS BIGINT)
    FROM l3
    UNION ALL
    SELECT 'o_custkey', COUNT(*), CAST(SUM(sz) AS BIGINT), CAST(MAX(sz) AS BIGINT),
      CAST(CAST(SUM(sz) AS BIGINT) AS DOUBLE) / COUNT(*),
      CAST(MAX(sz) AS DOUBLE) / CAST(SUM(sz) AS BIGINT)
    FROM o1
    ORDER BY key_name"""

  /** Weekly retention cohorts: users grouped by first-activity week,
    * tracked across weeks-since-signup with exact retained-user counts
    * and rates. Two aggregations (first-seen per user, then cohort ×
    * offset distinct users) — both shuffle on user/cohort keys only.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val weeks = events.select(col("user_id"),
      to_date(date_trunc("week", col("ts"))).as("week")).distinct()
    val first = weeks.groupBy("user_id").agg(min("week").as("cohort"))
    val joined = weeks.join(first, "user_id")
      .select(col("cohort"),
        (datediff(col("week"), col("cohort")) / 7).cast("long").as("weeks_since"),
        col("user_id"))
    val sizes = first.groupBy("cohort").agg(countDistinct("user_id").as("cohort_size"))
    joined.groupBy("cohort", "weeks_since")
      .agg(countDistinct("user_id").as("active_users"))
      .join(broadcast(sizes), "cohort")
      .select(col("cohort"), col("weeks_since"), col("active_users"),
        col("cohort_size"),
        (col("active_users").cast("double") / col("cohort_size")).as("retention"))
      .orderBy("cohort", "weeks_since")
  }

  private val retentionOracle = """
    WITH weeks AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events),
    first AS (SELECT user_id, MIN(week) AS cohort FROM weeks GROUP BY user_id),
    sizes AS (SELECT cohort, COUNT(DISTINCT user_id) AS cohort_size
      FROM first GROUP BY cohort),
    joined AS (
      SELECT f.cohort, CAST(date_diff('day', f.cohort, w.week) // 7 AS BIGINT) AS weeks_since,
        w.user_id
      FROM weeks w JOIN first f USING (user_id))
    SELECT cohort, weeks_since, COUNT(DISTINCT user_id) AS active_users,
      cohort_size,
      CAST(COUNT(DISTINCT user_id) AS DOUBLE) / cohort_size AS retention
    FROM joined JOIN sizes USING (cohort)
    GROUP BY cohort, weeks_since, cohort_size
    ORDER BY cohort, weeks_since"""

  /** Approximate twin of q145: rolling 7-day uniques via HLL++
    * (`approx_count_distinct`, 2% target error) — the form that survives
    * when exact per-window COUNT(DISTINCT) is too expensive (rows-only
    * check; the error bound vs the exact twin is spec-asserted). At
    * scale the HLL sketches are additionally MERGEABLE across partial
    * windows (q93), which exact distinct counts are not.
    */
  def rollingUniquesHll(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val cal = events.select(to_date(col("ts")).as("day")).distinct()
    broadcast(cal).join(days,
        col("d").between(date_sub(col("day"), 6), col("day")))
      .groupBy("day")
      .agg(approx_count_distinct("user_id", 0.02).as("n_users_approx"),
        count(lit(1)).as("n_user_days"))
      .orderBy("day")
  }

  /** Inter-event dwell-time histogram with logarithmic (power-of-two)
    * buckets: bucket = bit-length of the gap in microseconds, computed
    * through binary-string length — an exact INTEGER path in both
    * engines (floor(log2(x)) via doubles can disagree near powers of
    * two). Log-binning is the standard shape for latency/inter-arrival
    * telemetry whose range spans six decades.
    */
  def dwellHistogram(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gaps = events.select(col("event_type"),
      (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"))
    gaps.filter(col("gap_us").isNotNull && col("gap_us") > 0)
      .withColumn("bucket", length(bin(col("gap_us"))).cast("long"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"),
        min("gap_us").as("min_gap_us"), max("gap_us").as("max_gap_us"))
      .orderBy("event_type", "bucket")
  }

  private val dwellOracle = """
    WITH gaps AS (
      SELECT event_type,
        epoch_us(ts) - epoch_us(lag(ts) OVER (
          PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM events),
    b AS (
      SELECT event_type,
        CAST(length(format('{:b}', gap_us)) AS BIGINT) AS bucket, gap_us
      FROM gaps WHERE gap_us IS NOT NULL AND gap_us > 0)
    SELECT event_type, bucket, COUNT(*) AS n,
      CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
      CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM b GROUP BY event_type, bucket ORDER BY event_type, bucket"""

  /** Multi-measure pivot: count AND exact decimal revenue per pivoted
    * priority class in one pass (q59 pivots a single measure; Spark
    * suffixes multi-agg pivot columns with the agg alias — pinned here
    * so both engines emit `urgent_n`/`urgent_rev`-style names).
    */
  def multiPivot(orders: DataFrame, customer: DataFrame): DataFrame = {
    import graft.Num.dec
    orders.join(broadcast(customer.select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .pivot("o_orderpriority", Seq("1-URGENT", "5-LOW"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("rev"))
      .select(col("c_mktsegment"),
        col("1-URGENT_n").as("urgent_n"), col("1-URGENT_rev").as("urgent_rev"),
        col("5-LOW_n").as("low_n"), col("5-LOW_rev").as("low_rev"))
      .orderBy("c_mktsegment")
  }

  private val multiPivotOracle = """
    SELECT c_mktsegment,
      COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urgent_n,
      CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
        THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS urgent_rev,
      COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS low_n,
      CAST(SUM(CASE WHEN o_orderpriority = '5-LOW'
        THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS low_rev
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** Period-over-period growth: monthly revenue with month-over-month
    * and year-over-year growth ratios. Revenue is an exact decimal sum
    * (order-independent); the growth divisions run on identical doubles
    * in both engines. One groupBy(month) shuffle to ~tens of rows, then
    * a single-partition window over the month series — the post-
    * aggregation window is bounded by calendar length, never data size.
    */
  def momGrowth(orders: DataFrame): DataFrame = {
    val m = orders.groupBy(
        date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("rev"))
    val w = Window.orderBy("month")
    // YoY via a calendar self-join on month-12, not lag(12) over the row
    // sequence: a positional lag silently misaligns same-month-last-year
    // whenever an intermediate month has no orders (gap months).
    val ly = m.select(col("month").as("ly_month"), col("rev").as("rev_ly"))
    m.join(broadcast(ly), add_months(col("month"), -12) === col("ly_month"),
        "left_outer")
      .select(col("month"), col("n_orders"), col("rev"),
        ((col("rev") - lag("rev", 1).over(w)) / lag("rev", 1).over(w))
          .as("mom_growth"),
        ((col("rev") - col("rev_ly")) / col("rev_ly")).as("yoy_growth"))
      .orderBy("month")
  }

  private val momGrowthOracle = """
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1)
    SELECT m.month, m.n_orders, m.rev,
      (m.rev - lag(m.rev, 1) OVER (ORDER BY m.month)) /
        lag(m.rev, 1) OVER (ORDER BY m.month) AS mom_growth,
      (m.rev - ly.rev) / ly.rev AS yoy_growth
    FROM m LEFT OUTER JOIN m ly
      ON CAST(m.month - INTERVAL 12 MONTH AS DATE) = ly.month
    ORDER BY m.month"""

  /** Market-basket brand co-occurrence with support and lift. Baskets
    * collapse to distinct (order, brand) BEFORE the pair phase, the
    * pair self-join co-partitions on the order key (the natural 100 TB
    * shuffle), and the pair space is bounded by |brands|² — counts
    * travel, order rows never do. Dimension joins broadcast.
    */
  def basketLift(li: DataFrame, part: DataFrame): DataFrame = {
    // ONE corpus shuffle (groupBy order); pairs expand in-task from the
    // sorted per-order brand set (quadratic only in basket width, the
    // standard market-basket bound) — no corpus self-join, no second
    // distinct. The basket list is |orders| rows and feeds total/freq/
    // pairs from one materialization.
    val sets = li.select("l_orderkey", "l_partkey")
      .join(broadcast(part.select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("p_brand"))).as("bs"))
      .select("bs")
      .localCheckpoint()
    val total = sets.agg(count(lit(1)).as("n_orders"))
    val freq = sets.select(explode(col("bs")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("n_single"))
    val pairs = sets
      .select(posexplode(col("bs")).as(Seq("i", "brand_a")), col("bs"))
      .select(col("brand_a"),
        explode(expr("slice(bs, i + 2, size(bs))")).as("brand_b"))
      .groupBy("brand_a", "brand_b")
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(freq).select(col("b").as("brand_a"), col("n_single").as("n_a")), "brand_a")
      .join(broadcast(freq).select(col("b").as("brand_b"), col("n_single").as("n_b")), "brand_b")
      .crossJoin(broadcast(total))
      .select(col("brand_a"), col("brand_b"), col("n_ab"),
        (col("n_ab").cast("double") / col("n_orders").cast("double"))
          .as("support"),
        (col("n_ab").cast("double") * col("n_orders").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
      .orderBy("brand_a", "brand_b")
  }

  private val basketLiftOracle = """
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS o, p_brand AS b
      FROM lineitem JOIN part ON l_partkey = p_partkey),
    total AS (SELECT COUNT(DISTINCT o) AS n_orders FROM baskets),
    freq AS (SELECT b, COUNT(*) AS n_single FROM baskets GROUP BY b),
    pairs AS (
      SELECT x.b AS brand_a, y.b AS brand_b, COUNT(*) AS n_ab
      FROM baskets x JOIN baskets y ON x.o = y.o AND x.b < y.b
      GROUP BY 1, 2)
    SELECT brand_a, brand_b, n_ab,
      CAST(n_ab AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
      CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE) /
        (CAST(fa.n_single AS DOUBLE) * CAST(fb.n_single AS DOUBLE)) AS lift
    FROM pairs
    JOIN freq fa ON fa.b = brand_a
    JOIN freq fb ON fb.b = brand_b
    CROSS JOIN total
    ORDER BY brand_a, brand_b"""

  /** Welch two-sample t-test between every pair of event types (the A/B
    * experiment readout): t statistic and Welch–Satterthwaite degrees of
    * freedom from exact scaled-integer power sums. One single-pass
    * aggregation to |types| rows; the pair phase is a broadcast
    * self-join over that tiny summary. The scale factor (×100) cancels
    * in t and df, so no unscaling is needed anywhere.
    */
  def welchTtest(events: DataFrame): DataFrame = {
    val stats = events
      .select(col("event_type").as("t"),
        round(col("value") * 100).cast("decimal(18,0)").as("v"))
      .groupBy("t")
      .agg(count(lit(1)).as("n"),
        sum(col("v")).cast("decimal(38,0)").as("s1"),
        sum(col("v") * col("v")).cast("decimal(38,0)").as("s2"))
      .localCheckpoint() // |types| rows: don't rescan events per side
    val a = stats.select(col("t").as("type_a"), col("n").as("na"),
      col("s1").as("s1a"), col("s2").as("s2a"))
    val b = stats.select(col("t").as("type_b"), col("n").as("nb"),
      col("s1").as("s1b"), col("s2").as("s2b"))
    // every power sum casts to double BEFORE arithmetic (the q140 rule)
    val sea = "((cast(na as double) * cast(s2a as double) - cast(s1a as double) * cast(s1a as double)) / (cast(na as double) * cast(na - 1 as double))) / cast(na as double)"
    val seb = "((cast(nb as double) * cast(s2b as double) - cast(s1b as double) * cast(s1b as double)) / (cast(nb as double) * cast(nb - 1 as double))) / cast(nb as double)"
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), col("na"), col("nb"),
        round(expr(s"(cast(s1a as double) / cast(na as double) - cast(s1b as double) / cast(nb as double)) / sqrt($sea + $seb)"), 6).as("t_stat"),
        round(expr(s"($sea + $seb) * ($sea + $seb) / (($sea * $sea) / cast(na - 1 as double) + ($seb * $seb) / cast(nb - 1 as double))"), 6).as("welch_df"))
      .orderBy("type_a", "type_b")
  }

  private val welchOracle = {
    val sea = "((CAST(na AS DOUBLE) * CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE)) / (CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE))) / CAST(na AS DOUBLE)"
    val seb = "((CAST(nb AS DOUBLE) * CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE)) / (CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE))) / CAST(nb AS DOUBLE)"
    s"""
    WITH stats AS (
      SELECT event_type AS t, COUNT(*) AS n,
        CAST(SUM(CAST(ROUND(value * 100, 0) AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s1,
        CAST(SUM(CAST(ROUND(value * 100, 0) AS DECIMAL(18,0))
               * CAST(ROUND(value * 100, 0) AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS s2
      FROM events GROUP BY 1),
    ab AS (
      SELECT a.t AS type_a, b.t AS type_b, a.n AS na, b.n AS nb,
        a.s1 AS s1a, a.s2 AS s2a, b.s1 AS s1b, b.s2 AS s2b
      FROM stats a JOIN stats b ON a.t < b.t)
    SELECT type_a, type_b, na, nb,
      ROUND((CAST(s1a AS DOUBLE) / CAST(na AS DOUBLE) - CAST(s1b AS DOUBLE) / CAST(nb AS DOUBLE)) / sqrt($sea + $seb), 6) AS t_stat,
      ROUND(($sea + $seb) * ($sea + $seb) / (($sea * $sea) / CAST(na - 1 AS DOUBLE) + ($seb * $seb) / CAST(nb - 1 AS DOUBLE)), 6) AS welch_df
    FROM ab ORDER BY type_a, type_b"""
  }

  /** Day-of-week seasonality: per (event_type, ISO weekday) exact mean
    * value and its ratio to the type's overall mean — the baseline table
    * a seasonal anomaly monitor diffs against. Two single-pass grouped
    * aggregations (|types|×7 and |types| rows), one broadcast join; the
    * ratio is a division of identical exact-decimal-derived doubles so
    * it hash-matches without rounding.
    */
  def dowSeasonality(events: DataFrame): DataFrame = {
    val base = events.select(col("event_type"),
      (weekday(col("ts")) + lit(1)).cast("long").as("dow"),
      round(col("value") * 100).cast("decimal(18,0)").as("v"))
    val byDow = base.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"))
    val byType = base.groupBy("event_type")
      .agg(count(lit(1)).as("tn"), sum(col("v")).as("ts1"))
    byDow.join(broadcast(byType), "event_type")
      .select(col("event_type"), col("dow"), col("n"),
        expr("cast(s1 as double) / cast(n as double) / 100.0").as("dow_avg"),
        expr("cast(ts1 as double) / cast(tn as double) / 100.0").as("type_avg"),
        expr("(cast(s1 as double) / cast(n as double)) / (cast(ts1 as double) / cast(tn as double))").as("seasonal_ratio"))
      .orderBy("event_type", "dow")
  }

  private val dowOracle = """
    WITH base AS (
      SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
        CAST(ROUND(value * 100, 0) AS DECIMAL(18,0)) AS v
      FROM events),
    by_dow AS (
      SELECT event_type, dow, COUNT(*) AS n, SUM(v) AS s1
      FROM base GROUP BY 1, 2),
    by_type AS (
      SELECT event_type, COUNT(*) AS tn, SUM(v) AS ts1
      FROM base GROUP BY 1)
    SELECT event_type, dow, n,
      CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS dow_avg,
      CAST(ts1 AS DOUBLE) / CAST(tn AS DOUBLE) / 100.0 AS type_avg,
      (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) /
        (CAST(ts1 AS DOUBLE) / CAST(tn AS DOUBLE)) AS seasonal_ratio
    FROM by_dow JOIN by_type USING (event_type)
    ORDER BY event_type, dow"""

  /** Triangle count over the nation-trade graph: canonical undirected
    * edges (lo < hi, distinct) from the supplier→customer nation pairs,
    * then the a<b<c two-hop closure join. The graph is an AGGREGATED
    * projection (≤ |nations|² edges), so the cubic phase is broadcast
    * joins over a tiny edge list — the raw corpus contributes one
    * distinct-edges aggregation and never enters the closure.
    */
  def triangleCount(li: DataFrame, orders: DataFrame, supplier: DataFrame,
      customer: DataFrame): DataFrame = {
    val edges = li
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .select(
        least(col("s_nationkey"), col("c_nationkey")).as("a"),
        greatest(col("s_nationkey"), col("c_nationkey")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .localCheckpoint() // ≤ |nations|² rows; closure reuses it 3×
    val nodes = edges.select(col("a").as("n")).union(edges.select(col("b").as("n")))
      .distinct().agg(count(lit(1)).as("n_nodes"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    val e1 = edges.select(col("a").as("x"), col("b").as("y"))
    val e2 = edges.select(col("a").as("y2"), col("b").as("z"))
    val e3 = edges.select(col("a").as("x3"), col("b").as("z3"))
    val tri = e1
      .join(broadcast(e2), col("y") === col("y2"))
      .join(broadcast(e3), col("x") === col("x3") && col("z") === col("z3"))
      .agg(count(lit(1)).as("n_triangles"))
    nodes.crossJoin(broadcast(nEdges)).crossJoin(broadcast(tri))
  }

  // MATERIALIZED stages (the q246/q247 lesson): an inlined `edges` CTE
  // re-runs the 4-way corpus join once per reference — five times, three
  // of them inside the closure's own 3-way join — which at sf1 spilled
  // DuckDB past an 80 GB temp budget. The early DISTINCT on
  // (supplier_nation, custkey) also bounds the pre-customer frame at
  // |nations|·|customers| without changing the distinct pair set.
  private val triangleOracle = """
    WITH sn AS MATERIALIZED (
      SELECT DISTINCT s_nationkey AS sn, o_custkey
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey),
    edges AS MATERIALIZED (
      SELECT DISTINCT LEAST(sn, c_nationkey) AS a,
        GREATEST(sn, c_nationkey) AS b
      FROM sn JOIN customer ON o_custkey = c_custkey
      WHERE sn <> c_nationkey),
    nodes AS (
      SELECT COUNT(*) AS n_nodes FROM (
        SELECT a AS n FROM edges UNION SELECT b FROM edges)),
    ne AS (SELECT COUNT(*) AS n_edges FROM edges),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e1.b = e2.a
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT n_nodes, n_edges, n_triangles FROM nodes, ne, tri"""

  /** k-anonymity audit over the (nation, market segment) quasi-
    * identifier: per-QI-class size, the k=5 violation flag, and whether
    * generalizing nation→region repairs the class — the privacy gate a
    * curation pipeline runs before releasing joinable metadata. Two
    * grouped counts (QI-class and generalized-class cardinality) plus
    * broadcast dimension joins; class counts travel, rows never do.
    */
  def kAnonymity(customer: DataFrame, nation: DataFrame, k: Int = 5): DataFrame = {
    val withRegion = customer
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
    val cls = withRegion
      .groupBy("c_nationkey", "n_regionkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"))
    val gen = withRegion.groupBy("n_regionkey", "c_mktsegment")
      .agg(count(lit(1)).as("n_gen"))
    cls.join(broadcast(gen), Seq("n_regionkey", "c_mktsegment"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
        (col("n") >= k).cast("long").as("is_anonymous"),
        col("n_gen"),
        (col("n") < k && col("n_gen") >= k).cast("long")
          .as("fixed_by_generalization"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  private val kAnonymityOracle = """
    WITH wr AS (
      SELECT c_custkey, c_nationkey, n_regionkey, c_mktsegment
      FROM customer JOIN nation ON c_nationkey = n_nationkey),
    cls AS (
      SELECT c_nationkey, n_regionkey, c_mktsegment, COUNT(*) AS n
      FROM wr GROUP BY 1, 2, 3),
    gen AS (
      SELECT n_regionkey, c_mktsegment, COUNT(*) AS n_gen
      FROM wr GROUP BY 1, 2)
    SELECT c_nationkey, c_mktsegment, n,
      CAST(n >= 5 AS BIGINT) AS is_anonymous, n_gen,
      CAST(n < 5 AND n_gen >= 5 AS BIGINT) AS fixed_by_generalization
    FROM cls JOIN gen USING (n_regionkey, c_mktsegment)
    ORDER BY c_nationkey, c_mktsegment"""

  /** Per-series OLS trend: slope / intercept / R² of the daily value sum
    * against the day index, from exact integer power sums (the
    * regr_slope / regr_intercept / regr_r2 aggregate family, computed
    * the deterministic way). Two grouped aggregations — corpus → daily
    * points, points → six sums per series — then closed-form doubles on
    * identical operands (every sum casts to double BEFORE the products,
    * the q140 overflow rule).
    */
  def olsTrend(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("x"))
      .agg(sum(round(col("value") * 100).cast("decimal(18,0)")).as("y"))
    val sums = daily.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("decimal(18,0)").as("sx"),
      sum(col("x") * col("x")).cast("decimal(18,0)").as("sxx"),
      sum(col("y")).cast("decimal(38,0)").as("sy"),
      sum(col("y") * col("y")).cast("decimal(38,0)").as("syy"),
      sum(col("x").cast("decimal(18,0)") * col("y")).cast("decimal(38,0)").as("sxy"))
    def co(c: String) = s"cast($c as double)"
    val num = s"(${co("n")} * ${co("sxy")} - ${co("sx")} * ${co("sy")})"
    val denX = s"(${co("n")} * ${co("sxx")} - ${co("sx")} * ${co("sx")})"
    val denY = s"(${co("n")} * ${co("syy")} - ${co("sy")} * ${co("sy")})"
    sums.select(col("event_type"), col("n").as("n_days"),
        round(expr(s"$num / $denX / 100.0"), 6).as("slope"),
        round(expr(s"(${co("sy")} / ${co("n")} - $num / $denX * ${co("sx")} / ${co("n")}) / 100.0"), 6).as("intercept"),
        round(expr(s"$num * $num / ($denX * $denY)"), 6).as("r2"))
      .orderBy("event_type")
  }

  private val olsOracle = """
    WITH daily AS (
      SELECT event_type,
        CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        SUM(CAST(ROUND(value * 100, 0) AS DECIMAL(18,0))) AS y
      FROM events GROUP BY 1, 2),
    sums AS (
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(x) AS DECIMAL(18,0)) AS sx,
        CAST(SUM(x * x) AS DECIMAL(18,0)) AS sxx,
        CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
        CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy,
        CAST(SUM(CAST(x AS DECIMAL(18,0)) * y) AS DECIMAL(38,0)) AS sxy
      FROM daily GROUP BY 1)
    SELECT event_type, n AS n_days,
      ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100.0, 6) AS slope,
      ROUND((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) -
        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6) AS intercept,
      ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
    FROM sums ORDER BY event_type"""

  /** Mann-Whitney U (Wilcoxon rank-sum) test between two event types —
    * the nonparametric A/B readout (no normality assumption, unlike
    * q172's t-test). Everything up to the final z is EXACT integer
    * arithmetic: ranks come from per-distinct-value counts (tie groups
    * take the average rank, tracked DOUBLED so it stays integral), so
    * the statistic is identical across engines and partitionings by
    * construction. Scale shape: one grouped count per distinct value,
    * a window over the distinct-value summary (bounded by value
    * cardinality, not corpus size), one final reduce — the corpus is
    * scanned once and never sorted row-wise.
    */
  def mannWhitney(events: DataFrame, ta: String = "click",
      tb: String = "error"): DataFrame = {
    val pool = events.filter(col("event_type").isin(ta, tb))
      .select(round(col("value") * 100).cast("long").as("v"),
        (col("event_type") === ta).cast("long").as("is_a"))
    val byV = pool.groupBy("v")
      .agg(count(lit(1)).as("cnt"), sum("is_a").as("cnt_a"))
    // the distinct-value grid is value-range-bounded but still grows with
    // corpus richness — the running count distributes via Dist
    // (v DIV 64 buckets the leading — only — sort key)
    val ranked = Dist.withRunningSum(byV, expr("v DIV 64"), Seq(col("v")),
        col("cnt"), "run")
      .withColumn("cum", col("run") - col("cnt"))
      // doubled average rank of a tie group starting after `cum` items
      .withColumn("avg2", lit(2L) * col("cum") + col("cnt") + lit(1L))
    val s = ranked.agg(
      sum(col("cnt_a")).as("n_a"),
      sum(col("cnt") - col("cnt_a")).as("n_b"),
      sum(col("cnt_a").cast("decimal(38,0)") * col("avg2")).as("r2_a"))
    s.select(col("n_a"), col("n_b"),
        expr("cast(r2_a - cast(n_a as decimal(38,0)) * (n_a + 1) as double) / 2.0").as("u_a"),
        expr("cast(n_a as double) * cast(n_b as double) - cast(r2_a - cast(n_a as decimal(38,0)) * (n_a + 1) as double) / 2.0").as("u_b"),
        round(expr("(cast(r2_a - cast(n_a as decimal(38,0)) * (n_a + 1) as double) / 2.0 - cast(n_a as double) * cast(n_b as double) / 2.0) / sqrt(cast(n_a as double) * cast(n_b as double) * (cast(n_a as double) + cast(n_b as double) + 1.0) / 12.0)"), 6).as("z"))
  }

  private val mannWhitneyOracle = """
    WITH pool AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
        CAST(event_type = 'click' AS BIGINT) AS is_a
      FROM events WHERE event_type IN ('click', 'error')),
    by_v AS (
      SELECT v, COUNT(*) AS cnt, CAST(SUM(is_a) AS BIGINT) AS cnt_a
      FROM pool GROUP BY v),
    ranked AS (
      SELECT cnt, cnt_a,
        2 * CAST(COALESCE(SUM(cnt) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          + cnt + 1 AS avg2
      FROM by_v),
    s AS (
      SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
        CAST(SUM(cnt - cnt_a) AS BIGINT) AS n_b,
        CAST(SUM(CAST(cnt_a AS DECIMAL(38,0)) * avg2) AS DECIMAL(38,0)) AS r2_a
      FROM ranked)
    SELECT n_a, n_b,
      CAST(r2_a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS DOUBLE) / 2.0 AS u_a,
      CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) - CAST(r2_a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS DOUBLE) / 2.0 AS u_b,
      ROUND((CAST(r2_a - CAST(n_a AS DECIMAL(38,0)) * (n_a + 1) AS DOUBLE) / 2.0 - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0) / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0) / 12.0), 6) AS z
    FROM s"""

  /** Population Stability Index — the ML-monitoring drift metric
    * (companion to q141's KL token drift, but over a numeric feature):
    * decile bins fit on a reference window (first half of the stream),
    * the current window is scored against them, PSI = Σ(p−q)·ln(p/q)
    * with add-one smoothing. Bin boundaries are DISCRETE quantiles
    * derived by pure integer arithmetic (min v with 10·cum ≥ i·total —
    * the q102 inverse-CDF pin), so the binning is exact in both engines;
    * only the final ln/products are doubles on identical operands.
    * Scale shape: one grouped count per distinct value, a window over
    * the distinct-value summary, one broadcast of 9 boundaries, one
    * grouped count per bin.
    */
  def psiDrift(events: DataFrame): DataFrame = {
    val cut = lit("2024-01-16").cast("timestamp")
    val scaled = events.select((col("ts") < cut).as("is_ref"),
      round(col("value") * 100).cast("long").as("v"))
    val ref = scaled.filter(col("is_ref"))
    // the distinct-value grid grows with corpus richness: the reference
    // CDF distributes via Dist (v DIV 64 buckets the leading sort key)
    val cums = Dist.withRunningSum(
        ref.groupBy("v").agg(count(lit(1)).as("cnt")),
        expr("v DIV 64"), Seq(col("v")), col("cnt"), "cum")
      .crossJoin(broadcast(ref.agg(count(lit(1)).as("total"))))
    val boundCols = (1 to 9).map(i =>
      min(when(col("cum") * 10 >= col("total") * i, col("v"))).as(s"b$i"))
    val bounds = cums.agg(boundCols.head, boundCols.tail: _*)
    val binned = scaled.crossJoin(broadcast(bounds))
      .select(col("is_ref"),
        (1 to 9).map(i => (col("v") > col(s"b$i")).cast("long"))
          .reduce(_ + _).as("bin"))
      .groupBy("bin")
      .agg(count(when(col("is_ref"), 1)).as("n_ref"),
        count(when(!col("is_ref"), 1)).as("n_cur"))
    val totals = binned.agg(sum("n_ref").as("tr"), sum("n_cur").as("tc"))
    binned.crossJoin(broadcast(totals))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(expr("((cast(n_ref + 1 as double) / cast(tr + 10 as double)) - (cast(n_cur + 1 as double) / cast(tc + 10 as double))) * ln((cast(n_ref + 1 as double) / cast(tr + 10 as double)) / (cast(n_cur + 1 as double) / cast(tc + 10 as double)))"), 6)
          .as("psi_contribution"))
      .orderBy("bin")
  }

  private val psiOracle = """
    WITH scaled AS (
      SELECT ts < TIMESTAMP '2024-01-16' AS is_ref,
        CAST(ROUND(value * 100, 0) AS BIGINT) AS v
      FROM events),
    cums AS (
      SELECT v, CAST(SUM(COUNT(*)) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM scaled WHERE is_ref GROUP BY v),
    t AS (SELECT COUNT(*) AS total FROM scaled WHERE is_ref),
    bounds AS (
      SELECT
        MIN(CASE WHEN cum * 10 >= total * 1 THEN v END) AS b1,
        MIN(CASE WHEN cum * 10 >= total * 2 THEN v END) AS b2,
        MIN(CASE WHEN cum * 10 >= total * 3 THEN v END) AS b3,
        MIN(CASE WHEN cum * 10 >= total * 4 THEN v END) AS b4,
        MIN(CASE WHEN cum * 10 >= total * 5 THEN v END) AS b5,
        MIN(CASE WHEN cum * 10 >= total * 6 THEN v END) AS b6,
        MIN(CASE WHEN cum * 10 >= total * 7 THEN v END) AS b7,
        MIN(CASE WHEN cum * 10 >= total * 8 THEN v END) AS b8,
        MIN(CASE WHEN cum * 10 >= total * 9 THEN v END) AS b9
      FROM cums, t),
    binned AS (
      SELECT CAST(v > b1 AS BIGINT) + CAST(v > b2 AS BIGINT)
           + CAST(v > b3 AS BIGINT) + CAST(v > b4 AS BIGINT)
           + CAST(v > b5 AS BIGINT) + CAST(v > b6 AS BIGINT)
           + CAST(v > b7 AS BIGINT) + CAST(v > b8 AS BIGINT)
           + CAST(v > b9 AS BIGINT) AS bin,
        is_ref
      FROM scaled, bounds),
    counts AS (
      SELECT bin,
        COUNT(*) FILTER (WHERE is_ref) AS n_ref,
        COUNT(*) FILTER (WHERE NOT is_ref) AS n_cur
      FROM binned GROUP BY bin),
    tot AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
      CAST(SUM(n_cur) AS BIGINT) AS tc FROM counts)
    SELECT bin, n_ref, n_cur,
      ROUND(((CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE)) - (CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE))) * ln((CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE)) / (CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE))), 6) AS psi_contribution
    FROM counts, tot ORDER BY bin"""

  /** Join-cardinality estimation from per-key histograms — the planner
    * statistic an optimizer uses to choose join strategies, computed as
    * a first-class query: |A ⋈ B| = Σ_k cntA(k)·cntB(k) over the two
    * key histograms, WITHOUT executing the join. The audit also runs
    * the real join: the estimate from exact histograms is provably
    * equal (the law the spec pins), and at 100 TB the histograms are
    * the sketchable object (q181's CMS) while the join itself is not.
    * Also reports the hottest key's contribution — the skew signal that
    * decides salting (q58) vs broadcast.
    */
  def joinSizeEstimate(li: DataFrame, orders: DataFrame): DataFrame = {
    val hl = li.groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("ca"))
    val ho = orders.groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("cb"))
    val prod = hl.join(ho, "k")
      .select(col("k"), (col("ca") * col("cb")).as("contrib"))
    val est = prod.agg(
      sum("contrib").as("estimated_rows"),
      count(lit(1)).as("n_join_keys"),
      max("contrib").as("max_key_contribution"))
    val actual = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("actual_rows"))
    est.crossJoin(broadcast(actual))
      .select(col("estimated_rows"), col("actual_rows"),
        col("n_join_keys"), col("max_key_contribution"))
  }

  private val joinSizeOracle = """
    WITH hl AS (SELECT l_orderkey AS k, COUNT(*) AS ca FROM lineitem GROUP BY 1),
    ho AS (SELECT o_orderkey AS k, COUNT(*) AS cb FROM orders GROUP BY 1),
    prod AS (SELECT k, ca * cb AS contrib FROM hl JOIN ho USING (k)),
    est AS (
      SELECT CAST(SUM(contrib) AS BIGINT) AS estimated_rows,
        COUNT(*) AS n_join_keys,
        CAST(MAX(contrib) AS BIGINT) AS max_key_contribution
      FROM prod),
    act AS (
      SELECT COUNT(*) AS actual_rows
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    SELECT estimated_rows, actual_rows, n_join_keys, max_key_contribution
    FROM est, act"""

  /** Winsorization audit: per-type p1/p99 caps from integer inverse-CDF
    * quantiles (the q190 pin — no float boundary anywhere), values
    * clamped into [p1, p99], exact decimal mean before/after and the
    * clip counts. The outlier treatment that PRESERVES row count,
    * complementing the trimmed mean (q155) which drops rows. One
    * grouped count per distinct value, one bounded window, one pass to
    * clamp and aggregate.
    */
  def winsorize(events: DataFrame): DataFrame = {
    val scaled = events.select(col("event_type"),
      round(col("value") * 100).cast("long").as("v"))
    val w = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val caps = scaled.groupBy("event_type", "v").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(w))
      .crossJoin(broadcast(scaled.groupBy("event_type")
        .agg(count(lit(1)).as("total")).withColumnRenamed("event_type", "et")))
      .filter(col("event_type") === col("et"))
      .groupBy("event_type")
      .agg(min(when(col("cum") * 100 >= col("total") * 1, col("v"))).as("p1"),
        min(when(col("cum") * 100 >= col("total") * 99, col("v"))).as("p99"))
    scaled.join(broadcast(caps), "event_type")
      .select(col("event_type"), col("v"), col("p1"), col("p99"),
        greatest(col("p1"), least(col("p99"), col("v"))).as("clamped"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (sum(col("v")).cast("double") / count(lit(1)) / 100.0).as("raw_mean"),
        (sum(col("clamped")).cast("double") / count(lit(1)) / 100.0).as("winsor_mean"),
        sum(when(col("v") < col("p1"), 1L).otherwise(0L)).as("n_clipped_low"),
        sum(when(col("v") > col("p99"), 1L).otherwise(0L)).as("n_clipped_high"))
      .orderBy("event_type")
  }

  private val winsorizeOracle = """
    WITH scaled AS (
      SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS v FROM events),
    cums AS (
      SELECT event_type, v, CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type
        ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM scaled GROUP BY event_type, v),
    t AS (SELECT event_type, COUNT(*) AS total FROM scaled GROUP BY 1),
    caps AS (
      SELECT event_type,
        MIN(CASE WHEN cum * 100 >= total * 1 THEN v END) AS p1,
        MIN(CASE WHEN cum * 100 >= total * 99 THEN v END) AS p99
      FROM cums JOIN t USING (event_type) GROUP BY event_type),
    clamped AS (
      SELECT s.event_type, v, p1, p99,
        GREATEST(p1, LEAST(p99, v)) AS c
      FROM scaled s JOIN caps USING (event_type))
    SELECT event_type, COUNT(*) AS n,
      CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE) / COUNT(*) / 100.0 AS raw_mean,
      CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) / COUNT(*) / 100.0 AS winsor_mean,
      CAST(SUM(CASE WHEN v < p1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
      CAST(SUM(CASE WHEN v > p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high
    FROM clamped GROUP BY event_type ORDER BY event_type"""

  /** Benford first-digit audit over order totals — the forensic
    * data-quality screen for fabricated or truncated numeric columns.
    * The first significant digit comes from the INTEGER cents via
    * string length (no float log10 anywhere, so the digit assignment is
    * exact in both engines); observed shares compare against the
    * Benford expectation ln(1+1/d)/ln(10) with the absolute deviation
    * reported per digit. One grouped count; everything else is
    * constant-space arithmetic on the 9-row digit table.
    */
  def benfordAudit(orders: DataFrame): DataFrame = {
    val cents = orders.filter(col("o_totalprice") > 0)
      .select(round(col("o_totalprice") * 100).cast("long").as("c"))
    val digits = cents
      .select(substring(col("c").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    digits.crossJoin(broadcast(digits.agg(sum("n").as("total"))))
      .select(col("digit"), col("n"),
        round(expr("cast(n as double) / cast(total as double)"), 6).as("observed"),
        round(expr("ln(1.0 + 1.0 / cast(digit as double)) / ln(10.0)"), 6).as("expected"),
        round(expr("abs(cast(n as double) / cast(total as double) - ln(1.0 + 1.0 / cast(digit as double)) / ln(10.0))"), 6).as("abs_dev"))
      .orderBy("digit")
  }

  private val benfordOracle = """
    WITH cents AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0),
    digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        COUNT(*) AS n
      FROM cents GROUP BY 1),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM digits)
    SELECT digit, n,
      ROUND(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS observed,
      ROUND(ln(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE)) / ln(CAST(10.0 AS DOUBLE)), 6) AS expected,
      ROUND(ABS(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) - ln(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / CAST(digit AS DOUBLE)) / ln(CAST(10.0 AS DOUBLE))), 6) AS abs_dev
    FROM digits, t ORDER BY digit"""

  /** Weighted median (lower) per return flag: price weighted by integer
    * quantity, the 50% point located by pure integer cumulative-weight
    * arithmetic (2·cumw ≥ totw — no float percentile machinery). The
    * estimator inventory's weighted complement of q132's unweighted
    * median. One grouped sum per distinct value, one bounded window.
    */
  def weightedMedian(li: DataFrame): DataFrame = {
    val scaled = li.select(col("l_returnflag").as("flag"),
      round(col("l_extendedprice") * 100).cast("long").as("v"),
      round(col("l_quantity")).cast("long").as("wt"))
    // two-level cumulative weights ([[Dist.prefixScan]], partitioned by
    // flag): the distinct-value table can be corpus-sized (prices are
    // near-unique), so a single per-flag window would serialize on one
    // partition at scale; cumw is identical to the flat form.
    val byV = scaled.groupBy("flag", "v").agg(sum("wt").as("wv"))
    Dist.prefixScan(byV, (col("v") / 100000L).cast("long"), Seq(col("v")),
        Seq(Dist.Scan(col("wv"), Dist.Sum, "cumw")), partition = Seq("flag"))
      .crossJoin(broadcast(scaled.groupBy("flag")
        .agg(sum("wt").as("totw")).withColumnRenamed("flag", "f")))
      .filter(col("flag") === col("f"))
      .groupBy("flag")
      .agg(max("totw").as("total_weight"),
        (min(when(col("cumw") * 2 >= col("totw"), col("v"))).cast("double") / 100.0)
          .as("weighted_median"))
      .orderBy("flag")
  }

  private val weightedMedianOracle = """
    WITH scaled AS (
      SELECT l_returnflag AS flag,
        CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v,
        CAST(ROUND(l_quantity, 0) AS BIGINT) AS wt
      FROM lineitem),
    cums AS (
      SELECT flag, v, CAST(SUM(SUM(wt)) OVER (PARTITION BY flag ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw
      FROM scaled GROUP BY flag, v),
    t AS (SELECT flag, CAST(SUM(wt) AS BIGINT) AS totw FROM scaled GROUP BY 1)
    SELECT flag, MAX(totw) AS total_weight,
      CAST(MIN(CASE WHEN cumw * 2 >= totw THEN v END) AS DOUBLE) / 100.0 AS weighted_median
    FROM cums JOIN t USING (flag) GROUP BY flag ORDER BY flag"""

  /** Spearman rank correlation between quantity and price — the
    * nonparametric complement of q140's Pearson matrix, and the q184
    * machinery generalized: tie-averaged ranks (tracked doubled, so
    * integral) come from per-distinct-value counts, then Pearson runs
    * over the exact integer rank pairs. Everything before the final
    * division is integer/decimal-exact; no row-wise sort at any point.
    */
  def spearmanCorr(li: DataFrame): DataFrame = {
    val base = li.select(round(col("l_quantity")).cast("long").as("x"),
      round(col("l_extendedprice") * 100).cast("long").as("y"))
    // two-level ranking ([[Dist.prefixScan]], exclusive frame): the
    // distinct-price table is corpus-sized, so a flat global window would
    // serialize on one partition at scale. cum is identical to the flat
    // form.
    def ranks(c: String) =
      Dist.prefixScan(base.groupBy(c).agg(count(lit(1)).as("cnt")),
          (col(c) / 100000L).cast("long"), Seq(col(c)),
          Seq(Dist.Scan(col("cnt"), Dist.Sum, "cum")), exclusive = true)
        .select(col(c), (lit(2L) * col("cum") + col("cnt") + 1L).as(s"r$c"))
    val ranked = base
      .join(ranks("x"), "x")
      .join(ranks("y"), "y")
      .select(col("rx").cast("decimal(38,0)").as("rx"),
        col("ry").cast("decimal(38,0)").as("ry"))
    val s = ranked.agg(count(lit(1)).as("n"),
      sum("rx").as("sx"), sum("ry").as("sy"),
      sum(col("rx") * col("rx")).cast("decimal(38,0)").as("sxx"),
      sum(col("ry") * col("ry")).cast("decimal(38,0)").as("syy"),
      sum(col("rx") * col("ry")).cast("decimal(38,0)").as("sxy"))
    def co(c: String) = s"cast($c as double)"
    s.select(col("n"),
      round(expr(s"(${co("n")} * ${co("sxy")} - ${co("sx")} * ${co("sy")}) / sqrt((${co("n")} * ${co("sxx")} - ${co("sx")} * ${co("sx")}) * (${co("n")} * ${co("syy")} - ${co("sy")} * ${co("sy")}))"), 6)
        .as("spearman_rho"))
  }

  private val spearmanOracle = """
    WITH base AS (
      SELECT CAST(ROUND(l_quantity, 0) AS BIGINT) AS x,
        CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
      FROM lineitem),
    rxs AS (
      SELECT x, 2 * CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        + COUNT(*) + 1 AS rx
      FROM base GROUP BY x),
    rys AS (
      SELECT y, 2 * CAST(COALESCE(SUM(COUNT(*)) OVER (ORDER BY y
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        + COUNT(*) + 1 AS ry
      FROM base GROUP BY y),
    ranked AS (
      SELECT CAST(rx AS DECIMAL(38,0)) AS rx, CAST(ry AS DECIMAL(38,0)) AS ry
      FROM base JOIN rxs USING (x) JOIN rys USING (y)),
    s AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(rx) AS DECIMAL(38,0)) AS sx, CAST(SUM(ry) AS DECIMAL(38,0)) AS sy,
        CAST(SUM(rx * rx) AS DECIMAL(38,0)) AS sxx,
        CAST(SUM(ry * ry) AS DECIMAL(38,0)) AS syy,
        CAST(SUM(rx * ry) AS DECIMAL(38,0)) AS sxy
      FROM ranked)
    SELECT n,
      ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS spearman_rho
    FROM s"""

  /** User-journey path mining: top-20 event-type 3-grams over each
    * user's time-ordered event sequence — the navigation-pattern
    * summary a funnel analysis starts from. Sequences assemble with ONE
    * user-keyed shuffle (collect ordered per user), 3-grams expand
    * in-task from the ordered array, and only gram counts shuffle after
    * that. Tie-broken top-k is fully pinned (count desc, gram asc).
    */
  def journeyPaths(events: DataFrame, k: Int = 20): DataFrame = {
    val seqs = events
      .groupBy("user_id")
      .agg(sortedBy(col("event_type"), col("ts"), col("event_id")).as("ts"))
      .filter(size(col("ts")) >= 3)
    seqs
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 2), i -> concat(ts[i - 1], '>', ts[i], '>', ts[i + 1]))"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  private val journeyOracle = """
    WITH seqs AS (
      SELECT list(event_type ORDER BY ts, event_id) AS ts
      FROM events GROUP BY user_id),
    grams AS (
      SELECT unnest(list_transform(range(1, len(ts) - 1),
        i -> ts[i] || '>' || ts[i + 1] || '>' || ts[i + 2])) AS path
      FROM seqs WHERE len(ts) >= 3)
    SELECT path, COUNT(*) AS n FROM grams GROUP BY path
    ORDER BY n DESC, path LIMIT 20"""

  /** Exponentially weighted moving average per event type (α = 0.3)
    * over the daily exact-decimal series — the smoothing primitive of
    * every monitoring dashboard. EWMA is inherently sequential, so it
    * runs as a PINNED-ORDER fold over each series' day-ordered value
    * array (both engines fold left with the first value as seed —
    * identical doubles); series are keyed by type, so folds distribute
    * across series and each is bounded by calendar length, not corpus
    * size.
    */
  def ewmaSmooth(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(round(col("value") * 100).cast("decimal(18,0)")).cast("double") / 100.0).as("v"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sortedBy(col("v"), col("day")).as("vs"),
        max_by(col("v"), col("day")).as("last_raw"))
      .select(col("event_type"), col("n_days"),
        round(expr("""aggregate(slice(vs, 2, n_days - 1), vs[0],
            (s, x) -> cast(0.3 as double) * x + cast(0.7 as double) * s)"""), 6)
          .as("ewma_last"),
        col("last_raw"))
      .orderBy("event_type")
  }

  private val ewmaOracle = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
        CAST(SUM(CAST(ROUND(value * 100, 0) AS DECIMAL(18,0))) AS DOUBLE) / 100.0 AS v
      FROM events GROUP BY 1, 2)
    SELECT event_type, COUNT(*) AS n_days,
      ROUND(list_reduce(list(v ORDER BY day),
        (s, x) -> CAST(0.3 AS DOUBLE) * x + CAST(0.7 AS DOUBLE) * s), 6) AS ewma_last,
      arg_max(v, day) AS last_raw
    FROM daily GROUP BY event_type ORDER BY event_type"""

  /** Lag-k autocorrelation (k = 1..3) of each type's daily series —
    * the seasonality/persistence diagnostic: sample Pearson correlation
    * of (xₜ, xₜ₊ₖ) pairs via the q140 exact-power-sum machinery. The
    * paired table is |series|×|days| rows (bounded by calendar), the
    * lag join is an equi-join on (type, day+k), and everything up to
    * the final division is exact integer/decimal.
    */
  def autocorrelation(events: DataFrame, maxLag: Int = 3): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("decimal(18,0)")).as("x"))
      .localCheckpoint() // both sides of every lag join read this
    val lags = (1 to maxLag).map { k =>
      val a = daily.select(col("event_type"), col("day"), col("x").as("xa"))
      val b = daily.select(col("event_type"),
        date_sub(col("day"), k).as("day"), col("x").as("xb"))
      a.join(b, Seq("event_type", "day"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("xa")).cast("decimal(38,0)").as("sa"),
          sum(col("xb")).cast("decimal(38,0)").as("sb"),
          sum(col("xa") * col("xa")).cast("decimal(38,0)").as("saa"),
          sum(col("xb") * col("xb")).cast("decimal(38,0)").as("sbb"),
          sum(col("xa") * col("xb")).cast("decimal(38,0)").as("sab"))
        .select(col("event_type"), lit(k.toLong).as("lag"), col("n").as("n_pairs"),
          round(expr("(cast(n as double) * cast(sab as double) - cast(sa as double) * cast(sb as double)) / sqrt((cast(n as double) * cast(saa as double) - cast(sa as double) * cast(sa as double)) * (cast(n as double) * cast(sbb as double) - cast(sb as double) * cast(sb as double)))"), 6)
            .as("acf"))
    }
    lags.reduce(_.union(_)).orderBy("event_type", "lag")
  }

  private def acfLagSql(k: Int) = s"""
    SELECT event_type, CAST($k AS BIGINT) AS lag, COUNT(*) AS n_pairs,
      ROUND((CAST(COUNT(*) AS DOUBLE) * CAST(CAST(SUM(xa * xb) AS DECIMAL(38,0)) AS DOUBLE)
          - CAST(CAST(SUM(xa) AS DECIMAL(38,0)) AS DOUBLE) * CAST(CAST(SUM(xb) AS DECIMAL(38,0)) AS DOUBLE))
        / sqrt((CAST(COUNT(*) AS DOUBLE) * CAST(CAST(SUM(xa * xa) AS DECIMAL(38,0)) AS DOUBLE)
          - CAST(CAST(SUM(xa) AS DECIMAL(38,0)) AS DOUBLE) * CAST(CAST(SUM(xa) AS DECIMAL(38,0)) AS DOUBLE))
          * (CAST(COUNT(*) AS DOUBLE) * CAST(CAST(SUM(xb * xb) AS DECIMAL(38,0)) AS DOUBLE)
          - CAST(CAST(SUM(xb) AS DECIMAL(38,0)) AS DOUBLE) * CAST(CAST(SUM(xb) AS DECIMAL(38,0)) AS DOUBLE))), 6) AS acf
    FROM (SELECT a.event_type, a.x AS xa, b.x AS xb
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND b.day = a.day + $k)
    GROUP BY event_type"""

  private val acfOracle = s"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
        SUM(CAST(ROUND(value * 100, 0) AS DECIMAL(18,0))) AS x
      FROM events GROUP BY 1, 2)
    ${acfLagSql(1)} UNION ALL ${acfLagSql(2)} UNION ALL ${acfLagSql(3)}
    ORDER BY event_type, lag"""

  /** Model-free missing-value imputation by group statistics (the
    * cross-sectional complement of q175's temporal LOCF): ~20% of
    * values go missing under a deterministic md5 coin (same rows vanish
    * in both engines), then each type's missing values impute from the
    * observed discrete median (integer inverse-CDF — no float
    * percentile). The audit reports observed/imputed means from exact
    * decimal sums — imputation never touches observed rows.
    */
  def groupImpute(events: DataFrame): DataFrame = {
    val coined = events.select(col("event_type"), col("event_id"),
      round(col("value") * 100).cast("long").as("v"))
      .withColumn("missing",
        ascii(substring(md5(concat(col("event_type"), col("event_id"))), 1, 1)) % 5 === 0)
    val obs = coined.filter(!col("missing"))
    val w = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = obs.groupBy("event_type", "v").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(w))
      .crossJoin(broadcast(obs.groupBy("event_type")
        .agg(count(lit(1)).as("tot")).withColumnRenamed("event_type", "et")))
      .filter(col("event_type") === col("et"))
      .groupBy("event_type")
      .agg(min(when(col("cum") * 2 >= col("tot"), col("v"))).as("median_v"))
    coined.join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("missing").cast("long")).as("n_missing"),
        (max("median_v").cast("double") / 100.0).as("imputed_value"),
        (sum(when(!col("missing"), col("v"))).cast("double") /
          sum((!col("missing")).cast("long")) / 100.0).as("observed_mean"),
        ((sum(when(!col("missing"), col("v"))) +
          sum(col("missing").cast("long")) * max("median_v")).cast("double") /
          count(lit(1)) / 100.0).as("imputed_mean"))
      .orderBy("event_type")
  }

  private val groupImputeOracle = """
    WITH coined AS (
      SELECT event_type, event_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
        ascii(substr(md5(event_type || CAST(event_id AS VARCHAR)), 1, 1)) % 5 = 0 AS missing
      FROM events),
    obs AS (SELECT * FROM coined WHERE NOT missing),
    cums AS (
      SELECT event_type, v, CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type
        ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM obs GROUP BY event_type, v),
    t AS (SELECT event_type, COUNT(*) AS tot FROM obs GROUP BY 1),
    med AS (
      SELECT event_type, MIN(CASE WHEN cum * 2 >= tot THEN v END) AS median_v
      FROM cums JOIN t USING (event_type) GROUP BY event_type)
    SELECT event_type, COUNT(*) AS n,
      CAST(SUM(CASE WHEN missing THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
      CAST(MAX(median_v) AS DOUBLE) / 100.0 AS imputed_value,
      CAST(CAST(SUM(CASE WHEN NOT missing THEN v END) AS BIGINT) AS DOUBLE) /
        CAST(SUM(CASE WHEN NOT missing THEN 1 ELSE 0 END) AS BIGINT) / 100.0 AS observed_mean,
      CAST(CAST(SUM(CASE WHEN NOT missing THEN v END)
        + SUM(CASE WHEN missing THEN 1 ELSE 0 END) * MAX(median_v) AS BIGINT) AS DOUBLE) /
        COUNT(*) / 100.0 AS imputed_mean
    FROM coined JOIN med USING (event_type)
    GROUP BY event_type ORDER BY event_type"""

  /** Smoothed target encoding (m-estimate, m = 10) of the market
    * segment by per-customer total spend — the leakage-aware
    * categorical feature-engineering primitive: segment means shrink
    * toward the global prior in proportion to segment support. Spend
    * aggregates per customer first (exact decimal cents), so the
    * encoding table is |segments| rows from two grouped sums; customers
    * without orders contribute zero spend, not nothing.
    */
  def targetEncoding(customer: DataFrame, orders: DataFrame, m: Int = 10): DataFrame = {
    val spend = customer.select(col("c_custkey"), col("c_mktsegment"))
      .join(orders.groupBy("o_custkey")
          .agg(sum(round(col("o_totalprice") * 100).cast("decimal(18,0)")).as("cents")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_mktsegment"),
        coalesce(col("cents"), lit(0).cast("decimal(18,0)")).as("cents"))
    val bySeg = spend.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("cents").cast("decimal(38,0)").as("s"))
    val global = bySeg.agg(sum("n").as("gn"),
      sum("s").cast("decimal(38,0)").as("gs"))
    bySeg.crossJoin(broadcast(global))
      .select(col("c_mktsegment"), col("n").as("n_customers"),
        round(expr("cast(s as double) / cast(n as double) / 100.0"), 6).as("raw_mean"),
        round(expr(s"(cast(s as double) + $m.0 * (cast(gs as double) / cast(gn as double))) / (cast(n as double) + $m.0) / 100.0"), 6).as("encoded"))
      .orderBy("c_mktsegment")
  }

  private val targetEncodingOracle = """
    WITH spend AS (
      SELECT c_mktsegment,
        COALESCE(cents, CAST(0 AS DECIMAL(18,0))) AS cents
      FROM customer LEFT OUTER JOIN (
        SELECT o_custkey,
          SUM(CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(18,0))) AS cents
        FROM orders GROUP BY 1) o ON c_custkey = o_custkey),
    by_seg AS (
      SELECT c_mktsegment, COUNT(*) AS n,
        CAST(SUM(cents) AS DECIMAL(38,0)) AS s
      FROM spend GROUP BY 1),
    g AS (SELECT CAST(SUM(n) AS BIGINT) AS gn,
      CAST(SUM(s) AS DECIMAL(38,0)) AS gs FROM by_seg)
    SELECT c_mktsegment, n AS n_customers,
      ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS raw_mean,
      ROUND((CAST(s AS DOUBLE) + 10.0 * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE))) / (CAST(n AS DOUBLE) + 10.0) / 100.0, 6) AS encoded
    FROM by_seg, g ORDER BY c_mktsegment"""

  /** Mutual information between two categorical columns (order priority
    * × order status) with entropies and normalized MI — the
    * feature-association measure a curation pipeline uses for feature
    * selection and redundancy pruning (the categorical complement of
    * Pearson q140 / Spearman q196). Three grouped counts (joint + two
    * marginals, all bounded by category cardinality); the ln terms run
    * on exact integer ratios and reduce by pinned-order folds over the
    * ≤ |X|·|Y| cells, so the statistic is bit-identical across engines.
    */
  def mutualInformation(orders: DataFrame): DataFrame = {
    val joint = orders.groupBy(col("o_orderpriority").as("x"), col("o_orderstatus").as("y"))
      .agg(count(lit(1)).as("nxy"))
    val mx = orders.groupBy(col("o_orderpriority").as("x")).agg(count(lit(1)).as("nx"))
    val my = orders.groupBy(col("o_orderstatus").as("y")).agg(count(lit(1)).as("ny"))
    val total = orders.agg(count(lit(1)).as("n"))
    val mi = joint.join(broadcast(mx), "x").join(broadcast(my), "y")
      .crossJoin(broadcast(total))
      .select(col("x"), col("y"),
        expr("cast(nxy as double) / cast(n as double) * ln(cast(nxy as double) * cast(n as double) / (cast(nx as double) * cast(ny as double)))").as("t"))
      .agg(osum(col("t"), col("x"), col("y")).as("mi"))
    def entropy(m: DataFrame, k: String, nc: String) = m.crossJoin(broadcast(total))
      .select(col(k), expr(s"-(cast($nc as double) / cast(n as double)) * ln(cast($nc as double) / cast(n as double))").as("t"))
      .agg(osum(col("t"), col(k)).as(s"h_$k"))
    mi.crossJoin(broadcast(entropy(mx, "x", "nx")))
      .crossJoin(broadcast(entropy(my, "y", "ny")))
      .crossJoin(broadcast(total))
      .select(col("n"),
        round(col("mi"), 6).as("mi"),
        round(col("h_x"), 6).as("h_x"),
        round(col("h_y"), 6).as("h_y"),
        // single-valued column ⇒ h = 0 ⇒ NaN/Inf whose formatting can
        // diverge between engines: emit NULL for the degenerate case
        round(expr("CASE WHEN h_x * h_y > 0 THEN mi / sqrt(h_x * h_y) END"), 6)
          .as("nmi"))
  }

  private val mutualInfoOracle = """
    WITH joint AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y, COUNT(*) AS nxy
      FROM orders GROUP BY 1, 2),
    mx AS (SELECT o_orderpriority AS x, COUNT(*) AS nx FROM orders GROUP BY 1),
    my AS (SELECT o_orderstatus AS y, COUNT(*) AS ny FROM orders GROUP BY 1),
    t AS (SELECT COUNT(*) AS n FROM orders),
    cells AS (
      SELECT joint.x, joint.y,
        CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE) *
          ln(CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE) /
            (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))) AS term
      FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN t),
    mi AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(term ORDER BY x, y)), (s, e) -> s + e) AS mi
      FROM cells),
    hx AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(-(CAST(nx AS DOUBLE) / CAST(n AS DOUBLE)) *
          ln(CAST(nx AS DOUBLE) / CAST(n AS DOUBLE)) ORDER BY x)), (s, e) -> s + e) AS h_x
      FROM mx CROSS JOIN t),
    hy AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(-(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)) *
          ln(CAST(ny AS DOUBLE) / CAST(n AS DOUBLE)) ORDER BY y)), (s, e) -> s + e) AS h_y
      FROM my CROSS JOIN t)
    SELECT n, ROUND(mi, 6) AS mi, ROUND(h_x, 6) AS h_x, ROUND(h_y, 6) AS h_y,
      ROUND(CASE WHEN h_x * h_y > 0 THEN mi / sqrt(h_x * h_y) END, 6) AS nmi
    FROM mi, hx, hy, t"""

  /** Theil–Sen robust trend of monthly revenue: the median of all
    * pairwise slopes, with the matching median intercept — the
    * outlier-resistant twin of the OLS trend (q179): one contaminated
    * month moves OLS arbitrarily but shifts a pairwise-slope median by
    * at most one order statistic. The pair phase is bounded by calendar²
    * (~80 months → ~3.2k pairs), never data size; revenue is an exact
    * decimal sum so both engines divide identical doubles by exact
    * integer month gaps, and the median is the interpolated percentile
    * both engines implement identically.
    */
  def theilSen(orders: DataFrame): DataFrame = {
    val m = orders.groupBy(
        date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
      .agg(dsum(col("o_totalprice")).as("rev"))
      .withColumn("idx", (year(col("mon")) * 12 + month(col("mon"))).cast("long"))
      .localCheckpoint() // calendar-sized; read by pairs, intercept and count
    val slope = m.as("a").join(m.as("b"), col("a.idx") < col("b.idx"))
      .select(((col("b.rev") - col("a.rev"))
        / (col("b.idx") - col("a.idx")).cast("double")).as("slope"))
      .agg(expr("percentile(slope, 0.5)").as("slope"))
    // intercept per scipy theilslopes: median(y) − slope·median(x).
    // The residual-median variant interpolates percentile arithmetic on
    // ~1e9-magnitude derived doubles, where the two engines' lerp forms
    // can differ by 1 ulp THROUGH the 1e-6 round (caught at sf0.1);
    // medians of the raw grids + one shared multiply stay bit-identical.
    val icept = m.crossJoin(broadcast(slope))
      .agg((expr("percentile(rev, 0.5)")
        - max(col("slope")) * expr("percentile(cast(idx as double), 0.5)")).as("icept"))
    m.agg(count(lit(1)).as("n_months"))
      .crossJoin(broadcast(slope)).crossJoin(broadcast(icept))
      .select(col("n_months"), round(col("slope"), 6).as("ts_slope"),
        round(col("icept"), 6).as("ts_intercept"))
  }

  private val theilSenOracle = """
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1),
    mi AS (SELECT rev, CAST(year(mon)*12 + month(mon) AS BIGINT) AS idx FROM m),
    s AS (
      SELECT quantile_cont((b.rev - a.rev) / CAST(b.idx - a.idx AS DOUBLE), 0.5) AS slope
      FROM mi a JOIN mi b ON a.idx < b.idx),
    i AS (
      SELECT quantile_cont(rev, 0.5)
        - MAX(s.slope) * quantile_cont(CAST(idx AS DOUBLE), 0.5) AS icept
      FROM mi, s)
    SELECT (SELECT COUNT(*) FROM mi) AS n_months,
      ROUND(s.slope, 6) AS ts_slope, ROUND(i.icept, 6) AS ts_intercept
    FROM s, i"""

  /** Kendall tau-b rank association between monthly order count and
    * monthly revenue — the rank-correlation complement of Spearman
    * (q196) that handles ties exactly: every pair is classified
    * concordant / discordant / x-tied / y-tied from exact integer and
    * exact decimal comparisons, so C, D, Tx, Ty are exact counts and
    * tau_b's one sqrt runs on identical doubles. Pairs bounded by
    * calendar², never data size.
    */
  def kendallTau(orders: DataFrame): DataFrame = {
    val m = orders.groupBy(
        date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("o_totalprice") * 100).cast("decimal(18,0)")).as("y"))
    val cls = m.as("a").join(m.as("b"), col("a.mon") < col("b.mon"))
      .select(signum((col("b.x") - col("a.x")).cast("double")).as("dx"),
        signum((col("b.y") - col("a.y")).cast("double")).as("dy"))
    cls.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("c"),
        sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("d"),
        sum(when(col("dx") === 0 && col("dy") =!= 0, 1L).otherwise(0L)).as("tx"),
        sum(when(col("dx") =!= 0 && col("dy") === 0, 1L).otherwise(0L)).as("ty"))
      .select(col("n_pairs"), col("c"), col("d"), col("tx"), col("ty"),
        round((col("c") - col("d")).cast("double") /
          sqrt(((col("c") + col("d") + col("tx")) *
            (col("c") + col("d") + col("ty"))).cast("double")), 6).as("tau_b"))
  }

  private val kendallTauOracle = """
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        COUNT(*) AS x,
        SUM(CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(18,0))) AS y
      FROM orders GROUP BY 1),
    cls AS (
      SELECT CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS dx,
        CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS dy
      FROM m a JOIN m b ON a.mon < b.mon),
    agg AS (
      SELECT COUNT(*) AS n_pairs,
        CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS d,
        CAST(SUM(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
        CAST(SUM(CASE WHEN dx <> 0 AND dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty
      FROM cls)
    SELECT n_pairs, c, d, tx, ty,
      ROUND(CAST(c - d AS DOUBLE) /
        sqrt(CAST((c + d + tx) * (c + d + ty) AS DOUBLE)), 6) AS tau_b
    FROM agg"""

  /** Categorical effect-size suite over the (order priority × order
    * status) contingency: chi-square plus the normalized association
    * measures a feature-selection pass actually thresholds on —
    * Cramér's V, Tschuprow's T and Pearson's contingency coefficient.
    * The chi2 accumulates by pinned-order fold over ≤ |X|·|Y| cells
    * (the q157 discipline) from exact integer margins; every effect
    * size is then one deterministic double expression of (chi2, n, r, c).
    */
  def effectSizes(orders: DataFrame): DataFrame = {
    val cells = orders.groupBy(col("o_orderpriority").as("px"),
        col("o_orderstatus").as("sy"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint() // tiny; reused by margins + counts below
    val n = cells.agg(sum("o").as("n"))
    val dims = cells.agg(countDistinct("px").as("nr"), countDistinct("sy").as("nc"))
    contingencyChi2(cells, "px", "sy").crossJoin(broadcast(n)).crossJoin(broadcast(dims))
      .select(round(col("chi2"), 6).as("chi2"),
        ((col("nr") - 1) * (col("nc") - 1)).as("dof"),
        round(sqrt(col("chi2") / col("n") /
          least(col("nr") - 1, col("nc") - 1)), 6).as("cramers_v"),
        round(sqrt(col("chi2") / col("n") /
          sqrt(((col("nr") - 1) * (col("nc") - 1)).cast("double"))), 6)
          .as("tschuprow_t"),
        round(sqrt(col("chi2") / (col("chi2") + col("n"))), 6).as("contingency_c"))
  }

  private val effectSizesOracle = """
    WITH cells AS (
      SELECT o_orderpriority AS px, o_orderstatus AS sy, COUNT(*) AS o
      FROM orders GROUP BY 1, 2),
    r AS (SELECT px, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY px),
    c AS (SELECT sy, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY sy),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
    dims AS (SELECT CAST(COUNT(DISTINCT px) AS BIGINT) AS nr,
      CAST(COUNT(DISTINCT sy) AS BIGINT) AS nc FROM cells),
    terms AS (
      SELECT CONCAT_WS('|', px, sy) AS cell,
        pow(CAST(o AS DOUBLE) - CAST(r.r AS DOUBLE) * c.c / n.n, 2) /
          (CAST(r.r AS DOUBLE) * c.c / n.n) AS t
      FROM cells JOIN r USING (px) JOIN c USING (sy) CROSS JOIN n),
    x2 AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(t ORDER BY cell)), (s, e) -> s + e) AS chi2
      FROM terms)
    SELECT ROUND(chi2, 6) AS chi2,
      (nr - 1) * (nc - 1) AS dof,
      ROUND(sqrt(chi2 / n / LEAST(nr - 1, nc - 1)), 6) AS cramers_v,
      ROUND(sqrt(chi2 / n / sqrt(CAST((nr - 1) * (nc - 1) AS DOUBLE))), 6) AS tschuprow_t,
      ROUND(sqrt(chi2 / (chi2 + n)), 6) AS contingency_c
    FROM x2, n, dims"""

  /** Gini concentration of per-customer spend (Lorenz-curve statistic):
    * how concentrated revenue is across the customer base — the
    * inequality audit a curation pipeline runs on source contribution.
    * Computed scale-shaped: the global rank i never needs a corpus-wide
    * single-partition window — ranks decompose as (cumulative count of
    * strictly-smaller spend groups) + (row_number within the equal-spend
    * group). The first window runs over the AGGREGATED distinct-spend
    * table, the second is partitioned by spend value. All sums are exact
    * decimal cents; the final ratio rounds to 6 (unit-sized statistic —
    * wide-decimal→double conversion ulp masked per the q140 rule).
    */
  def giniConcentration(customer: DataFrame, orders: DataFrame): DataFrame = {
    val spend = customer.select(col("c_custkey"))
      .join(orders.groupBy("o_custkey")
          .agg(sum(round(col("o_totalprice") * 100).cast("decimal(18,0)")).as("cents")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"),
        coalesce(col("cents"), lit(0).cast("decimal(18,0)")).as("cents"))
    // Per-row ranks are never materialized: a tie group of cnt customers
    // at the same cents with `before` predecessors contributes
    // cents · (cnt·before + cnt(cnt+1)/2) to Σ i·cents in closed form —
    // which also removes the per-cents rank window whose zero-spend tie
    // group (customers without orders, ~1/3 of TPC-H) would funnel a
    // corpus-scale partition through one task. The distinct-cents
    // running count distributes via Dist.
    val grp = spend.groupBy("cents").agg(count(lit(1)).as("cnt"))
    val base = Dist.withRunningSum(grp, floor(col("cents") / 4096),
        Seq(col("cents")), col("cnt"), "run")
      .withColumn("before", col("run") - col("cnt"))
    base.agg(sum("cnt").as("n"),
        sum(col("cents") * col("cnt")).cast("decimal(38,0)").as("s"),
        sum(expr("""CAST(cents * (CAST(cnt AS DECIMAL(38,0)) * before
          | + CAST((cnt * (cnt + 1)) DIV 2 AS DECIMAL(38,0)))
          | AS DECIMAL(38,0))""".stripMargin)).cast("decimal(38,0)").as("si"))
      .select(col("n"),
        (col("s").cast("double") / 100.0).as("total_spend"),
        round((lit(2).cast("decimal(18,0)") * col("si") -
          (col("n") + 1).cast("decimal(18,0)") * col("s")).cast("double") /
          (col("n").cast("decimal(18,0)") * col("s")).cast("double"), 6).as("gini"))
  }

  private val giniOracle = """
    WITH spend AS (
      SELECT c_custkey, COALESCE(cents, CAST(0 AS DECIMAL(18,0))) AS cents
      FROM customer LEFT OUTER JOIN (
        SELECT o_custkey,
          SUM(CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(18,0))) AS cents
        FROM orders GROUP BY 1) o ON c_custkey = o_custkey),
    ranked AS (
      SELECT cents,
        CAST(row_number() OVER (ORDER BY cents, c_custkey) AS DECIMAL(18,0)) AS i
      FROM spend),
    agg AS (
      SELECT COUNT(*) AS n, CAST(SUM(cents) AS DECIMAL(38,0)) AS s,
        CAST(SUM(i * cents) AS DECIMAL(38,0)) AS si
      FROM ranked)
    SELECT n, CAST(s AS DOUBLE) / 100.0 AS total_spend,
      ROUND(CAST(CAST(2 AS DECIMAL(18,0)) * si -
          CAST(n + 1 AS DECIMAL(18,0)) * s AS DOUBLE) /
        CAST(CAST(n AS DECIMAL(18,0)) * s AS DOUBLE), 6) AS gini
    FROM agg"""

  /** Leave-one-group-out (jackknife) standard error of the mean order
    * value, groups = customer nations: the resampling-free uncertainty
    * estimate a pipeline attaches to its headline statistics without an
    * engine RNG (bootstrap draws would never cross-check between
    * engines; the jackknife is exactly deterministic). The group phase
    * is one broadcast-dim join + groupBy; the g leave-one-out means are
    * doubles from exact integer sums, reduced by pinned-order folds over
    * g ≤ 25 values.
    */
  def jackknifeSe(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    val byNat = orders
      .join(broadcast(customer.select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("nk"),
        sum(round(col("o_totalprice") * 100).cast("decimal(18,0)")).as("sk"))
      .localCheckpoint() // ≤ 25 rows; reused by totals + loo means
    val tot = byNat.agg(sum("nk").as("nn"),
      sum("sk").cast("decimal(38,0)").as("ss"), count(lit(1)).as("g"))
    val loo = byNat.crossJoin(broadcast(tot))
      .select(col("n_name"), col("g"),
        (((col("ss") - col("sk")).cast("double")) /
          ((col("nn") - col("nk")).cast("double")) / 100.0).as("mk"))
    val jk = loo.groupBy("g")
      .agg((osum(col("mk"), col("n_name")) / col("g")).as("mj"))
    loo.join(broadcast(jk), "g")
      .select(col("g"), col("n_name"),
        (pow(col("mk") - col("mj"), 2)).as("d2"), col("mj"))
      .groupBy("g", "mj")
      .agg(osum(col("d2"), col("n_name")).as("ssd"))
      .crossJoin(broadcast(tot.select(
        (col("ss").cast("double") / col("nn").cast("double") / 100.0).as("mean"))))
      .select(col("g"), round(col("mean"), 6).as("mean"),
        round(col("mj"), 6).as("jk_mean"),
        round(sqrt((col("g") - 1).cast("double") / col("g") * col("ssd")), 6)
          .as("jk_se"),
        round((col("g") - 1).cast("double") * (col("mj") - col("mean")), 6)
          .as("jk_bias"))
  }

  private val jackknifeOracle = """
    WITH bynat AS (
      SELECT n_name, COUNT(*) AS nk,
        SUM(CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(18,0))) AS sk
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name),
    tot AS (SELECT CAST(SUM(nk) AS BIGINT) AS nn,
      CAST(SUM(sk) AS DECIMAL(38,0)) AS ss, COUNT(*) AS g FROM bynat),
    loo AS (
      SELECT n_name, g,
        CAST(ss - sk AS DOUBLE) / CAST(nn - nk AS DOUBLE) / 100.0 AS mk
      FROM bynat, tot),
    jk AS (
      SELECT g, list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(mk ORDER BY n_name)), (s, e) -> s + e) / g AS mj
      FROM loo GROUP BY g),
    ssd AS (
      SELECT loo.g, mj, list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(pow(mk - mj, 2) ORDER BY n_name)), (s, e) -> s + e) AS ssd
      FROM loo JOIN jk ON loo.g = jk.g GROUP BY loo.g, mj)
    SELECT ssd.g, ROUND(CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE) / 100.0, 6) AS mean,
      ROUND(mj, 6) AS jk_mean,
      ROUND(sqrt(CAST(ssd.g - 1 AS DOUBLE) / ssd.g * ssd.ssd), 6) AS jk_se,
      ROUND(CAST(ssd.g - 1 AS DOUBLE) * (mj - CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE) / 100.0), 6) AS jk_bias
    FROM ssd, tot"""

  /** Two-sample Kolmogorov–Smirnov distance between the purchase and
    * view value distributions — the distribution-drift test a pipeline
    * runs between cohorts (the nonparametric complement of PSI q190 and
    * Mann–Whitney q184). The CDF difference is computed on the
    * AGGREGATED value grid (2-decimal values group exactly), and the
    * supremum runs on exact integers: max|cp·nv − cv·np| is an integer
    * before the single final division, so D is bit-identical across
    * engines and partitionings. The only ordered window runs over the
    * distinct-value grid, never the corpus.
    */
  def ksTest(events: DataFrame): DataFrame = {
    val f = events.filter(col("event_type").isin("purchase", "view"))
      .select(col("value"),
        (col("event_type") === "purchase").cast("long").as("isp"))
    val grid = f.groupBy("value")
      .agg(sum(col("isp")).as("np"), sum(lit(1L) - col("isp")).as("nv"))
    // the distinct-value grid grows with corpus richness: both running
    // CDFs distribute via ONE Dist decomposition (floor(value) buckets
    // the leading — only — sort key; one prefix table, one join)
    val cum = Dist.withRunningSums(grid, floor(col("value")),
        Seq(col("value")), Seq(col("np") -> "cp", col("nv") -> "cv"))
      .select(col("value"), col("cp"), col("cv"))
    val tot = grid.agg(sum("np").as("tp"), sum("nv").as("tv"))
    cum.crossJoin(broadcast(tot))
      .select(col("tp"), col("tv"),
        abs(col("cp") * col("tv") - col("cv") * col("tp")).as("dnum"))
      .groupBy("tp", "tv").agg(max("dnum").as("d_num"))
      .select(col("tp").as("n_purchase"), col("tv").as("n_view"), col("d_num"),
        round(col("d_num").cast("double") / (col("tp") * col("tv")).cast("double"), 6)
          .as("d_stat"),
        round(sqrt((col("tp") * col("tv")).cast("double") /
            (col("tp") + col("tv")).cast("double")) *
          (col("d_num").cast("double") / (col("tp") * col("tv")).cast("double")), 6)
          .as("ks_scaled"))
  }

  private val ksOracle = """
    WITH f AS (
      SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isp
      FROM events WHERE event_type IN ('purchase', 'view')),
    grid AS (
      SELECT value, CAST(SUM(isp) AS BIGINT) AS np,
        CAST(SUM(1 - isp) AS BIGINT) AS nv
      FROM f GROUP BY value),
    cum AS (
      SELECT SUM(np) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
        SUM(nv) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
      FROM grid),
    tot AS (SELECT CAST(SUM(np) AS BIGINT) AS tp, CAST(SUM(nv) AS BIGINT) AS tv FROM grid),
    d AS (SELECT MAX(ABS(cp * tv - cv * tp)) AS d_num FROM cum, tot)
    SELECT tp AS n_purchase, tv AS n_view, CAST(d_num AS BIGINT) AS d_num,
      ROUND(CAST(d_num AS DOUBLE) / CAST(tp * tv AS DOUBLE), 6) AS d_stat,
      ROUND(sqrt(CAST(tp * tv AS DOUBLE) / CAST(tp + tv AS DOUBLE)) *
        (CAST(d_num AS DOUBLE) / CAST(tp * tv AS DOUBLE)), 6) AS ks_scaled
    FROM d, tot"""

  /** Classical seasonal decomposition of monthly revenue (STL-lite):
    * trend = centered 13-month moving average over exact integer cents
    * (the window SUM is an exact decimal, so trend is bit-identical —
    * no float fold-order hazard), seasonal = month-of-year mean of the
    * detrended series by pinned-order fold, residual = remainder. Only
    * complete-window months are emitted. Every window is calendar-
    * bounded; the corpus appears in exactly one groupBy(month) shuffle.
    */
  def stlDecompose(orders: DataFrame): DataFrame = {
    val m = orders.groupBy(
        date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
      .agg(sum(round(col("o_totalprice") * 100).cast("decimal(18,0)")).as("cents"))
    val w13 = Window.orderBy("mon").rowsBetween(-6, 6)
    val t = m
      .withColumn("wsum", sum("cents").over(w13).cast("decimal(38,0)"))
      .withColumn("wcnt", count(lit(1)).over(w13))
      .filter(col("wcnt") === 13)
      .select(col("mon"),
        (col("cents").cast("double") / 100.0).as("rev"),
        (col("wsum").cast("double") / 13.0 / 100.0).as("trend"))
      .withColumn("detr", col("rev") - col("trend"))
      .localCheckpoint() // calendar-sized; read by the seasonal join too
    val seas = t.groupBy(month(col("mon")).as("moy"))
      .agg((osum(col("detr"), col("mon")) / count(lit(1))).as("seasonal"))
    t.join(broadcast(seas), month(col("mon")) === col("moy"))
      // floor(x*1e6+0.5)/1e6 instead of round(x, 6): at sf1 the trend
      // magnitude (~5e9) puts 1e-6 below the double's ulp, where the
      // engines' ROUND implementations disagree on the same bits; the
      // explicit floor formula runs the identical IEEE ops in both
      .select(col("mon"), col("rev"),
        expr("floor(trend * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6").as("trend"),
        expr("floor(seasonal * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6").as("seasonal"),
        expr("floor((detr - seasonal) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6").as("resid"))
      .orderBy("mon")
  }

  private val stlOracle = """
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        SUM(CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(18,0))) AS cents
      FROM orders GROUP BY 1),
    t0 AS (
      SELECT mon, cents,
        CAST(SUM(cents) OVER (ORDER BY mon ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS DECIMAL(38,0)) AS wsum,
        COUNT(*) OVER (ORDER BY mon ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS wcnt
      FROM m),
    t AS (
      SELECT mon, CAST(cents AS DOUBLE) / 100.0 AS rev,
        CAST(wsum AS DOUBLE) / 13.0 / 100.0 AS trend,
        CAST(cents AS DOUBLE) / 100.0 - CAST(wsum AS DOUBLE) / 13.0 / 100.0 AS detr
      FROM t0 WHERE wcnt = 13),
    seas AS (
      SELECT month(mon) AS moy,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(detr ORDER BY mon)), (s, e) -> s + e) / COUNT(*) AS seasonal
      FROM t GROUP BY 1)
    SELECT mon, rev,
      floor(trend * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6 AS trend,
      floor(seasonal * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6 AS seasonal,
      floor((detr - seasonal) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6 AS resid
    FROM t JOIN seas ON month(mon) = moy
    ORDER BY mon"""

  /** One-way ANOVA F over event values by event type — the k-group
    * generalization of the Welch t-test (q172): between/within sums of
    * squares from per-group exact integer power sums (2-decimal values
    * scale to exact ints, the q90/q140 discipline: SS terms assemble in
    * doubles cast from exact decimals, identical in both engines), so F
    * and its components are bit-identical. One groupBy(type) shuffle; the
    * k-sized group table reduces by pinned-order folds.
    */
  def anovaF(events: DataFrame): DataFrame = {
    val g = events
      .select(col("event_type"), round(col("value") * 100).cast("decimal(18,0)").as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("nk"), sum("v").cast("decimal(38,0)").as("sk"),
        sum(col("v") * col("v")).cast("decimal(38,0)").as("qk"))
      .localCheckpoint() // k rows; feeds totals + both SS folds
    val tot = g.agg(sum("nk").as("n"), sum("sk").cast("decimal(38,0)").as("s"),
      sum("qk").cast("decimal(38,0)").as("q"), count(lit(1)).as("k"))
    val parts = g.crossJoin(broadcast(tot))
      .select(col("event_type"),
        // group term of SSB: nk*(mk - m)^2 assembled as sk²/nk (doubles
        // from exact decimals; identical in both engines)
        (col("sk").cast("double") * col("sk").cast("double") /
          col("nk").cast("double")).as("b"))
    val ssb = parts.agg(osum(col("b"), col("event_type")).as("sum_b"))
    ssb.crossJoin(broadcast(tot))
      .select(col("k"), col("n"),
        round((col("sum_b") - col("s").cast("double") * col("s").cast("double")
          / col("n").cast("double")) / 10000.0, 6).as("ss_between"),
        round((col("q").cast("double") - col("sum_b")) / 10000.0, 6).as("ss_within"),
        round(((col("sum_b") - col("s").cast("double") * col("s").cast("double")
            / col("n").cast("double")) / (col("k") - 1).cast("double")) /
          ((col("q").cast("double") - col("sum_b")) /
            (col("n") - col("k")).cast("double")), 6).as("f_stat"))
  }

  private val anovaOracle = """
    WITH g AS (
      SELECT event_type, COUNT(*) AS nk,
        CAST(SUM(CAST(ROUND(value * 100, 0) AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sk,
        CAST(SUM(CAST(ROUND(value * 100, 0) AS DECIMAL(18,0))
          * CAST(ROUND(value * 100, 0) AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS qk
      FROM events GROUP BY event_type),
    tot AS (SELECT CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(sk) AS DECIMAL(38,0)) AS s,
      CAST(SUM(qk) AS DECIMAL(38,0)) AS q, COUNT(*) AS k FROM g),
    ssb AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE) / CAST(nk AS DOUBLE)
          ORDER BY event_type)), (s, e) -> s + e) AS sum_b
      FROM g)
    SELECT k, n,
      ROUND((sum_b - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 10000.0, 6) AS ss_between,
      ROUND((CAST(q AS DOUBLE) - sum_b) / 10000.0, 6) AS ss_within,
      ROUND(((sum_b - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE)) /
        ((CAST(q AS DOUBLE) - sum_b) / CAST(n - k AS DOUBLE)), 6) AS f_stat
    FROM ssb, tot"""

  /** Classifier-calibration audit — the reliability diagram behind every
    * "is the quality-filter score trustworthy" review: scores (value
    * normalized by the global max, a pseudo-probability) bucket into 10
    * equal-width bins by pure integer arithmetic (c*10 div maxc — no
    * float at the bin edge), and each bin reports mean predicted p vs
    * observed positive rate plus the |gap|. Expected calibration error
    * folds the ≤10 bin gaps in pinned bin order; the Brier score
    * assembles from exact integer power sums (Σc, Σc², Σ_{y=1}c), so
    * every float is a ratio of exact integers. One groupBy(bin) shuffle
    * over score-cents; the bin table is 10 rows.
    */
  def scoreCalibration(events: DataFrame): DataFrame = {
    val mx = events.agg(max(round(col("value") * 100).cast("long")).as("maxc"))
    val rows = events.crossJoin(broadcast(mx))
      .select(round(col("value") * 100).cast("long").as("c"), col("maxc"),
        (col("event_type") === "purchase").cast("long").as("y"))
      .withColumn("bin", least(expr("c * 10 div maxc"), lit(9L)))
    val bins = rows.groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("np"),
        sum("c").cast("decimal(38,0)").as("sc"),
        sum(col("c") * col("c")).cast("decimal(38,0)").as("sq"),
        sum(col("y") * col("c")).cast("decimal(38,0)").as("spos"),
        max("maxc").as("maxc"))
      .localCheckpoint() // 10 rows; feeds totals, ECE fold and output
    val tot = bins.agg(sum("n").as("nt"), sum("np").as("npt"),
      sum("sq").cast("decimal(38,0)").as("sqt"),
      sum("spos").cast("decimal(38,0)").as("spost"), max("maxc").as("maxc"))
    val gapped = bins
      .withColumn("mean_p", col("sc").cast("double") / col("n").cast("double")
        / col("maxc").cast("double"))
      .withColumn("obs_rate", col("np").cast("double") / col("n").cast("double"))
      .withColumn("gap", abs(col("mean_p") - col("obs_rate")))
    val ece = gapped.crossJoin(broadcast(tot.select("nt")))
      .select(col("bin"), (col("n").cast("double") / col("nt").cast("double") *
        col("gap")).as("t"))
      .agg(osum(col("t"), col("bin")).as("ece"))
    val summary = tot.crossJoin(broadcast(ece))
      .select(round(col("ece"), 6).as("ece"),
        round((col("sqt").cast("double") /
            (col("maxc").cast("double") * col("maxc").cast("double")) -
          lit(2.0) * col("spost").cast("double") / col("maxc").cast("double") +
          col("npt").cast("double")) / col("nt").cast("double"), 6).as("brier"))
    gapped.crossJoin(broadcast(summary))
      .select(col("bin"), col("n"), round(col("mean_p"), 6).as("mean_p"),
        round(col("obs_rate"), 6).as("obs_rate"), round(col("gap"), 6).as("gap"),
        col("ece"), col("brier"))
      .orderBy("bin")
  }

  private val calibrationOracle = """
    WITH mx AS (
      SELECT MAX(CAST(ROUND(value * 100, 0) AS BIGINT)) AS maxc FROM events),
    rows0 AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c, maxc,
        CAST(event_type = 'purchase' AS BIGINT) AS y
      FROM events, mx),
    rows1 AS (
      SELECT *, LEAST((c * 10) // maxc, 9) AS bin FROM rows0),
    bins AS (
      SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS np,
        CAST(SUM(c) AS DECIMAL(38,0)) AS sc,
        CAST(SUM(c * c) AS DECIMAL(38,0)) AS sq,
        CAST(SUM(y * c) AS DECIMAL(38,0)) AS spos,
        MAX(maxc) AS maxc
      FROM rows1 GROUP BY bin),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(np) AS BIGINT) AS npt,
        CAST(SUM(sq) AS DECIMAL(38,0)) AS sqt,
        CAST(SUM(spos) AS DECIMAL(38,0)) AS spost, MAX(maxc) AS maxc
      FROM bins),
    gapped AS (
      SELECT bin, n,
        CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / CAST(maxc AS DOUBLE) AS mean_p,
        CAST(np AS DOUBLE) / CAST(n AS DOUBLE) AS obs_rate,
        ABS(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / CAST(maxc AS DOUBLE)
          - CAST(np AS DOUBLE) / CAST(n AS DOUBLE)) AS gap
      FROM bins),
    ece AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) * gap ORDER BY bin)),
        (s, e) -> s + e) AS ece
      FROM gapped, tot),
    summary AS (
      SELECT ROUND(ece, 6) AS ece,
        ROUND((CAST(sqt AS DOUBLE) / (CAST(maxc AS DOUBLE) * CAST(maxc AS DOUBLE))
          - 2.0 * CAST(spost AS DOUBLE) / CAST(maxc AS DOUBLE)
          + CAST(npt AS DOUBLE)) / CAST(nt AS DOUBLE), 6) AS brier
      FROM tot, ece)
    SELECT bin, n, ROUND(mean_p, 6) AS mean_p, ROUND(obs_rate, 6) AS obs_rate,
      ROUND(gap, 6) AS gap, ece, brier
    FROM gapped, summary ORDER BY bin"""

  /** Poisson-style bootstrap confidence interval for the mean order
    * value — the single-pass resampling scheme used at scales where
    * sampling WITH replacement is impossible (per-row replicate weights
    * instead of materialized resamples). Weights are deterministic
    * Binomial(4, 1/4) draws (mean 1) read off four md5 hex digits —
    * both engines hash the identical string, so every replicate
    * estimate is bit-identical. Hashing is BATCHED: ceil(2B/32) md5s
    * per row (keyed 'orderkey:1..3'), each replicate slicing a 2-digit
    * window whose four bit-pairs give the four Bernoulli(1/4) trials —
    * hashing is the dominant cost of the whole query; the
    * per-(row,replicate) formulation paid it B times per row (measured
    * 13% of the entire 228-query bench at a 10x corpus), and the
    * 4-digit-per-replicate layout paid 5 md5s where 3 suffice.
    * The replicate explosion is a map-side ×B flatMap (no shuffle);
    * per-replicate sums reduce in one groupBy(r); the B-row estimate
    * table reduces by pinned-order folds. Spread B higher and this is
    * the exact shape of the production large-scale bootstrap.
    */
  def bootstrapCi(orders: DataFrame, b: Int = 40): DataFrame = {
    // 2 hex digits per replicate: each digit's two BIT-PAIRS are two
    // independent Bernoulli(1/4) trials (top pair zero <=> digit < 4 <=>
    // char in 0-3; bottom pair zero <=> digit mod 4 = 0 <=> char in
    // 0/4/8/c), so Binomial(4, 1/4) needs 8 bits, not 4 digits — 3 md5s
    // per row instead of 5 (hashing dominates this query's cost)
    val nHash = (2 * b + 31) / 32
    // one native pass extracts ALL B weights from the concatenated hash
    // (graft.functions.BootstrapWeights — bit-identical to the former
    // per-replicate substr+isin chain, which re-ran ~10 interpreted
    // string ops per (row, replicate)); posexplode is the map-side ×B
    val reps = orders
      .select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("decimal(18,0)").as("cents"))
      // the ×B expansion multiplies work 40-fold, so its parallelism must
      // not be the SCAN's (a compact parquet source can be one split —
      // measured one core doing the whole 6M-row expansion at sf0.1):
      // spread the narrow (k, cents) rows across all cores first. The
      // explicit count pins the fan-out against AQE's small-shuffle
      // coalescing (the pre-explode frame is tiny BY DESIGN; post-explode
      // it is 40x).
      .repartition(orders.sparkSession.sessionState.conf.numShufflePartitions, col("k"))
      .withColumn("h", concat((1 to nHash).map(i =>
        md5(concat_ws(":", col("k"), lit(i)))): _*))
      .select(col("cents"),
        posexplode(graft.functions.BootstrapWeights.bootstrap_weights(col("h"), b)))
      .withColumnRenamed("pos", "r0").withColumnRenamed("col", "w")
      .withColumn("r", col("r0") + 1)
    val est = reps.groupBy("r")
      .agg((sum(col("w") * col("cents")).cast("decimal(38,0)").cast("double") /
        sum("w").cast("double") / 100.0).as("est"))
      .localCheckpoint() // B rows; feeds both folds + the percentile
    val folds = est.agg(count(lit(1)).as("nb"),
      osum(col("est"), col("r")).as("s1"),
      osum(col("est") * col("est"), col("r")).as("s2"),
      expr("percentile(est, 0.025)").as("lo"),
      expr("percentile(est, 0.975)").as("hi"))
    val full = orders.agg(count(lit(1)).as("n"),
      (sum(round(col("o_totalprice") * 100).cast("decimal(18,0)"))
        .cast("decimal(38,0)").cast("double") / count(lit(1)).cast("double")
        / 100.0).as("sample_mean"))
    full.crossJoin(broadcast(folds))
      .select(col("n"), col("nb").as("b"), round(col("sample_mean"), 6).as("sample_mean"),
        round(col("s1") / col("nb").cast("double"), 6).as("boot_mean"),
        round(sqrt((col("s2") - col("s1") * col("s1") / col("nb").cast("double")) /
          (col("nb") - 1).cast("double")), 6).as("boot_se"),
        round(col("lo"), 6).as("ci_lo"), round(col("hi"), 6).as("ci_hi"))
  }

  private val bootstrapOracle = """
    WITH hashed AS (
      SELECT o_orderkey AS k,
        CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(18,0)) AS cents,
        md5(o_orderkey || ':1') || md5(o_orderkey || ':2')
          || md5(o_orderkey || ':3') AS h
      FROM orders),
    reps AS (
      SELECT k, cents, h, unnest(range(1, 41)) AS r FROM hashed),
    weighted AS (
      SELECT r, cents,
        CAST(substr(h, (r - 1) * 2 + 1, 1) IN ('0','1','2','3') AS BIGINT)
        + CAST(substr(h, (r - 1) * 2 + 1, 1) IN ('0','4','8','c') AS BIGINT)
        + CAST(substr(h, (r - 1) * 2 + 2, 1) IN ('0','1','2','3') AS BIGINT)
        + CAST(substr(h, (r - 1) * 2 + 2, 1) IN ('0','4','8','c') AS BIGINT) AS w
      FROM reps),
    est AS (
      SELECT r, CAST(CAST(SUM(w * cents) AS DECIMAL(38,0)) AS DOUBLE)
        / CAST(SUM(w) AS DOUBLE) / 100.0 AS est
      FROM weighted GROUP BY r),
    folds AS (
      SELECT COUNT(*) AS nb,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list(est ORDER BY r)),
          (s, e) -> s + e) AS s1,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list(est * est ORDER BY r)),
          (s, e) -> s + e) AS s2,
        quantile_cont(est, 0.025) AS lo,
        quantile_cont(est, 0.975) AS hi
      FROM est),
    fullagg AS (
      SELECT COUNT(*) AS n,
        CAST(CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(18,0)))
          AS DECIMAL(38,0)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100.0 AS sample_mean
      FROM orders)
    SELECT n, nb AS b, ROUND(sample_mean, 6) AS sample_mean,
      ROUND(s1 / CAST(nb AS DOUBLE), 6) AS boot_mean,
      ROUND(sqrt((s2 - s1 * s1 / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE)), 6) AS boot_se,
      ROUND(lo, 6) AS ci_lo, ROUND(hi, 6) AS ci_hi
    FROM fullagg, folds"""

  /** CUSUM changepoint detection over the daily revenue series — the
    * standard "did the level shift, and when" monitor. The cumulative
    * sum stays EXACT integer cents end-to-end: Tᵢ = nd·cumsumᵢ − i·S is
    * assembled in DECIMAL(38,0) (window cumsum of decimals is
    * order-exact, no float association), and only the final
    * standardized magnitude Tᵢ/nd/σ touches doubles — identical ratios
    * of identical integers in both engines. The day-grain window is
    * calendar-bounded (one partition of ~#days rows, the q170/q213
    * series discipline), and the argmax row travels alone.
    */
  def cusumChangepoint(orders: DataFrame): DataFrame = {
    val d = orders.groupBy(col("o_orderdate").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("decimal(18,0)")).as("cents"))
    val tot = d.agg(count(lit(1)).as("nd"),
      sum("cents").cast("decimal(38,0)").as("s"),
      sum(col("cents") * col("cents")).cast("decimal(38,0)").as("q"))
    val w = Window.orderBy("day")
    d.withColumn("i", row_number().over(w).cast("long"))
      .withColumn("cs", sum("cents").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .withColumn("t", (col("cs").cast("decimal(38,0)") * col("nd") -
        col("i") * col("s")).cast("decimal(38,0)"))
      .orderBy(abs(col("t")).desc, col("day").asc)
      .limit(1)
      .select(col("nd").as("n_days"), col("day").as("cp_day"),
        round(abs(col("t")).cast("double") / col("nd").cast("double") /
          sqrt((col("q").cast("double") -
            col("s").cast("double") * col("s").cast("double") /
              col("nd").cast("double")) / (col("nd") - 1).cast("double")), 6)
          .as("max_cusum"),
        round(col("s").cast("double") / col("nd").cast("double") / 100.0, 6)
          .as("mean_daily"),
        round(sqrt((col("q").cast("double") -
          col("s").cast("double") * col("s").cast("double") /
            col("nd").cast("double")) / (col("nd") - 1).cast("double")) / 100.0, 6)
          .as("std_daily"))
  }

  private val cusumOracle = """
    WITH d AS (
      SELECT o_orderdate AS day,
        SUM(CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(18,0))) AS cents
      FROM orders GROUP BY 1),
    tot AS (
      SELECT COUNT(*) AS nd, CAST(SUM(cents) AS DECIMAL(38,0)) AS s,
        CAST(SUM(cents * cents) AS DECIMAL(38,0)) AS q
      FROM d),
    cum AS (
      SELECT day,
        CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
        CAST(SUM(cents) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,0)) AS cs
      FROM d),
    t AS (
      SELECT day, CAST(cs * nd - i * s AS DECIMAL(38,0)) AS t, nd, s, q
      FROM cum, tot)
    SELECT nd AS n_days, day AS cp_day,
      ROUND(CAST(ABS(t) AS DOUBLE) / CAST(nd AS DOUBLE) /
        sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
          / CAST(nd AS DOUBLE)) / CAST(nd - 1 AS DOUBLE)), 6) AS max_cusum,
      ROUND(CAST(s AS DOUBLE) / CAST(nd AS DOUBLE) / 100.0, 6) AS mean_daily,
      ROUND(sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        / CAST(nd AS DOUBLE)) / CAST(nd - 1 AS DOUBLE)) / 100.0, 6) AS std_daily
    FROM t ORDER BY ABS(t) DESC, day ASC LIMIT 1"""

  /** Holt linear (double-exponential) smoothing of monthly revenue —
    * level+trend forecasting one notch past the EWMA (q198) and one
    * below STL (q213). Inherently sequential, so it runs as ONE
    * pinned-order fold with a 2-slot array accumulator [level, trend]:
    * seed = [v₁, 0], then l' = αx + (1−α)(l+b), b' = β(l'−l) + (1−β)b
    * (α=0.3, β=0.1), the same month-ordered left fold in both engines
    * (DuckDB folds [v,0] element pairs since list_reduce has no seed
    * parameter — the first element IS the seed). The series is
    * calendar-bounded; everything before the fold is exact decimal.
    */
  def holtTrend(orders: DataFrame): DataFrame = {
    val m = orders
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
      .agg((sum(round(col("o_totalprice") * 100).cast("decimal(18,0)"))
        .cast("double") / 100.0).as("v"))
    m.agg(count(lit(1)).as("n_months"), sortedBy(col("v"), col("mon")).as("vs"))
      .withColumn("st", expr("""aggregate(
            slice(vs, 2, n_months - 1),
            array(vs[0], cast(0.0 as double)),
            (s, x) -> array(
              cast(0.3 as double) * x + cast(0.7 as double) * (s[0] + s[1]),
              cast(0.1 as double) * (cast(0.3 as double) * x
                + cast(0.7 as double) * (s[0] + s[1]) - s[0])
                + cast(0.9 as double) * s[1]))"""))
      // explicit floor-rounding for the q213 reason: level/forecast
      // magnitudes at sf1 put 1e-6 below the double ulp, where the
      // engines' ROUND implementations disagree on identical bits
      .select(col("n_months"),
        expr("floor(st[0] * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6").as("level"),
        expr("floor(st[1] * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6").as("trend"),
        expr("floor((st[0] + st[1]) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6").as("forecast_1"),
        expr("floor((st[0] + 2.0 * st[1]) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6").as("forecast_2"),
        expr("floor((st[0] + 3.0 * st[1]) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6").as("forecast_3"))
  }

  private val holtOracle = """
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(18,0))) AS DOUBLE)
          / 100.0 AS v
      FROM orders GROUP BY 1),
    st AS (
      SELECT COUNT(*) AS n_months,
        list_reduce(
          list_transform(list(v ORDER BY mon), e -> [e, CAST(0 AS DOUBLE)]),
          (s, x) -> [
            CAST(0.3 AS DOUBLE) * x[1] + CAST(0.7 AS DOUBLE) * (s[1] + s[2]),
            CAST(0.1 AS DOUBLE) * (CAST(0.3 AS DOUBLE) * x[1]
              + CAST(0.7 AS DOUBLE) * (s[1] + s[2]) - s[1])
              + CAST(0.9 AS DOUBLE) * s[2]]) AS st
      FROM m)
    SELECT n_months,
      floor(st[1] * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6 AS level,
      floor(st[2] * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6 AS trend,
      floor((st[1] + st[2]) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6 AS forecast_1,
      floor((st[1] + 2.0 * st[2]) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6 AS forecast_2,
      floor((st[1] + 3.0 * st[2]) * 1e6 + CAST(0.5 AS DOUBLE)) / 1e6 AS forecast_3
    FROM st"""

  override def queries: Seq[Q] = Seq(
    Q("q224_score_calibration",
      (s, d) => scoreCalibration(events(s, d)), Some(calibrationOracle)),
    Q("q225_bootstrap_ci",
      (s, d) => bootstrapCi(orders(s, d)), Some(bootstrapOracle)),
    Q("q226_cusum_changepoint",
      (s, d) => cusumChangepoint(orders(s, d)), Some(cusumOracle)),
    Q("q228_holt_trend",
      (s, d) => holtTrend(orders(s, d)), Some(holtOracle)),
    Q("q218_anova_f",
      (s, d) => anovaF(events(s, d)), Some(anovaOracle)),
    Q("q204_theilsen_trend",
      (s, d) => theilSen(orders(s, d)), Some(theilSenOracle)),
    Q("q205_kendall_tau",
      (s, d) => kendallTau(orders(s, d)), Some(kendallTauOracle)),
    Q("q206_effect_sizes",
      (s, d) => effectSizes(orders(s, d)), Some(effectSizesOracle)),
    Q("q207_gini_concentration",
      (s, d) => giniConcentration(customer(s, d), orders(s, d)), Some(giniOracle)),
    Q("q211_jackknife_se",
      (s, d) => jackknifeSe(orders(s, d), customer(s, d), nation(s, d)),
      Some(jackknifeOracle)),
    Q("q212_ks_test",
      (s, d) => ksTest(events(s, d)), Some(ksOracle)),
    Q("q213_stl_decompose",
      (s, d) => stlDecompose(orders(s, d)), Some(stlOracle)),
    Q("q202_mutual_information",
      (s, d) => mutualInformation(orders(s, d)), Some(mutualInfoOracle)),
    Q("q198_ewma",
      (s, d) => ewmaSmooth(events(s, d)), Some(ewmaOracle)),
    Q("q199_autocorrelation",
      (s, d) => autocorrelation(events(s, d)), Some(acfOracle)),
    Q("q200_group_impute",
      (s, d) => groupImpute(events(s, d)), Some(groupImputeOracle)),
    Q("q201_target_encoding",
      (s, d) => targetEncoding(customer(s, d), orders(s, d)),
      Some(targetEncodingOracle)),
    Q("q193_winsorize",
      (s, d) => winsorize(events(s, d)), Some(winsorizeOracle)),
    Q("q194_benford",
      (s, d) => benfordAudit(orders(s, d)), Some(benfordOracle)),
    Q("q195_weighted_median",
      (s, d) => weightedMedian(lineitem(s, d)), Some(weightedMedianOracle)),
    Q("q196_spearman",
      (s, d) => spearmanCorr(lineitem(s, d)), Some(spearmanOracle)),
    Q("q197_journey_paths",
      (s, d) => journeyPaths(events(s, d)), Some(journeyOracle)),
    Q("q190_psi_drift",
      (s, d) => psiDrift(events(s, d)), Some(psiOracle)),
    Q("q191_join_size_estimate",
      (s, d) => joinSizeEstimate(lineitem(s, d), orders(s, d)),
      Some(joinSizeOracle)),
    Q("q184_mann_whitney",
      (s, d) => mannWhitney(events(s, d)), Some(mannWhitneyOracle)),
    Q("q176_k_anonymity",
      (s, d) => kAnonymity(customer(s, d), nation(s, d)), Some(kAnonymityOracle)),
    Q("q179_ols_trend",
      (s, d) => olsTrend(events(s, d)), Some(olsOracle)),
    Q("q170_mom_growth",
      (s, d) => momGrowth(orders(s, d)), Some(momGrowthOracle)),
    Q("q171_basket_lift",
      (s, d) => basketLift(lineitem(s, d), part(s, d)), Some(basketLiftOracle)),
    Q("q172_welch_ttest",
      (s, d) => welchTtest(events(s, d)), Some(welchOracle)),
    Q("q173_dow_seasonality",
      (s, d) => dowSeasonality(events(s, d)), Some(dowOracle)),
    Q("q174_triangle_count",
      (s, d) => triangleCount(lineitem(s, d), orders(s, d),
        supplier(s, d), customer(s, d)), Some(triangleOracle)),
    Q("q168_dwell_histogram",
      (s, d) => dwellHistogram(events(s, d)), Some(dwellOracle)),
    Q("q169_multi_pivot",
      (s, d) => multiPivot(orders(s, d), customer(s, d)), Some(multiPivotOracle)),
    Q("q163_retention_cohorts",
      (s, d) => retentionCohorts(events(s, d)), Some(retentionOracle)),
    Q("q164_rolling_uniques_hll",
      (s, d) => rollingUniquesHll(events(s, d)), None),
    Q("q160_rfm_segments",
      (s, d) => rfmSegments(orders(s, d)), Some(rfmOracle)),
    Q("q161_skew_report",
      (s, d) => skewReport(lineitem(s, d), orders(s, d)), Some(skewOracle)),
    Q("q157_chi2_independence",
      (s, d) => chi2Independence(documents(s, d)), Some(chi2Oracle)),
    Q("q158_column_stats",
      (s, d) => columnStats(lineitem(s, d), orders(s, d), documents(s, d)),
      Some(columnStatsOracle)),
    Q("q159_event_transitions",
      (s, d) => eventTransitions(events(s, d)), Some(eventTransitionsOracle)),
    Q("q154_weighted_sample",
      (s, d) => weightedSample(documents(s, d)), Some(weightedSampleOracle)),
    Q("q155_trimmed_mean",
      (s, d) => trimmedMean(events(s, d)), Some(trimmedMeanOracle)),
    Q("q156_max_concurrency",
      (s, d) => maxConcurrency(orders(s, d)), Some(maxConcurrencyOracle)),
    Q("q151_skyline_parts",
      (s, d) => skylineParts(lineitem(s, d)), Some(skylineOracle)),
    Q("q152_equidepth_bins",
      (s, d) => equidepthBins(lineitem(s, d)), Some(equidepthOracle)),
    Q("q153_neyman_alloc",
      (s, d) => neymanAllocation(events(s, d)), Some(neymanOracle)),
    Q("q145_rolling_uniques",
      (s, d) => rollingUniques(events(s, d)), Some(rollingUniquesOracle)),
    Q("q146_twap",
      (s, d) => twap(events(s, d)), Some(twapOracle)),
    Q("q148_running_zscore",
      (s, d) => runningZscore(events(s, d)), Some(runningZscoreOracle)),
    Q("q140_corr_matrix",
      (s, d) => corrMatrix(lineitem(s, d)), Some(corrOracle)),
    Q("q132_outlier_mad",
      (s, d) => outlierMad(events(s, d)), Some(outlierMadOracle)),
    Q("q139_dq_expectations",
      (s, d) => dqExpectations(orders(s, d), lineitem(s, d), customer(s, d)),
      Some(dqOracle)),
    Q("q134_activity_islands",
      (s, d) => activityIslands(events(s, d)), Some(islandsOracle)),
    Q("q133_trade_pagerank",
      (s, d) => tradePageRank(lineitem(s, d), orders(s, d),
        supplier(s, d), customer(s, d), nation(s, d)), Some(pageRankOracle)),
  )
}
