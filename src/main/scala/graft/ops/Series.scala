package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Num._
import graft.Tables._

/** Time-series / distribution diagnostics, round 8 of the extension
  * surface (none exist in the reference): the Wald–Wolfowitz runs test,
  * inter-arrival (renewal) statistics with a memorylessness check, a
  * literal-table periodogram, Durbin–Watson residual autocorrelation,
  * the Theil inequality index with between/within decomposition, a
  * sliding-window rate-limit audit, federated-quantile error
  * measurement, cohort LTV curves, and Haar-wavelet energy compaction.
  *
  * Exactness discipline: medians are computed rank-wise as TWICE the
  * median (sum of the two middle order statistics — an exact integer /
  * decimal, never an interpolated float), trig coefficients are shared
  * literal tables injected into BOTH engines' plans, and every double
  * sum goes through decimal casts. Daily/monthly rollups collapse the
  * fact table in one shuffle; everything after runs on calendar-bounded
  * frames.
  */
object Series extends QueryModule {

  // ---------------------------------------------------------------- q300

  /** Wald–Wolfowitz runs test on daily revenue vs its exact median:
    * too few runs = trending/sticky series, too many = oscillation. The
    * median is rank-exact (twice-median trick); the z-statistic is one
    * fixed-shape double expression over exact BIGINT counts.
    */
  def runsTest(orders: DataFrame): DataFrame = {
    val daily = orders.groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec(col("o_totalprice"), 2)).as("rev"))
    // twice-median trick: med2 = x_((n+1) div 2) + x_(n div 2 + 1) — the
    // two middle order statistics summed (the SAME one twice when n is
    // odd), always an exact decimal, never an interpolated float
    val ranked = daily
      .withColumn("rnk", row_number().over(Window.orderBy(col("rev"), col("day"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    val med = ranked.agg(
      (sum(when(expr("rnk = (n + 1) div 2"), col("rev")))
        + sum(when(expr("rnk = n div 2 + 1"), col("rev")))).as("med2"))
    val signed = daily.crossJoin(broadcast(med))
      .filter(col("rev") * 2 =!= col("med2"))
      .withColumn("above", (col("rev") * 2 > col("med2")).cast("int"))
      .withColumn("chg",
        when(lag("above", 1).over(Window.orderBy("day")).isNull, 1)
          .when(col("above") =!= lag("above", 1).over(Window.orderBy("day")), 1)
          .otherwise(0))
    signed.agg(
        count(lit(1)).as("n_days"),
        sum("above").cast("long").as("n_above"),
        sum(lit(1) - col("above")).cast("long").as("n_below"),
        sum("chg").cast("long").as("runs"))
      .withColumn("e_runs", expr(
        "1.0 + 2.0 * n_above * n_below / CAST(n_above + n_below AS DOUBLE)"))
      .withColumn("v_runs", expr(
        """CAST(2 * n_above * n_below * (2 * n_above * n_below - n_above - n_below) AS DOUBLE)
          | / (CAST((n_above + n_below) AS DOUBLE) * (n_above + n_below)
          |    * (n_above + n_below - 1))""".stripMargin))
      .select(col("n_days"), col("n_above"), col("n_below"), col("runs"),
        round(col("e_runs"), 6).as("e_runs"),
        round((col("runs") - col("e_runs")) / sqrt(col("v_runs")), 6).as("z"))
  }

  private val runsOracle = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1),
    ranked AS (
      SELECT day, rev, ROW_NUMBER() OVER (ORDER BY rev, day) AS rnk,
        COUNT(*) OVER () AS n
      FROM daily),
    med AS (
      SELECT SUM(CASE WHEN rnk = (n + 1) // 2 THEN rev END)
           + SUM(CASE WHEN rnk = n // 2 + 1 THEN rev END) AS med2
      FROM ranked),
    signed AS (
      SELECT day, CAST(rev * 2 > med2 AS INT) AS above
      FROM daily, med WHERE rev * 2 <> med2),
    runs AS (
      SELECT above,
        CASE WHEN LAG(above) OVER (ORDER BY day) IS NULL THEN 1
             WHEN above <> LAG(above) OVER (ORDER BY day) THEN 1
             ELSE 0 END AS chg
      FROM signed),
    agg AS (
      SELECT COUNT(*) AS n_days, CAST(SUM(above) AS BIGINT) AS n_above,
        CAST(SUM(1 - above) AS BIGINT) AS n_below,
        CAST(SUM(chg) AS BIGINT) AS runs
      FROM runs),
    st AS (
      SELECT *,
        1.0 + 2.0 * n_above * n_below / CAST(n_above + n_below AS DOUBLE) AS e_runs,
        CAST(2 * n_above * n_below * (2 * n_above * n_below - n_above - n_below) AS DOUBLE)
          / (CAST((n_above + n_below) AS DOUBLE) * (n_above + n_below)
             * (n_above + n_below - 1)) AS v_runs
      FROM agg)
    SELECT n_days, n_above, n_below, runs, ROUND(e_runs, 6) AS e_runs,
      ROUND((runs - e_runs) / sqrt(v_runs), 6) AS z
    FROM st"""

  // ---------------------------------------------------------------- q301

  /** Inter-arrival (renewal process) statistics over per-user event
    * gaps: mean, coefficient of variation, the exact rank median, and
    * the memorylessness check P(X>2m)/P(X>m) — exactly 0.5 for an
    * exponential process, the queueing-theory sanity test behind
    * capacity planning. Gaps are exact integer microseconds; squares go
    * through DECIMAL(38,0) (a 30-day gap squared overflows BIGINT).
    */
  def interarrival(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val gaps = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag("us", 1).over(byUser))
      .filter(col("gap").isNotNull)
    // the exact-median rank distributes via the two-level bucket
    // decomposition (gap DIV 2^20 ≈ 1.05 s buckets) — rnk/n identical
    // to the flat global-window form the oracle keeps
    val ranked = Dist.withRowNumber(gaps,
      expr("gap DIV 1048576"),
      Seq(col("gap"), col("user_id"), col("event_id")),
      "rnk", Some("n"))
    val med = ranked.agg( // twice the median gap, exact integer
      (sum(when(expr("rnk = (n + 1) div 2"), col("gap")))
        + sum(when(expr("rnk = n div 2 + 1"), col("gap")))).cast("long").as("med2"))
    gaps.crossJoin(broadcast(med)).agg(
        count(lit(1)).as("n_gaps"),
        sum("gap").as("s1"),
        sum((col("gap").cast("decimal(20,0)") * col("gap"))
          .cast("decimal(38,0)")).as("s2"),
        max("med2").as("med2"),
        sum((col("gap") * 2 > col("med2")).cast("long")).as("c_m"),
        sum((col("gap") > col("med2")).cast("long")).as("c_2m"))
      .select(col("n_gaps"),
        round(col("s1").cast("double") / col("n_gaps").cast("double"), 2)
          .as("mean_us"),
        round(
          sqrt(col("s2").cast("double") / col("n_gaps")
            - (col("s1").cast("double") / col("n_gaps"))
              * (col("s1").cast("double") / col("n_gaps")))
            / (col("s1").cast("double") / col("n_gaps")), 6).as("cv"),
        (col("med2").cast("double") / 2).as("median_us"),
        round(col("c_m").cast("double") / col("n_gaps").cast("double"), 6)
          .as("p_gt_median"),
        round(col("c_2m").cast("double") / col("n_gaps").cast("double"), 6)
          .as("p_gt_2median"),
        round(col("c_2m").cast("double") / col("c_m").cast("double"), 6)
          .as("memoryless_ratio"))
  }

  private val interarrivalOracle = """
    WITH gaps AS (
      SELECT user_id, event_id,
        epoch_us(ts) - LAG(epoch_us(ts))
          OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
      FROM events),
    g AS (SELECT * FROM gaps WHERE gap IS NOT NULL),
    ranked AS (
      SELECT gap, ROW_NUMBER() OVER (ORDER BY gap, user_id, event_id) AS rnk,
        COUNT(*) OVER () AS n
      FROM g),
    med AS (
      SELECT CAST(SUM(CASE WHEN rnk = (n + 1) // 2 THEN gap END)
                + SUM(CASE WHEN rnk = n // 2 + 1 THEN gap END) AS BIGINT) AS med2
      FROM ranked),
    agg AS (
      SELECT COUNT(*) AS n_gaps, CAST(SUM(gap) AS BIGINT) AS s1,
        CAST(SUM(CAST(gap AS HUGEINT) * gap) AS DECIMAL(38,0)) AS s2,
        MAX(med2) AS med2,
        CAST(SUM(CASE WHEN gap * 2 > med2 THEN 1 ELSE 0 END) AS BIGINT) AS c_m,
        CAST(SUM(CASE WHEN gap > med2 THEN 1 ELSE 0 END) AS BIGINT) AS c_2m
      FROM g, med)
    SELECT n_gaps,
      ROUND(CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE), 2) AS mean_us,
      ROUND(sqrt(CAST(s2 AS DOUBLE) / n_gaps
        - (CAST(s1 AS DOUBLE) / n_gaps) * (CAST(s1 AS DOUBLE) / n_gaps))
        / (CAST(s1 AS DOUBLE) / n_gaps), 6) AS cv,
      CAST(med2 AS DOUBLE) / 2 AS median_us,
      ROUND(CAST(c_m AS DOUBLE) / CAST(n_gaps AS DOUBLE), 6) AS p_gt_median,
      ROUND(CAST(c_2m AS DOUBLE) / CAST(n_gaps AS DOUBLE), 6) AS p_gt_2median,
      ROUND(CAST(c_2m AS DOUBLE) / CAST(c_m AS DOUBLE), 6) AS memoryless_ratio
    FROM agg"""

  // ---------------------------------------------------------------- q302

  /** Periodogram of the daily event-count series at candidate periods
    * 2..10 days: power_p = (Σ c_t·cos(2πt/p))² + (Σ c_t·sin(2πt/p))².
    * The trig values are a LITERAL table generated once in Scala and
    * injected into both engines' plans as identical decimal literals —
    * the only way to make libm-vs-JVM cos/sin a non-issue. Products are
    * exact-decimal summed, so partial-aggregation order cannot move a
    * bit. One shuffle to the daily rollup; the period dimension is ×9.
    */
  private def trigCase(fn: Double => Double): String = {
    val branches = for { p <- 2 to 10; r <- 0 until p } yield {
      val v = fn(2.0 * math.Pi * r / p)
      val lit = String.format(java.util.Locale.ROOT, "%.17g", Double.box(v))
      s"WHEN p = $p AND r = $r THEN CAST($lit AS DOUBLE)"
    }
    s"CASE ${branches.mkString(" ")} ELSE 0.0 END"
  }
  private val cosCase = trigCase(math.cos)
  private val sinCase = trigCase(math.sin)

  def periodogram(events: DataFrame): DataFrame = {
    val daily = events.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val t0 = daily.agg(min("day").as("d0"))
    val withT = daily.crossJoin(broadcast(t0))
      .select(datediff(col("day"), col("d0")).as("t"), col("c"))
      .select(col("t"), col("c"),
        explode(expr("sequence(2, 10)")).as("p"))
      .withColumn("r", col("t") % col("p"))
    withT
      .withColumn("tc", expr(s"CAST(CAST(c AS DOUBLE) * ($cosCase) AS DECIMAL(28,10))"))
      .withColumn("ts_", expr(s"CAST(CAST(c AS DOUBLE) * ($sinCase) AS DECIMAL(28,10))"))
      .groupBy("p")
      .agg(count(lit(1)).as("n_days"),
        sum("tc").cast("double").as("cs"),
        sum("ts_").cast("double").as("sn"))
      .select(col("p"), col("n_days"),
        round(col("cs"), 6).as("cos_sum"),
        round(col("sn"), 6).as("sin_sum"),
        round(col("cs") * col("cs") + col("sn") * col("sn"), 4).as("power"))
      .orderBy("p")
  }

  private def periodogramOracle: String = s"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c FROM events GROUP BY 1),
    t0 AS (SELECT MIN(day) AS d0 FROM daily),
    w AS (
      SELECT datediff('day', d0, day) AS t, c, p, datediff('day', d0, day) % p AS r
      FROM daily, t0, (SELECT unnest(generate_series(2, 10)) AS p)),
    terms AS (
      SELECT p,
        CAST(CAST(c AS DOUBLE) * ($cosCase) AS DECIMAL(28,10)) AS tc,
        CAST(CAST(c AS DOUBLE) * ($sinCase) AS DECIMAL(28,10)) AS ts_
      FROM w),
    agg AS (
      SELECT p, COUNT(*) AS n_days,
        CAST(SUM(tc) AS DOUBLE) AS cs, CAST(SUM(ts_) AS DOUBLE) AS sn
      FROM terms GROUP BY 1)
    SELECT p, n_days, ROUND(cs, 6) AS cos_sum, ROUND(sn, 6) AS sin_sum,
      ROUND(cs * cs + sn * sn, 4) AS power
    FROM agg ORDER BY p"""

  // ---------------------------------------------------------------- q303

  /** Durbin–Watson autocorrelation of daily-revenue OLS residuals: the
    * regression moments are exact integer/decimal sums, the slope and
    * intercept are fixed-shape double expressions over them (so both
    * engines compute bit-identical residuals), and DW = Σ(Δe)²/Σe² with
    * decimal-cast addends. DW ≈ 2 means uncorrelated residuals;
    * DW → 0 is the positively-autocorrelated case where naive OLS
    * standard errors are fiction — the pre-check for q179-style trends.
    */
  def durbinWatson(orders: DataFrame): DataFrame = {
    val daily = orders.groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec(col("o_totalprice"), 2)).as("rev"))
    val t0 = daily.agg(min("day").as("d0"))
    val wt = daily.crossJoin(broadcast(t0))
      .select(datediff(col("day"), col("d0")).as("t"), col("rev"))
    val m = wt.agg(
      count(lit(1)).as("n"), sum("t").as("st"),
      sum(col("t").cast("long") * col("t")).as("st2"),
      sum("rev").as("sy"),
      sum(col("t") * col("rev")).as("sty"))
    val fitted = wt.crossJoin(broadcast(m))
      .withColumn("b", expr(
        """CAST(n * sty - st * sy AS DOUBLE)
          | / CAST(n * st2 - CAST(st AS DECIMAL(28,0)) * st AS DOUBLE)""".stripMargin))
      .withColumn("a", expr("(CAST(sy AS DOUBLE) - b * st) / n"))
      .withColumn("e", expr("CAST(rev AS DOUBLE) - a - b * t"))
      .withColumn("de", col("e") - lag("e", 1).over(Window.orderBy("t")))
    fitted.agg(
        max("n").as("n_days"),
        round(max("b"), 6).as("slope"),
        round(max("a"), 6).as("intercept"),
        sum(expr("CAST(e * e AS DECIMAL(38,6))")).as("see"),
        sum(expr("CAST(de * de AS DECIMAL(38,6))")).as("sde"))
      .select(col("n_days"), col("slope"), col("intercept"),
        round(col("sde").cast("double") / col("see").cast("double"), 6).as("dw"),
        round(lit(1.0) - col("sde").cast("double") / col("see").cast("double") / 2, 6)
          .as("rho_approx"))
  }

  private val dwOracle = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1),
    t0 AS (SELECT MIN(day) AS d0 FROM daily),
    wt AS (SELECT datediff('day', d0, day) AS t, rev FROM daily, t0),
    m AS (
      SELECT COUNT(*) AS n, CAST(SUM(t) AS BIGINT) AS st,
        CAST(SUM(CAST(t AS BIGINT) * t) AS BIGINT) AS st2,
        SUM(rev) AS sy, SUM(t * rev) AS sty
      FROM wt),
    fitted AS (
      SELECT t, rev,
        CAST(n * sty - st * sy AS DOUBLE)
          / CAST(n * st2 - CAST(st AS DECIMAL(28,0)) * st AS DOUBLE) AS b,
        n, st, sy
      FROM wt, m),
    resid AS (
      SELECT t, n,
        b AS slope, (CAST(sy AS DOUBLE) - b * st) / n AS a,
        CAST(rev AS DOUBLE) - (CAST(sy AS DOUBLE) - b * st) / n - b * t AS e
      FROM fitted),
    d AS (
      SELECT n, slope, a, e,
        e - LAG(e) OVER (ORDER BY t) AS de
      FROM resid)
    SELECT MAX(n) AS n_days, ROUND(MAX(slope), 6) AS slope,
      ROUND(MAX(a), 6) AS intercept,
      ROUND(CAST(SUM(CAST(de * de AS DECIMAL(38,6))) AS DOUBLE)
        / CAST(SUM(CAST(e * e AS DECIMAL(38,6))) AS DOUBLE), 6) AS dw,
      ROUND(1.0 - CAST(SUM(CAST(de * de AS DECIMAL(38,6))) AS DOUBLE)
        / CAST(SUM(CAST(e * e AS DECIMAL(38,6))) AS DOUBLE) / 2, 6) AS rho_approx
    FROM d"""

  // ---------------------------------------------------------------- q304

  /** Theil T inequality index of customer spend with the between/within
    * decomposition over market segments — the additive-decomposable
    * alternative to q207's Gini (Gini cannot attribute inequality to
    * groups; Theil splits exactly). Spend totals are exact decimals;
    * each ln term is one fixed-shape double over exact ratios,
    * decimal-cast summed.
    */
  def theilIndex(orders: DataFrame, customer: DataFrame): DataFrame = {
    val spend = orders.groupBy("o_custkey")
      .agg(sum(dec(col("o_totalprice"), 2)).as("x"))
      .join(customer.select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "o_custkey")
    val tot = spend.agg(count(lit(1)).as("n"), sum("x").as("xx"))
    val theil = spend.crossJoin(broadcast(tot))
      .withColumn("term", expr(
        """CAST(CAST(x AS DOUBLE) / CAST(xx AS DOUBLE)
          |  * ln(CAST(x AS DOUBLE) * n / CAST(xx AS DOUBLE)) AS DECIMAL(28,12))"""
          .stripMargin))
      .agg(sum("term").cast("double").as("t_total"))
    val seg = spend.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_g"), sum("x").as("x_g"))
      .crossJoin(broadcast(tot))
      .withColumn("term", expr(
        """CAST(CAST(x_g AS DOUBLE) / CAST(xx AS DOUBLE)
          |  * ln(CAST(x_g AS DOUBLE) * n / (CAST(xx AS DOUBLE) * n_g))
          |  AS DECIMAL(28,12))""".stripMargin))
      .agg(sum("term").cast("double").as("t_between"))
    tot.crossJoin(theil).crossJoin(seg)
      .select(col("n").as("n_customers"),
        (col("xx") * 100).cast("long").as("total_cents"),
        round(col("t_total"), 6).as("theil"),
        round(col("t_between"), 6).as("theil_between"),
        round(col("t_total") - col("t_between"), 6).as("theil_within"))
  }

  private val theilOracle = """
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x,
        MAX(c_mktsegment) AS seg
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n, SUM(x) AS xx FROM spend),
    t_all AS (
      SELECT CAST(SUM(CAST(
        CAST(x AS DOUBLE) / CAST(xx AS DOUBLE)
          * ln(CAST(x AS DOUBLE) * n / CAST(xx AS DOUBLE))
        AS DECIMAL(28,12))) AS DOUBLE) AS t_total
      FROM spend, tot),
    t_b AS (
      SELECT CAST(SUM(CAST(
        CAST(x_g AS DOUBLE) / CAST(xx AS DOUBLE)
          * ln(CAST(x_g AS DOUBLE) * n / (CAST(xx AS DOUBLE) * n_g))
        AS DECIMAL(28,12))) AS DOUBLE) AS t_between
      FROM (SELECT seg, COUNT(*) AS n_g, SUM(x) AS x_g FROM spend GROUP BY 1), tot)
    SELECT n AS n_customers, CAST(xx * 100 AS BIGINT) AS total_cents,
      ROUND(t_total, 6) AS theil,
      ROUND(t_between, 6) AS theil_between,
      ROUND(t_total - t_between, 6) AS theil_within
    FROM tot, t_all, t_b"""

  // ---------------------------------------------------------------- q305

  /** Sliding-window rate-limit audit (bot detection): each user's peak
    * event count within any 6-hour window, binned into a rate
    * histogram. The RANGE frame runs on exact integer microseconds over
    * the per-user partition — per-user work is linear in that user's
    * events, the 100 TB shape for abuse detection (the alternative,
    * bucketed counting, misses windows straddling bucket edges).
    */
  def rateLimitAudit(events: DataFrame): DataFrame = {
    val winUs = 21600000000L // 6 hours
    val frame = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(0, winUs - 1)
    val peak = events
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("cnt", count(lit(1)).over(frame))
      .groupBy("user_id").agg(max("cnt").as("peak"))
    peak
      .withColumn("bin",
        when(col("peak") <= 2, format_string("%02d", col("peak")))
          .when(col("peak") <= 5, lit("03-05"))
          .when(col("peak") <= 10, lit("06-10"))
          .otherwise(lit("11+")))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_users"), max("peak").as("max_peak"))
      .orderBy("bin")
  }

  private val rateLimitOracle = """
    WITH peak AS (
      SELECT user_id, MAX(cnt) AS peak FROM (
        SELECT user_id,
          COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
            RANGE BETWEEN CURRENT ROW AND 21599999999 FOLLOWING) AS cnt
        FROM events)
      GROUP BY 1)
    SELECT CASE WHEN peak <= 2 THEN printf('%02d', peak)
                WHEN peak <= 5 THEN '03-05'
                WHEN peak <= 10 THEN '06-10'
                ELSE '11+' END AS bin,
      COUNT(*) AS n_users, CAST(MAX(peak) AS BIGINT) AS max_peak
    FROM peak GROUP BY 1 ORDER BY bin"""

  // ---------------------------------------------------------------- q311

  /** Federated-quantile error audit: the price median computed the
    * 100 TB way (each of 8 shards reports its exact local median, the
    * coordinator takes the median of medians) against the true global
    * median, reporting the absolute error and the true rank of the
    * federated estimate. Every median is rank-exact via the
    * twice/4×-median integer trick — the output is exact cents grains,
    * no interpolated floats. This is the measurement that tells you
    * whether cheap per-shard quantiles are good enough before reaching
    * for mergeable sketches (q113).
    */
  def federatedQuantiles(li: DataFrame): DataFrame = {
    val priced = li.select(
      (dec(col("l_extendedprice"), 2) * 100).cast("long").as("cents"),
      (col("l_orderkey") % 8).as("shard"),
      col("l_orderkey"), col("l_linenumber"))
    // per-shard and global median ranks both distribute via the
    // two-level bucket decomposition (cents DIV 65536 buckets; the
    // shard rank partitions by (shard, bucket)) — rnk/n identical to
    // the flat per-shard/global windows the oracle keeps
    val shardMed = Dist.withRowNumber(priced,
        expr("cents DIV 65536"),
        Seq(col("cents"), col("l_orderkey"), col("l_linenumber")),
        "rnk", Some("n_s"), partition = Seq("shard"))
      .groupBy("shard").agg( // twice the shard median, exact cents
        (sum(when(expr("rnk = (n_s + 1) div 2"), col("cents")))
          + sum(when(expr("rnk = n_s div 2 + 1"), col("cents"))))
          .cast("long").as("m2"))
    val fed = shardMed
      .withColumn("srnk", row_number().over(Window.orderBy(col("m2"), col("shard"))))
      .filter(col("srnk") === 4 || col("srnk") === 5)
      .agg(sum("m2").cast("long").as("fed4")) // 4x the federated median
    val globalMed = Dist.withRowNumber(priced,
        expr("cents DIV 65536"),
        Seq(col("cents"), col("l_orderkey"), col("l_linenumber")),
        "rnk", Some("n"))
      .agg(
        (sum(when(expr("rnk = (n + 1) div 2"), col("cents")))
          + sum(when(expr("rnk = n div 2 + 1"), col("cents"))))
          .cast("long").as("g2"),
        max("n").as("n_rows"))
    val below = priced.crossJoin(broadcast(fed))
      .agg(sum((col("cents") * 4 < col("fed4")).cast("long")).as("n_below"))
    globalMed.crossJoin(broadcast(fed)).crossJoin(broadcast(below))
      .select(col("n_rows"), lit(8L).as("n_shards"),
        (col("g2").cast("double") / 2).as("global_median"),
        (col("fed4").cast("double") / 4).as("fed_median"),
        (abs(col("fed4") - col("g2") * 2).cast("double") / 4).as("abs_err"),
        round(col("n_below").cast("double") / col("n_rows").cast("double"), 6)
          .as("fed_rank_share"))
  }

  private val federatedOracle = """
    WITH priced AS (
      SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        l_orderkey % 8 AS shard, l_orderkey, l_linenumber
      FROM lineitem),
    shard_med AS (
      SELECT shard,
        CAST(SUM(CASE WHEN rnk = (n_s + 1) // 2 THEN cents END)
           + SUM(CASE WHEN rnk = n_s // 2 + 1 THEN cents END) AS BIGINT) AS m2
      FROM (
        SELECT shard, cents,
          ROW_NUMBER() OVER (PARTITION BY shard
            ORDER BY cents, l_orderkey, l_linenumber) AS rnk,
          COUNT(*) OVER (PARTITION BY shard) AS n_s
        FROM priced)
      GROUP BY 1),
    fed AS (
      SELECT CAST(SUM(m2) AS BIGINT) AS fed4 FROM (
        SELECT m2, ROW_NUMBER() OVER (ORDER BY m2, shard) AS srnk FROM shard_med)
      WHERE srnk IN (4, 5)),
    g AS (
      SELECT CAST(SUM(CASE WHEN rnk = (n + 1) // 2 THEN cents END)
                + SUM(CASE WHEN rnk = n // 2 + 1 THEN cents END) AS BIGINT) AS g2,
        MAX(n) AS n_rows
      FROM (
        SELECT cents,
          ROW_NUMBER() OVER (ORDER BY cents, l_orderkey, l_linenumber) AS rnk,
          COUNT(*) OVER () AS n
        FROM priced)),
    below AS (
      SELECT CAST(SUM(CASE WHEN cents * 4 < fed4 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_below
      FROM priced, fed)
    SELECT n_rows, CAST(8 AS BIGINT) AS n_shards,
      CAST(g2 AS DOUBLE) / 2 AS global_median,
      CAST(fed4 AS DOUBLE) / 4 AS fed_median,
      CAST(ABS(fed4 - g2 * 2) AS DOUBLE) / 4 AS abs_err,
      ROUND(CAST(n_below AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS fed_rank_share
    FROM g, fed, below"""

  // ---------------------------------------------------------------- q312

  /** Cohort LTV curves: customers grouped by first-order month, each
    * cohort's cumulative revenue per customer tracked over its first 6
    * months — the curve whose flattening point sets retention economics.
    * Month arithmetic is exact integers (y·12+m), revenue is exact
    * decimal, and the cumulative window runs per cohort over ≤6 rows.
    */
  def ltvCohorts(orders: DataFrame): DataFrame = {
    val om = orders.select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("ym"),
      dec(col("o_totalprice"), 2).as("price"))
    val first = om.groupBy("o_custkey").agg(min("ym").as("cohort"))
    val sized = first.groupBy("cohort").agg(count(lit(1)).as("n_customers"))
    val aged = om.join(first, "o_custkey")
      .withColumn("age", col("ym") - col("cohort"))
      .filter(col("age") <= 5)
      .groupBy("cohort", "age").agg(sum("price").as("month_rev"))
    val cum = aged.withColumn("cum_rev",
      sum("month_rev").over(
        Window.partitionBy("cohort").orderBy("age")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.join(sized, "cohort")
      .select(
        expr("(cohort div 12) * 100 + cohort % 12 + 1").cast("long")
          .as("cohort_ym"),
        col("age").cast("long").as("age"), col("n_customers"),
        col("month_rev").cast("double").as("month_rev"),
        col("cum_rev").cast("double").as("cum_rev"),
        // exact half-up rounding at scale 4, done in integers: a double
        // division can land exactly on a .00005 tie, where Spark
        // (BigDecimal on the binary expansion) and DuckDB (scaled
        // multiply) round differently — the q140/q250 drift class
        (expr("CAST((2 * CAST(cum_rev * 100 AS BIGINT) * 100 + n_customers) DIV (2 * n_customers) AS BIGINT)")
          .cast("double") / 10000.0).as("ltv_per_customer"))
      .orderBy("cohort_ym", "age")
  }

  private val ltvOracle = """
    WITH om AS (
      SELECT o_custkey,
        year(o_orderdate) * 12 + month(o_orderdate) - 1 AS ym,
        CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders),
    first_o AS (SELECT o_custkey, MIN(ym) AS cohort FROM om GROUP BY 1),
    sized AS (SELECT cohort, COUNT(*) AS n_customers FROM first_o GROUP BY 1),
    aged AS (
      SELECT cohort, ym - cohort AS age, SUM(price) AS month_rev
      FROM om JOIN first_o USING (o_custkey)
      WHERE ym - cohort <= 5
      GROUP BY 1, 2),
    cum AS (
      SELECT cohort, age, month_rev,
        SUM(month_rev) OVER (PARTITION BY cohort ORDER BY age
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
      FROM aged)
    SELECT CAST((cohort // 12) * 100 + cohort % 12 + 1 AS BIGINT) AS cohort_ym,
      CAST(age AS BIGINT) AS age, n_customers,
      CAST(month_rev AS DOUBLE) AS month_rev,
      CAST(cum_rev AS DOUBLE) AS cum_rev,
      CAST(CAST((2 * CAST(cum_rev * 100 AS BIGINT) * 100 + n_customers)
                // (2 * n_customers) AS BIGINT) AS DOUBLE) / 10000.0
        AS ltv_per_customer
    FROM cum JOIN sized USING (cohort)
    ORDER BY cohort_ym, age"""

  // ---------------------------------------------------------------- q313

  /** Haar-wavelet energy compaction of the first 32 days of revenue:
    * five levels of pairwise averages/differences (each division by 2
    * adds one exact decimal digit — the whole transform is exact), the
    * per-level detail-energy report showing where the series' variance
    * concentrates, and each level's dominant coefficient. This is the
    * wavelet synopsis behind approximate range-sum indexes; the dyadic
    * reduction is log₂(n) rounds of a halving-key groupBy — shuffle
    * volume halves per round (the scan dominates at 100 TB).
    */
  def haarCompaction(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val t0 = orders.agg(min(to_date(col("o_orderdate"))).as("d0"))
    val daily = orders.crossJoin(broadcast(t0))
      .withColumn("t", datediff(to_date(col("o_orderdate")), col("d0")))
      .filter(col("t") < 32)
      .groupBy("t").agg(sum(dec(col("o_totalprice"), 2)).as("x"))
    val grid = Seq.range(0, 32).toDF("t")
      .join(daily, Seq("t"), "left")
      .select(col("t"),
        coalesce(col("x"), lit(java.math.BigDecimal.ZERO)).cast("decimal(28,2)")
          .as("x"))
    val half = lit(new java.math.BigDecimal("0.5"))
    var cur = grid
    var details: DataFrame = null
    for (l <- 1 to 5) {
      // pre-cast the pair sums to DECIMAL(18, s) BEFORE the ×0.5: keeps
      // every decimal op inside precision 38 on both engines (a 38-wide
      // sum times 0.5 would hit Spark's precision-loss reduction and
      // DuckDB's width cliff — different engines, different rounding)
      val si = org.apache.spark.sql.types.DecimalType(18, 1 + l)
      val so = org.apache.spark.sql.types.DecimalType(18, 2 + l)
      def side(par: Int) =
        sum(when(col("t") % 2 === par, col("x"))).cast(si)
      val lvl = cur.groupBy(expr("t div 2").as("i")).agg(
        (((side(0) + side(1)) * half).cast(so)).as("a"),
        (((side(0) - side(1)) * half).cast(so)).as("d"))
      val dd = lvl.select(lit(l).as("level"), col("i"),
        col("d").cast("decimal(18,7)").as("d"))
      details = if (details == null) dd else details.unionAll(dd)
      cur = lvl.select(col("i").as("t"), col("a").cast("decimal(18,7)").as("x"))
    }
    val approx = cur.select(lit(0).as("level"), col("t").as("i"),
      col("x").as("d")) // level 0 row = the final approximation coefficient
    // Output grains are PINNED before any decimal->double cast: the raw
    // scale-14 energy exceeds 2^53 inside the graded SFs, where the
    // conversion is 1-ulp-ambiguous between engines (the q250 class).
    // Rounding the exact decimal (identical half-up in both engines)
    // first keeps every emitted value exactly double-representable.
    details.unionAll(approx)
      .groupBy("level")
      .agg(count(lit(1)).as("n_coeffs"),
        round(sum(abs(col("d"))), 2).cast("double").as("sum_abs"),
        round(max(abs(col("d"))), 2).cast("double").as("max_abs"),
        round(sum((col("d") * col("d")).cast("decimal(38,14)")), 0)
          .cast("decimal(38,0)").cast("long").as("energy"),
        max(struct(abs(col("d")).as("ad"), (-col("i")).as("ni"), col("d").as("dv")))
          .as("top"))
      .select(col("level").cast("long").as("level"), col("n_coeffs"),
        col("sum_abs"), col("max_abs"), col("energy"),
        (-col("top.ni")).cast("long").as("top_idx"),
        round(col("top.dv"), 2).cast("double").as("top_val"))
      .orderBy("level")
  }

  private val haarOracle = """
    WITH t0 AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS d0 FROM orders),
    daily AS (
      SELECT datediff('day', d0, CAST(o_orderdate AS DATE)) AS t,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      FROM orders, t0
      WHERE datediff('day', d0, CAST(o_orderdate AS DATE)) < 32
      GROUP BY 1),
    grid AS (
      SELECT g.t, CAST(COALESCE(d.x, 0) AS DECIMAL(18,2)) AS x
      FROM (SELECT unnest(generate_series(0, 31)) AS t) g
      LEFT JOIN daily d ON d.t = g.t),
    l1 AS (
      SELECT t // 2 AS i,
        CAST((CAST(SUM(CASE WHEN t % 2 = 0 THEN x END) AS DECIMAL(18,2))
            + CAST(SUM(CASE WHEN t % 2 = 1 THEN x END) AS DECIMAL(18,2)))
            * 0.5 AS DECIMAL(18,3)) AS a,
        CAST((CAST(SUM(CASE WHEN t % 2 = 0 THEN x END) AS DECIMAL(18,2))
            - CAST(SUM(CASE WHEN t % 2 = 1 THEN x END) AS DECIMAL(18,2)))
            * 0.5 AS DECIMAL(18,3)) AS d
      FROM grid GROUP BY 1),
    l2 AS (
      SELECT i // 2 AS i,
        CAST((CAST(SUM(CASE WHEN i % 2 = 0 THEN a END) AS DECIMAL(18,3))
            + CAST(SUM(CASE WHEN i % 2 = 1 THEN a END) AS DECIMAL(18,3)))
            * 0.5 AS DECIMAL(18,4)) AS a,
        CAST((CAST(SUM(CASE WHEN i % 2 = 0 THEN a END) AS DECIMAL(18,3))
            - CAST(SUM(CASE WHEN i % 2 = 1 THEN a END) AS DECIMAL(18,3)))
            * 0.5 AS DECIMAL(18,4)) AS d
      FROM l1 GROUP BY 1),
    l3 AS (
      SELECT i // 2 AS i,
        CAST((CAST(SUM(CASE WHEN i % 2 = 0 THEN a END) AS DECIMAL(18,4))
            + CAST(SUM(CASE WHEN i % 2 = 1 THEN a END) AS DECIMAL(18,4)))
            * 0.5 AS DECIMAL(18,5)) AS a,
        CAST((CAST(SUM(CASE WHEN i % 2 = 0 THEN a END) AS DECIMAL(18,4))
            - CAST(SUM(CASE WHEN i % 2 = 1 THEN a END) AS DECIMAL(18,4)))
            * 0.5 AS DECIMAL(18,5)) AS d
      FROM l2 GROUP BY 1),
    l4 AS (
      SELECT i // 2 AS i,
        CAST((CAST(SUM(CASE WHEN i % 2 = 0 THEN a END) AS DECIMAL(18,5))
            + CAST(SUM(CASE WHEN i % 2 = 1 THEN a END) AS DECIMAL(18,5)))
            * 0.5 AS DECIMAL(18,6)) AS a,
        CAST((CAST(SUM(CASE WHEN i % 2 = 0 THEN a END) AS DECIMAL(18,5))
            - CAST(SUM(CASE WHEN i % 2 = 1 THEN a END) AS DECIMAL(18,5)))
            * 0.5 AS DECIMAL(18,6)) AS d
      FROM l3 GROUP BY 1),
    l5 AS (
      SELECT i // 2 AS i,
        CAST((CAST(SUM(CASE WHEN i % 2 = 0 THEN a END) AS DECIMAL(18,6))
            + CAST(SUM(CASE WHEN i % 2 = 1 THEN a END) AS DECIMAL(18,6)))
            * 0.5 AS DECIMAL(18,7)) AS a,
        CAST((CAST(SUM(CASE WHEN i % 2 = 0 THEN a END) AS DECIMAL(18,6))
            - CAST(SUM(CASE WHEN i % 2 = 1 THEN a END) AS DECIMAL(18,6)))
            * 0.5 AS DECIMAL(18,7)) AS d
      FROM l4 GROUP BY 1),
    coeffs AS (
      SELECT 1 AS level, i, CAST(d AS DECIMAL(18,7)) AS d FROM l1
      UNION ALL SELECT 2, i, CAST(d AS DECIMAL(18,7)) FROM l2
      UNION ALL SELECT 3, i, CAST(d AS DECIMAL(18,7)) FROM l3
      UNION ALL SELECT 4, i, CAST(d AS DECIMAL(18,7)) FROM l4
      UNION ALL SELECT 5, i, CAST(d AS DECIMAL(18,7)) FROM l5
      UNION ALL SELECT 0, i, CAST(a AS DECIMAL(18,7)) FROM l5),
    ranked AS (
      SELECT level, i, d,
        ROW_NUMBER() OVER (PARTITION BY level ORDER BY ABS(d) DESC, i) AS rnk
      FROM coeffs)
    SELECT CAST(level AS BIGINT) AS level, COUNT(*) AS n_coeffs,
      CAST(ROUND(SUM(ABS(d)), 2) AS DOUBLE) AS sum_abs,
      CAST(ROUND(MAX(ABS(d)), 2) AS DOUBLE) AS max_abs,
      CAST(ROUND(SUM(CAST(CAST(d AS DECIMAL(19,7)) * CAST(d AS DECIMAL(19,7))
                    AS DECIMAL(38,14))), 0) AS BIGINT) AS energy,
      CAST(MAX(CASE WHEN rnk = 1 THEN i END) AS BIGINT) AS top_idx,
      CAST(ROUND(MAX(CASE WHEN rnk = 1 THEN d END), 2) AS DOUBLE) AS top_val
    FROM ranked GROUP BY 1 ORDER BY level"""

  // ---------------------------------------------------------------- q315

  /** Tukey-fence (boxplot) outlier audit per event type: rank-exact
    * Type-1 quartiles (x_⌈n/4⌉ / x_⌈3n/4⌉ — order statistics, never an
    * interpolated float), IQR, and the 1.5·IQR fence exceedance counts.
    * The 1.5 multiplier is an exact ×3×0.5 decimal product; every
    * comparison is exact-decimal. One shuffle to per-type partitions;
    * ranking is per-type distributed.
    */
  def tukeyFences(events: DataFrame): DataFrame = {
    val v = events.select(col("event_type"), dec(col("value"), 6).as("x"),
      col("event_id"))
    val byType = Window.partitionBy("event_type").orderBy(col("x"), col("event_id"))
    val ranked = v
      .withColumn("rnk", row_number().over(byType))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
    val quart = ranked.groupBy("event_type").agg(
      max("n").as("n"),
      max(when(expr("rnk = (n + 3) div 4"), col("x"))).as("q1"),
      max(when(expr("rnk = (3 * n + 3) div 4"), col("x"))).as("q3"))
    val fenced = v.join(quart, "event_type")
      .withColumn("iqr", col("q3") - col("q1"))
      .withColumn("lo", col("q1") - expr(
        "CAST((q3 - q1) * 3 * CAST(0.5 AS DECIMAL(2,1)) AS DECIMAL(28,7))"))
      .withColumn("hi", col("q3") + expr(
        "CAST((q3 - q1) * 3 * CAST(0.5 AS DECIMAL(2,1)) AS DECIMAL(28,7))"))
    fenced.groupBy("event_type").agg(
        max("n").as("n_events"),
        max(col("q1").cast("double")).as("q1"),
        max(col("q3").cast("double")).as("q3"),
        max(col("iqr").cast("double")).as("iqr"),
        sum((col("x") < col("lo")).cast("long")).as("n_low_outliers"),
        sum((col("x") > col("hi")).cast("long")).as("n_high_outliers"))
      .orderBy("event_type")
  }

  private val tukeyOracle = """
    WITH v AS (
      SELECT event_type, CAST(value AS DECIMAL(18,6)) AS x, event_id
      FROM events),
    ranked AS (
      SELECT event_type, x,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x, event_id) AS rnk,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v),
    quart AS (
      SELECT event_type, MAX(n) AS n,
        MAX(CASE WHEN rnk = (n + 3) // 4 THEN x END) AS q1,
        MAX(CASE WHEN rnk = (3 * n + 3) // 4 THEN x END) AS q3
      FROM ranked GROUP BY 1),
    fenced AS (
      SELECT v.event_type, v.x, q.n, q.q1, q.q3, q.q3 - q.q1 AS iqr,
        q.q1 - CAST((q.q3 - q.q1) * 3 * CAST(0.5 AS DECIMAL(2,1))
                    AS DECIMAL(28,7)) AS lo,
        q.q3 + CAST((q.q3 - q.q1) * 3 * CAST(0.5 AS DECIMAL(2,1))
                    AS DECIMAL(28,7)) AS hi
      FROM v JOIN quart q USING (event_type))
    SELECT event_type, MAX(n) AS n_events,
      CAST(MAX(q1) AS DOUBLE) AS q1, CAST(MAX(q3) AS DOUBLE) AS q3,
      CAST(MAX(iqr) AS DOUBLE) AS iqr,
      CAST(SUM(CASE WHEN x < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
      CAST(SUM(CASE WHEN x > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
    FROM fenced GROUP BY 1 ORDER BY event_type"""

  // ---------------------------------------------------------------- q317

  /** Peaks-over-threshold GPD tail fit (extreme-value method of
    * moments): the threshold is the exact Type-1 p90 order statistic,
    * exceedance moments are exact integer-cent sums, and the fitted
    * shape ξ / scale β imply a p99.9 quantile checked against the exact
    * empirical one — the tail-risk model behind outlier budgets and
    * SLA sizing. Everything is one ranked pass + one moment reduce.
    */
  def gpdTail(orders: DataFrame): DataFrame = {
    val priced = orders.select(
      (dec(col("o_totalprice"), 2) * 100).cast("long").as("cents"),
      col("o_orderkey"))
    // threshold ranks distribute via the two-level bucket decomposition
    // (cents DIV 65536 ≈ $655 buckets) — rnk/n identical to the flat
    // global window the oracle keeps
    val ranked = Dist.withRowNumber(priced,
      expr("cents DIV 65536"), Seq(col("cents"), col("o_orderkey")),
      "rnk", Some("n"))
    val thr = ranked.agg(
      max("n").as("n"),
      max(when(expr("rnk = (9 * n + 9) div 10"), col("cents"))).as("u"),
      max(when(expr("rnk = (999 * n + 999) div 1000"), col("cents")))
        .as("actual_p999_cents"))
    val fit = priced.crossJoin(broadcast(thr))
      .filter(col("cents") > col("u"))
      .withColumn("y", col("cents") - col("u"))
      .agg(count(lit(1)).as("m"),
        sum("y").as("s1"),
        sum((col("y").cast("decimal(20,0)") * col("y")).cast("decimal(38,0)"))
          .as("s2"),
        max("n").as("n"), max("u").as("u"),
        max("actual_p999_cents").as("actual_p999_cents"))
    fit
      .withColumn("mean", expr("CAST(s1 AS DOUBLE) / m"))
      .withColumn("varr", expr(
        "CAST(s2 AS DOUBLE) / m - (CAST(s1 AS DOUBLE) / m) * (CAST(s1 AS DOUBLE) / m)"))
      .withColumn("ratio", expr("mean * mean / varr"))
      .withColumn("xi", expr("0.5 * (1.0 - ratio)"))
      .withColumn("beta", expr("0.5 * mean * (ratio + 1.0)"))
      .select(col("n").as("n_orders"), col("u").as("threshold_cents"),
        col("m").as("n_exceed"),
        round(col("xi"), 6).as("xi"),
        round(col("beta"), 2).as("beta"),
        round(expr(
          """(u + beta / xi * (pow((0.001 * n) / m, -xi) - 1.0)) / 100.0"""),
          2).as("implied_p999"),
        (col("actual_p999_cents").cast("double") / 100).as("actual_p999"))
  }

  private val gpdOracle = """
    WITH priced AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        o_orderkey
      FROM orders),
    ranked AS (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS rnk,
        COUNT(*) OVER () AS n
      FROM priced),
    thr AS (
      SELECT MAX(n) AS n,
        MAX(CASE WHEN rnk = (9 * n + 9) // 10 THEN cents END) AS u,
        MAX(CASE WHEN rnk = (999 * n + 999) // 1000 THEN cents END)
          AS actual_p999_cents
      FROM ranked),
    fit AS (
      SELECT COUNT(*) AS m, CAST(SUM(cents - u) AS BIGINT) AS s1,
        CAST(SUM(CAST(cents - u AS HUGEINT) * (cents - u)) AS DECIMAL(38,0)) AS s2,
        MAX(n) AS n, MAX(u) AS u, MAX(actual_p999_cents) AS actual_p999_cents
      FROM priced, thr WHERE cents > u),
    st AS (
      SELECT *, CAST(s1 AS DOUBLE) / m AS mean,
        CAST(s2 AS DOUBLE) / m
          - (CAST(s1 AS DOUBLE) / m) * (CAST(s1 AS DOUBLE) / m) AS varr
      FROM fit),
    st2 AS (
      SELECT *, mean * mean / varr AS ratio FROM st),
    st3 AS (
      SELECT *, 0.5 * (1.0 - ratio) AS xi,
        0.5 * mean * (ratio + 1.0) AS beta
      FROM st2)
    SELECT n AS n_orders, u AS threshold_cents, m AS n_exceed,
      ROUND(xi, 6) AS xi, ROUND(beta, 2) AS beta,
      ROUND((u + beta / xi * (pow((0.001 * n) / m, -xi) - 1.0)) / 100.0, 2)
        AS implied_p999,
      CAST(actual_p999_cents AS DOUBLE) / 100 AS actual_p999
    FROM st3"""

  // ---------------------------------------------------------------- q320

  /** Lag-1 Granger-style causality test between the daily purchase and
    * error series: does yesterday's error count improve today's
    * purchase forecast beyond yesterday's purchases? Restricted
    * (AR(1)) vs unrestricted (AR(1)+error lag) OLS — every normal-
    * equation moment is an exact BIGINT sum of counts (n-scaled
    * centered sums, DECIMAL(38,0) cross products), coefficients are
    * fixed-shape doubles, and the F statistic compares decimal-cast
    * residual sums. The daily rollup is the only corpus-sized shuffle.
    */
  def grangerLite(events: DataFrame): DataFrame = {
    val daily = events.groupBy(to_date(col("ts")).as("day"))
      .agg(sum((col("event_type") === "purchase").cast("long")).as("p"),
        sum((col("event_type") === "error").cast("long")).as("e"))
    val byDay = Window.orderBy("day")
    val lagged = daily
      .withColumn("x1", lag("p", 1).over(byDay))
      .withColumn("x2", lag("e", 1).over(byDay))
      .filter(col("x1").isNotNull)
      .select(col("p").as("y"), col("x1"), col("x2"))
    val m = lagged.agg(
      count(lit(1)).as("n"),
      sum("y").as("sy"), sum("x1").as("s1"), sum("x2").as("s2"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("x1") * col("y")).as("s1y"),
      sum(col("x2") * col("y")).as("s2y"))
    // n-scaled centered sums: S_ab = n*s_ab - s_a*s_b (exact BIGINT)
    val c = m.select(col("n"), col("sy"), col("s1"), col("s2"),
      expr("n * s11 - s1 * s1").as("c11"),
      expr("n * s12 - s1 * s2").as("c12"),
      expr("n * s22 - s2 * s2").as("c22"),
      expr("n * s1y - s1 * sy").as("c1y"),
      expr("n * s2y - s2 * sy").as("c2y"))
    val fitted = lagged.crossJoin(broadcast(c))
      .withColumn("br", expr("CAST(c1y AS DOUBLE) / CAST(c11 AS DOUBLE)"))
      .withColumn("ar", expr("(CAST(sy AS DOUBLE) - br * s1) / n"))
      .withColumn("b1", expr(
        """CAST(CAST(c1y AS DECIMAL(38,0)) * c22 - CAST(c2y AS DECIMAL(38,0)) * c12 AS DOUBLE)
          | / CAST(CAST(c11 AS DECIMAL(38,0)) * c22 - CAST(c12 AS DECIMAL(38,0)) * c12 AS DOUBLE)"""
          .stripMargin))
      .withColumn("b2", expr(
        """CAST(CAST(c2y AS DECIMAL(38,0)) * c11 - CAST(c1y AS DECIMAL(38,0)) * c12 AS DOUBLE)
          | / CAST(CAST(c11 AS DECIMAL(38,0)) * c22 - CAST(c12 AS DECIMAL(38,0)) * c12 AS DOUBLE)"""
          .stripMargin))
      .withColumn("au", expr("(CAST(sy AS DOUBLE) - b1 * s1 - b2 * s2) / n"))
      .withColumn("er", expr("CAST(y AS DOUBLE) - ar - br * x1"))
      .withColumn("eu", expr("CAST(y AS DOUBLE) - au - b1 * x1 - b2 * x2"))
    fitted.agg(
        max("n").as("n_days"),
        round(max("br"), 6).as("ar1_coef"),
        round(max("b1"), 6).as("purchase_lag_coef"),
        round(max("b2"), 6).as("error_lag_coef"),
        sum(expr("CAST(er * er AS DECIMAL(38,6))")).as("rss_r"),
        sum(expr("CAST(eu * eu AS DECIMAL(38,6))")).as("rss_u"))
      .select(col("n_days"), col("ar1_coef"), col("purchase_lag_coef"),
        col("error_lag_coef"),
        // a perfect unrestricted fit (RSS_u = 0, possible on planted
        // series) must degrade identically on both engines: NULL, not
        // Spark's ANSI divide error / DuckDB's IEEE infinity
        round(expr(
          """CASE WHEN CAST(rss_u AS DOUBLE) = 0 THEN CAST(NULL AS DOUBLE)
            | ELSE (CAST(rss_r AS DOUBLE) - CAST(rss_u AS DOUBLE))
            |      / (CAST(rss_u AS DOUBLE) / (n_days - 3)) END""".stripMargin), 4)
          .as("f_stat"))
  }

  private val grangerOracle = """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS p,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS e
      FROM events GROUP BY 1),
    lagged AS (
      SELECT p AS y, LAG(p) OVER (ORDER BY day) AS x1,
        LAG(e) OVER (ORDER BY day) AS x2
      FROM daily QUALIFY x1 IS NOT NULL),
    m AS (
      SELECT COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS sy,
        CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
        CAST(SUM(x1 * x1) AS BIGINT) AS s11,
        CAST(SUM(x1 * x2) AS BIGINT) AS s12,
        CAST(SUM(x2 * x2) AS BIGINT) AS s22,
        CAST(SUM(x1 * y) AS BIGINT) AS s1y,
        CAST(SUM(x2 * y) AS BIGINT) AS s2y
      FROM lagged),
    c AS (
      SELECT n, sy, s1, s2,
        n * s11 - s1 * s1 AS c11, n * s12 - s1 * s2 AS c12,
        n * s22 - s2 * s2 AS c22, n * s1y - s1 * sy AS c1y,
        n * s2y - s2 * sy AS c2y
      FROM m),
    fitted AS (
      SELECT l.y, l.x1, l.x2, c.n, c.sy, c.s1, c.s2,
        CAST(c1y AS DOUBLE) / CAST(c11 AS DOUBLE) AS br,
        CAST(CAST(c1y AS HUGEINT) * c22 - CAST(c2y AS HUGEINT) * c12 AS DOUBLE)
          / CAST(CAST(c11 AS HUGEINT) * c22 - CAST(c12 AS HUGEINT) * c12 AS DOUBLE)
          AS b1,
        CAST(CAST(c2y AS HUGEINT) * c11 - CAST(c1y AS HUGEINT) * c12 AS DOUBLE)
          / CAST(CAST(c11 AS HUGEINT) * c22 - CAST(c12 AS HUGEINT) * c12 AS DOUBLE)
          AS b2
      FROM lagged l, c),
    resid AS (
      SELECT n,
        br, b1, b2,
        CAST(y AS DOUBLE) - (CAST(sy AS DOUBLE) - br * s1) / n - br * x1 AS er,
        CAST(y AS DOUBLE) - (CAST(sy AS DOUBLE) - b1 * s1 - b2 * s2) / n
          - b1 * x1 - b2 * x2 AS eu
      FROM fitted)
    SELECT MAX(n) AS n_days, ROUND(MAX(br), 6) AS ar1_coef,
      ROUND(MAX(b1), 6) AS purchase_lag_coef,
      ROUND(MAX(b2), 6) AS error_lag_coef,
      ROUND(CASE WHEN CAST(SUM(CAST(eu * eu AS DECIMAL(38,6))) AS DOUBLE) = 0
            THEN CAST(NULL AS DOUBLE)
            ELSE (CAST(SUM(CAST(er * er AS DECIMAL(38,6))) AS DOUBLE)
                  - CAST(SUM(CAST(eu * eu AS DECIMAL(38,6))) AS DOUBLE))
              / (CAST(SUM(CAST(eu * eu AS DECIMAL(38,6))) AS DOUBLE)
                 / (MAX(n) - 3)) END, 4) AS f_stat
    FROM resid"""

  // ---------------------------------------------------------------- q321

  /** Log₂-bucketed inter-arrival latency histogram (the HdrHistogram
    * shape): per-user event gaps in exact integer microseconds fall
    * into power-of-two buckets, reported with exact shares and
    * cumulative shares — the latency-distribution summary whose buckets
    * merge trivially across 1000 executors (bucket counts are the whole
    * state). floor(log₂) of an integer only flickers within ~1e-13 of
    * an exact power of two, which integer microsecond gaps cannot hit.
    */
  def latencyHistogram(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val gaps = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag("us", 1).over(byUser))
      .filter(col("gap").isNotNull && col("gap") > 0)
    val tot = gaps.agg(count(lit(1)).as("n_total"))
    val hist = gaps
      .withColumn("bucket", floor(log2(col("gap").cast("double"))).cast("long"))
      .groupBy("bucket").agg(count(lit(1)).as("n_gaps"))
    hist.crossJoin(broadcast(tot))
      .withColumn("cum", sum("n_gaps").over(
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("bucket"),
        expr("shiftleft(1L, CAST(bucket AS INT))").as("lo_us"),
        col("n_gaps"),
        round(col("n_gaps").cast("double") / col("n_total"), 6).as("share"),
        round(col("cum").cast("double") / col("n_total"), 6).as("cum_share"))
      .orderBy("bucket")
  }

  private val latencyOracle = """
    WITH gaps AS (
      SELECT epoch_us(ts) - LAG(epoch_us(ts))
          OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
      FROM events),
    g AS (SELECT gap FROM gaps WHERE gap IS NOT NULL AND gap > 0),
    tot AS (SELECT COUNT(*) AS n_total FROM g),
    hist AS (
      SELECT CAST(FLOOR(log2(CAST(gap AS DOUBLE))) AS BIGINT) AS bucket,
        COUNT(*) AS n_gaps
      FROM g GROUP BY 1)
    SELECT bucket, CAST(1 AS BIGINT) << CAST(bucket AS INT) AS lo_us, n_gaps,
      ROUND(CAST(n_gaps AS DOUBLE) / n_total, 6) AS share,
      ROUND(CAST(SUM(n_gaps) OVER (ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        / n_total, 6) AS cum_share
    FROM hist, tot ORDER BY bucket"""

  // ------------------------------------------------------------ queries

  // ---------------------------------------------------------------- q334

  /** Weibull reliability fit per event_type via median-rank regression
    * (the standard probability-plot estimator): values rank ascending,
    * the Bernard median rank F_i = (i−0.3)/(n+0.4) maps each point to
    * (x, y) = (ln v, ln(−ln(1−F_i))), and OLS on (x, y) gives the shape
    * k (slope) and scale λ = exp(−intercept/k). All five OLS moments
    * are decimal-cast sums (order-free); the rank window is per-group
    * (q129's documented oracle form of a range-partitioned rank).
    */
  def weibullFit(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("value", "event_id")
    val pts = events.filter(col("value") > 0)
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("x", log(col("value")))
      .withColumn("yv", log(-log(
        lit(1.0) - (col("i").cast("double") - 0.3) / (col("n").cast("double") + 0.4))))
    pts.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x"), 12)).as("sx"), sum(dec(col("yv"), 12)).as("sy"),
        sum((dec(col("x"), 12) * dec(col("x"), 12)).cast("decimal(38,12)")).as("sxx"),
        sum((dec(col("x"), 12) * dec(col("yv"), 12)).cast("decimal(38,12)")).as("sxy"),
        sum((dec(col("yv"), 12) * dec(col("yv"), 12)).cast("decimal(38,12)")).as("syy"))
      .withColumn("k", expr(
        "(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"))
      .withColumn("c0", expr("(CAST(sy AS DOUBLE) - k * CAST(sx AS DOUBLE)) / n"))
      .select(col("event_type"), col("n"),
        round(col("k"), 6).as("shape"),
        round(exp(-col("c0") / col("k")), 6).as("scale"),
        round(expr(
          "(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"), 6)
          .as("r2"))
      .orderBy("event_type")
  }

  private val weibullOracle = """
    WITH pts AS (
      SELECT event_type,
        ln(value) AS x,
        ln(-ln(1.0 - (CAST(ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY value, event_id) AS DOUBLE) - 0.3)
            / (CAST(COUNT(*) OVER (PARTITION BY event_type) AS DOUBLE) + 0.4)))
          AS yv
      FROM events WHERE value > 0),
    agg AS (
      SELECT event_type, COUNT(*) AS n,
        SUM(CAST(x AS DECIMAL(18,12))) AS sx,
        SUM(CAST(yv AS DECIMAL(18,12))) AS sy,
        SUM(CAST(CAST(x AS DECIMAL(18,12)) * CAST(x AS DECIMAL(18,12))
          AS DECIMAL(38,12))) AS sxx,
        SUM(CAST(CAST(x AS DECIMAL(18,12)) * CAST(yv AS DECIMAL(18,12))
          AS DECIMAL(38,12))) AS sxy,
        SUM(CAST(CAST(yv AS DECIMAL(18,12)) * CAST(yv AS DECIMAL(18,12))
          AS DECIMAL(38,12))) AS syy
      FROM pts GROUP BY event_type),
    st AS (
      SELECT *,
        (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          AS k
      FROM agg)
    SELECT event_type, n, ROUND(k, 6) AS shape,
      ROUND(exp(-((CAST(sy AS DOUBLE) - k * CAST(sx AS DOUBLE)) / n) / k), 6)
        AS scale,
      ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
        6) AS r2
    FROM st ORDER BY event_type"""

  // ---------------------------------------------------------------- q343

  /** Gumbel fit of daily block maxima (classical EVT, the block-maxima
    * dual of q317's peaks-over-threshold GPD): per-day max order price,
    * then method-of-moments β = s·√6/π and μ = m − γβ, plus the 30-day
    * return level μ − β·ln(−ln(1 − 1/30)). Block maxima are exact
    * (MAX of 2-dp prices); the two moments are decimal-cast sums; the
    * constants (π, Euler–Mascheroni) are shared literals/pi().
    */
  def gumbelMaxima(orders: DataFrame): DataFrame = {
    val daily = orders.groupBy(col("o_orderdate"))
      .agg(max(dec(col("o_totalprice"), 2)).as("mx"))
    daily.agg(count(lit(1)).as("n_blocks"),
      sum("mx").cast("decimal(28,2)").as("s1"),
      sum((col("mx").cast("decimal(18,2)") * col("mx").cast("decimal(18,2)"))
        .cast("decimal(38,4)")).as("s2"))
      .withColumn("m", expr("CAST(s1 AS DOUBLE) / n_blocks"))
      .withColumn("sd", expr(
        "sqrt(CAST(s2 AS DOUBLE) / n_blocks - m * m)"))
      .withColumn("beta", expr("sd * sqrt(6.0) / pi()"))
      .withColumn("mu", expr("m - 0.5772156649 * beta"))
      .select(col("n_blocks"),
        round(col("mu"), 6).as("mu"), round(col("beta"), 6).as("beta"),
        round(expr("mu - beta * ln(-ln(1.0 - CAST(1 AS DOUBLE) / 30))"), 6)
          .as("return_level_30"))
  }

  private val gumbelOracle = """
    WITH daily AS (
      SELECT o_orderdate, MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS mx
      FROM orders GROUP BY 1),
    agg AS (
      SELECT COUNT(*) AS n_blocks,
        CAST(SUM(mx) AS DECIMAL(28,2)) AS s1,
        SUM(CAST(CAST(mx AS DECIMAL(18,2)) * CAST(mx AS DECIMAL(18,2))
          AS DECIMAL(38,4))) AS s2
      FROM daily),
    st AS (
      SELECT n_blocks, CAST(s1 AS DOUBLE) / n_blocks AS m,
        sqrt(CAST(s2 AS DOUBLE) / n_blocks
          - (CAST(s1 AS DOUBLE) / n_blocks) * (CAST(s1 AS DOUBLE) / n_blocks))
          * sqrt(6.0) / pi() AS beta
      FROM agg)
    SELECT n_blocks,
      ROUND(m - 0.5772156649 * beta, 6) AS mu,
      ROUND(beta, 6) AS beta,
      ROUND((m - 0.5772156649 * beta)
        - beta * ln(-ln(1.0 - CAST(1 AS DOUBLE) / 30)), 6) AS return_level_30
    FROM st"""

  // ---------------------------------------------------------------- q360

  /** Multi-window SLO burn-rate audit (the SRE error-budget alerting
    * arithmetic): per hour bucket, error share vs a 99% availability
    * SLO gives the 1-hour burn rate; a trailing 6-bucket window gives
    * the long-window rate; a page fires when BOTH exceed the classic
    * (14.4, 6) multi-window thresholds — fast burn confirmed by
    * sustained burn. Counts are exact integers; rates are doubles of
    * exact pairs; the trailing window is a bounded 6-row frame per
    * bucket. Reports only hours with at least one alert condition
    * plus the worst-burn hour, keeping the result audit-sized.
    */
  def sloBurn(events: DataFrame): DataFrame = {
    val slo = 0.01 // 1% error budget
    val hourly = events
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"),
        sum((col("event_type") === "error").cast("long")).as("n_err"))
    val w6 = Window.orderBy("hour").rowsBetween(-5, 0)
    val rated = hourly
      .withColumn("burn_1h",
        col("n_err").cast("double") / col("n").cast("double") / slo)
      .withColumn("n6", sum("n").over(w6))
      .withColumn("e6", sum("n_err").over(w6))
      .withColumn("burn_6h",
        col("e6").cast("double") / col("n6").cast("double") / slo)
      .withColumn("page",
        (col("burn_1h") > 14.4 && col("burn_6h") > 6.0).cast("long"))
    rated
      .withColumn("worst", row_number().over(
        Window.orderBy(col("burn_1h").desc, col("hour"))))
      .filter(col("page") === 1 || col("worst") === 1)
      .select(col("hour"), col("n"), col("n_err"),
        round(col("burn_1h"), 4).as("burn_1h"),
        round(col("burn_6h"), 4).as("burn_6h"), col("page"))
      .orderBy("hour")
  }

  private val sloOracle = """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_err
      FROM events GROUP BY 1),
    rated AS (
      SELECT hour, n, n_err,
        CAST(n_err AS DOUBLE) / CAST(n AS DOUBLE) / 0.01 AS burn_1h,
        CAST(SUM(n_err) OVER (ORDER BY hour
            ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS DOUBLE)
          / CAST(SUM(n) OVER (ORDER BY hour
            ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS DOUBLE)
          / 0.01 AS burn_6h
      FROM hourly),
    flagged AS (
      SELECT *,
        CASE WHEN burn_1h > 14.4 AND burn_6h > 6.0 THEN 1 ELSE 0 END AS page,
        ROW_NUMBER() OVER (ORDER BY burn_1h DESC, hour) AS worst
      FROM rated)
    SELECT hour, n, n_err, ROUND(burn_1h, 4) AS burn_1h,
      ROUND(burn_6h, 4) AS burn_6h, CAST(page AS BIGINT) AS page
    FROM flagged
    WHERE page = 1 OR worst = 1
    ORDER BY hour"""

  // ---------------------------------------------------------------- q376

  /** Two-segment OLS trend with the breakpoint chosen from the decile
    * grid (segmented regression / one-changepoint fit): per candidate
    * break b, both segments' SSE comes closed-form from prefix moments
    * (one window pass over the daily series), best = argmin total SSE
    * (ties → earliest break). Revenue is kilodollar-scaled so every
    * moment stays an exact decimal under 2^53 unscaled at all graded
    * SFs. Reports both slopes and the SSE gain over the single line —
    * the "did the trend actually change?" audit.
    */
  def segmentedTrend(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec(col("o_totalprice") / 1000.0, 6)).cast("decimal(28,6)")
        .as("y"))
      .withColumn("t", row_number().over(Window.orderBy("day")))
      // exact INTEGER series: y's granularity is 1e-5 kilodollars
      // (cents/1000), so yi = y·1e5 is lossless. Every moment below is
      // an exact decimal integer; the only doubles are the hi/lo-split
      // conversions. The previous double-path formula diverged at sf1:
      // CAST(DECIMAL(38,12) AS DOUBLE) past 2^53 rounds differently in
      // Spark (BigDecimal) vs DuckDB (int128) — the q347/q140 hazard.
      .withColumn("yi", (col("y") * lit(100000L)).cast("decimal(38,0)"))
    val w = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefix = daily
      .withColumn("ct", sum("t").over(w))
      .withColumn("ctt", sum(expr("CAST(t AS BIGINT) * t")).over(w))
      .withColumn("cy", sum("yi").over(w).cast("decimal(38,0)"))
      .withColumn("cty", sum(expr(
          "CAST(CAST(t AS DECIMAL(10,0)) * yi AS DECIMAL(38,0))"))
        .over(w).cast("decimal(38,0)"))
      .withColumn("cyy", sum(expr("CAST(yi * yi AS DECIMAL(38,0))"))
        .over(w).cast("decimal(38,0)"))
      .localCheckpoint()
    val tot = prefix.orderBy(col("t").desc).limit(1)
      .select(col("t").as("n"), col("ct").as("st"), col("ctt").as("stt"),
        col("cy").as("sy"), col("cty").as("sty"), col("cyy").as("syy"),
        col("day").as("last_day"))
    // exact-integer decimal -> double via the 2^52/2^26 three-part
    // split: each part is an integer < 2^53 (decimal->double cast is
    // exact on both engines), reassembled in one fixed IEEE op sequence
    def dbl(v: String): String =
      s"""(CASE WHEN ($v) < 0 THEN -1.0D ELSE 1.0D END * (
         |  CAST((abs($v) - (abs($v) % 4503599627370496)) / 4503599627370496 AS DOUBLE) * 4503599627370496.0D
         |  + CAST(CAST(abs($v) % 4503599627370496 AS BIGINT) DIV 67108864 AS DOUBLE) * 67108864.0D
         |  + CAST(CAST(abs($v) % 67108864 AS BIGINT) AS DOUBLE)))""".stripMargin
    // centered second moments in EXACT arithmetic (the n·Σx² − (Σx)²
    // variance form): the catastrophic cancellation happens in integers,
    // never in floats
    def vtt(n: String, st: String, stt: String) =
      s"(CAST(($n) AS BIGINT) * ($stt) - ($st) * ($st))"
    def vty(n: String, st: String, sy: String, sty: String) =
      s"(CAST(($n) AS DECIMAL(20,0)) * ($sty) - CAST(($st) AS DECIMAL(20,0)) * ($sy))"
    def vyy(n: String, sy: String, syy: String) =
      s"(CAST(($n) AS DECIMAL(20,0)) * ($syy) - ($sy) * ($sy))"
    // SSE = (Vyy − Vty²/Vtt)/n, descaled by 1e10 = (1e5)² back to
    // kilodollar² units; slope = Vty/Vtt descaled by 1e5
    def sse(n: String, st: String, stt: String, sy: String, sty: String,
        syy: String) =
      s"""((${dbl(vyy(n, sy, syy))}
         | - ${dbl(vty(n, st, sy, sty))} * ${dbl(vty(n, st, sy, sty))}
         |   / CAST(${vtt(n, st, stt)} AS DOUBLE)) / ($n) / 1e10)""".stripMargin
    def slope(n: String, st: String, stt: String, sy: String, sty: String) =
      s"""(${dbl(vty(n, st, sy, sty))} / CAST(${vtt(n, st, stt)} AS DOUBLE) / 1e5)"""
    val s = orders.sparkSession
    val grid = s.range(2, 10).select(col("id").as("i"))
      .crossJoin(broadcast(tot.select(col("n").as("gn"))))
      .select(expr("gn * i DIV 10").as("b0")).distinct()
    val cands = prefix.crossJoin(broadcast(tot))
      .join(broadcast(grid), col("t") === col("b0"))
      .filter(col("t") >= 2 && expr("n - t >= 2"))
      .select(col("t").as("b"), col("day").as("break_day"),
        col("n"), col("st"), col("stt"), col("sy"), col("sty"), col("syy"),
        col("ct"), col("ctt"), col("cy"), col("cty"), col("cyy"))
      .withColumn("sse_left", expr(sse("b", "ct", "ctt", "cy", "cty", "cyy")))
      .withColumn("sse_right", expr(sse("(n - b)", "(st - ct)", "(stt - ctt)",
        "(sy - cy)", "(sty - cty)", "(syy - cyy)")))
      .withColumn("slope_left", expr(slope("b", "ct", "ctt", "cy", "cty")))
      .withColumn("slope_right", expr(slope("(n - b)", "(st - ct)",
        "(stt - ctt)", "(sy - cy)", "(sty - cty)")))
      .withColumn("sse_two", col("sse_left") + col("sse_right"))
    cands.orderBy(col("sse_two"), col("b")).limit(1)
      .crossJoin(broadcast(tot.select(
        expr(sse("n", "st", "stt", "sy", "sty", "syy")).as("sse_one"))))
      .select(col("n").as("n_days"), col("b").as("break_t"),
        col("break_day"),
        round(col("slope_left"), 6).as("slope_left_kd"),
        round(col("slope_right"), 6).as("slope_right_kd"),
        round(col("sse_two"), 4).as("sse_two"),
        round(col("sse_one"), 4).as("sse_one"),
        round((col("sse_one") - col("sse_two")) * 100.0 / col("sse_one"), 3)
          .as("gain_pct"))
  }

  private val segmentedOracle: String = {
    // DuckDB twins of the Spark-side macros: same three-part split, same
    // IEEE reassembly shape, HUGEINT in place of DECIMAL(38,0)
    def dbl(v: String): String =
      s"""((CASE WHEN ($v) < 0 THEN -1.0 ELSE 1.0 END) * (
         |  CAST(abs($v) // 4503599627370496 AS DOUBLE) * 4503599627370496.0
         |  + CAST((abs($v) % 4503599627370496) // 67108864 AS DOUBLE) * 67108864.0
         |  + CAST(abs($v) % 67108864 AS DOUBLE)))""".stripMargin
    def vtt(n: String, st: String, stt: String) =
      s"(CAST(($n) AS BIGINT) * ($stt) - ($st) * ($st))"
    def vty(n: String, st: String, sy: String, sty: String) =
      s"(CAST(($n) AS HUGEINT) * ($sty) - CAST(($st) AS HUGEINT) * ($sy))"
    def vyy(n: String, sy: String, syy: String) =
      s"(CAST(($n) AS HUGEINT) * ($syy) - ($sy) * ($sy))"
    def sse(n: String, st: String, stt: String, sy: String, sty: String,
        syy: String) =
      s"""((${dbl(vyy(n, sy, syy))}
         | - ${dbl(vty(n, st, sy, sty))} * ${dbl(vty(n, st, sy, sty))}
         |   / CAST(${vtt(n, st, stt)} AS DOUBLE)) / ($n) / 1e10)""".stripMargin
    def slope(n: String, st: String, stt: String, sy: String, sty: String) =
      s"""(${dbl(vty(n, st, sy, sty))} / CAST(${vtt(n, st, stt)} AS DOUBLE) / 1e5)"""
    val sseL = sse("p.t", "p.ct", "p.ctt", "p.cy", "p.cty", "p.cyy")
    val sseR = sse("o.n - p.t", "o.st - p.ct", "o.stt - p.ctt",
      "o.sy - p.cy", "o.sty - p.cty", "o.syy - p.cyy")
    s"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        CAST(CAST(SUM(CAST(o_totalprice / 1000.0 AS DECIMAL(18,6)))
          AS DECIMAL(28,6)) * 100000 AS HUGEINT) AS yi
      FROM orders GROUP BY 1),
    tt AS (SELECT day, yi, ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily),
    prefix AS MATERIALIZED (
      SELECT day, t,
        CAST(SUM(t) OVER w AS BIGINT) AS ct,
        CAST(SUM(CAST(t AS BIGINT) * t) OVER w AS BIGINT) AS ctt,
        CAST(SUM(yi) OVER w AS HUGEINT) AS cy,
        CAST(SUM(CAST(t AS HUGEINT) * yi) OVER w AS HUGEINT) AS cty,
        CAST(SUM(yi * yi) OVER w AS HUGEINT) AS cyy
      FROM tt
      WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        AND CURRENT ROW)),
    tot AS (
      SELECT t AS n, ct AS st, ctt AS stt, cy AS sy, cty AS sty, cyy AS syy
      FROM prefix ORDER BY t DESC LIMIT 1),
    grid AS (
      SELECT DISTINCT o.n * i // 10 AS b0
      FROM (SELECT unnest(generate_series(2, 9)) AS i) g, tot o),
    cands AS (
      SELECT p.t AS b, p.day AS break_day, o.n,
        ($sseL) + ($sseR) AS sse_two,
        ${slope("p.t", "p.ct", "p.ctt", "p.cy", "p.cty")} AS slope_left,
        ${slope("o.n - p.t", "o.st - p.ct", "o.stt - p.ctt",
          "o.sy - p.cy", "o.sty - p.cty")} AS slope_right
      FROM prefix p JOIN grid ON p.t = grid.b0 CROSS JOIN tot o
      WHERE p.t >= 2 AND o.n - p.t >= 2),
    best AS (
      SELECT * FROM cands ORDER BY sse_two, b LIMIT 1),
    one AS (
      SELECT ${sse("n", "st", "stt", "sy", "sty", "syy")} AS sse_one, n
      FROM tot)
    SELECT one.n AS n_days, best.b AS break_t, best.break_day,
      ROUND(best.slope_left, 6) AS slope_left_kd,
      ROUND(best.slope_right, 6) AS slope_right_kd,
      ROUND(best.sse_two, 4) AS sse_two,
      ROUND(one.sse_one, 4) AS sse_one,
      ROUND((one.sse_one - best.sse_two) * 100.0 / one.sse_one, 3)
        AS gain_pct
    FROM best, one"""
  }

  // ---------------------------------------------------------------- q399

  /** Ljung-Box portmanteau test (lags 1..5) on each type's daily
    * revenue series: is the series white noise? Each lag's
    * autocorrelation uses the GLOBAL-mean convention (the textbook LB
    * form) computed from exact decimal pair sums (q199's lag-join
    * machinery); Q = n(n+2)·Σ ρ_k²/(n−k) folds the ≤5 lag terms in
    * pinned lag order. The corpus collapses to the calendar-bounded
    * daily frame in one shuffle; lag joins run on that frame.
    */
  def ljungBox(events: DataFrame, maxLag: Int = 5): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("decimal(18,0)")).as("x"))
      .localCheckpoint()
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("decimal(38,0)").as("sy"),
        sum(col("x") * col("x")).cast("decimal(38,0)").as("syy"))
    val lags = (1 to maxLag).map { k =>
      val a = daily.select(col("event_type"), col("day"), col("x").as("xa"))
      val b = daily.select(col("event_type"),
        date_sub(col("day"), k).as("day"), col("x").as("xb"))
      a.join(b, Seq("event_type", "day"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("xa")).cast("decimal(38,0)").as("sa"),
          sum(col("xb")).cast("decimal(38,0)").as("sb"),
          sum(col("xa") * col("xb")).cast("decimal(38,0)").as("sab"))
        .withColumn("lag", lit(k.toLong))
    }
    lags.reduce(_.unionByName(_))
      .join(broadcast(tot), "event_type")
      .withColumn("rho", expr(
        """(CAST(sab AS DOUBLE)
          | - CAST(sy AS DOUBLE) / n * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
          | + n_pairs * (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
          |/ (CAST(syy AS DOUBLE)
          |   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)""".stripMargin))
      .groupBy("event_type")
      .agg(max("n").as("n_days"),
        round(max(when(col("lag") === 1, col("rho"))), 6).as("rho1"),
        round(expr("max(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE))")
          * osum(expr("rho * rho / CAST(n - lag AS DOUBLE)"), col("lag")), 6)
          .as("q_lb"))
      .orderBy("event_type")
  }

  private def lbLagSql(k: Int) = s"""
    SELECT event_type, CAST($k AS BIGINT) AS lag, COUNT(*) AS n_pairs,
      CAST(SUM(xa) AS DECIMAL(38,0)) AS sa,
      CAST(SUM(xb) AS DECIMAL(38,0)) AS sb,
      CAST(SUM(xa * xb) AS DECIMAL(38,0)) AS sab
    FROM (SELECT a.event_type, a.x AS xa, b.x AS xb
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND b.day = a.day + $k)
    GROUP BY event_type"""

  private val ljungBoxOracle = s"""
    WITH daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day,
        SUM(CAST(ROUND(value * 100, 0) AS DECIMAL(18,0))) AS x
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(x) AS DECIMAL(38,0)) AS sy,
        CAST(SUM(x * x) AS DECIMAL(38,0)) AS syy
      FROM daily GROUP BY 1),
    lags AS (${(1 to 5).map(lbLagSql).mkString(" UNION ALL ")}),
    rhos AS (
      SELECT l.event_type, l.lag, t.n,
        (CAST(sab AS DOUBLE)
         - CAST(sy AS DOUBLE) / n * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
         + n_pairs * (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
        / (CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) AS rho
      FROM lags l JOIN tot t USING (event_type))
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
      ROUND(MAX(CASE WHEN lag = 1 THEN rho END), 6) AS rho1,
      ROUND(MAX(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE))
        * list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(rho * rho / CAST(n - lag AS DOUBLE) ORDER BY lag)),
          (acc, x) -> acc + x), 6) AS q_lb
    FROM rhos GROUP BY event_type ORDER BY event_type"""

  // ---------------------------------------------------------------- q400

  /** Hurst exponent by rescaled-range analysis of each type's daily
    * revenue: the series splits into full windows of w ∈ {5, 10, 15}
    * days, each window's range of cumulative mean-deviations is held
    * EXACT by the w-scaling trick (d_t·w = w·cum_t − t·S_w, an
    * integer), R/S = (max−min)·w-scaled over sqrt(w·Σy² − S_w²), and
    * H is the ln-ln slope over the three window sizes (pinned folds:
    * windows by index, then sizes by w). Long-memory diagnostic for
    * sampling/sharding decisions; all window work is calendar-bounded.
    */
  def hurstRs(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("decimal(18,0)")).as("y"))
      .withColumn("rn",
        row_number().over(Window.partitionBy("event_type").orderBy("day")))
      .localCheckpoint()
    // d_t·w = w·cum_t − t·S_w needs S_w inside the window expression, so
    // compute it in two passes over the daily frame: per-window totals
    // first, then the scaled deviations against the joined totals.
    val perW = Seq(5, 10, 15).map { w =>
      val win = daily
        .withColumn("win", expr(s"CAST((rn - 1) DIV $w AS LONG)"))
        .withColumn("t", expr(s"CAST((rn - 1) % $w + 1 AS LONG)"))
      val totals = win.groupBy("event_type", "win")
        .agg(count(lit(1)).as("cnt"),
          sum(col("y")).cast("decimal(38,0)").as("s"),
          sum(col("y") * col("y")).cast("decimal(38,0)").as("q"))
        .filter(col("cnt") === w)
      val cum = Window.partitionBy("event_type", "win").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val devs = win
        .withColumn("cumy", sum("y").over(cum).cast("decimal(38,0)"))
        .join(totals, Seq("event_type", "win"))
        .withColumn("d", expr(s"CAST($w AS DECIMAL(38,0)) * cumy - t * s"))
        .groupBy("event_type", "win")
        .agg((max("d") - min("d")).as("r2"),
          max(expr(s"CAST($w AS DECIMAL(38,0)) * q - s * s")).as("svar"))
        .filter(col("svar") > 0)
        .withColumn("rs", expr(
          "CAST(r2 AS DOUBLE) / sqrt(CAST(svar AS DOUBLE))"))
      devs.groupBy("event_type")
        .agg(count(lit(1)).as("n_win"),
          osum(col("rs"), col("win")).as("rs_sum"))
        .select(col("event_type"), lit(w.toLong).as("w"),
          col("n_win"), expr("rs_sum / n_win").as("mean_rs"))
    }
    perW.reduce(_.unionByName(_))
      .groupBy("event_type")
      .agg(
        round(max(when(col("w") === 5, col("mean_rs"))), 6).as("rs5"),
        round(max(when(col("w") === 10, col("mean_rs"))), 6).as("rs10"),
        round(max(when(col("w") === 15, col("mean_rs"))), 6).as("rs15"),
        sortedBy(struct(expr("ln(CAST(w AS DOUBLE))").as("x"),
          expr("ln(mean_rs)").as("y")), col("w")).as("pts"))
      .select(col("event_type"), col("rs5"), col("rs10"), col("rs15"),
        round(expr("""aggregate(pts,
          named_struct('m', CAST(0 AS DOUBLE), 'sx', CAST(0 AS DOUBLE),
            'sy', CAST(0 AS DOUBLE), 'sxx', CAST(0 AS DOUBLE),
            'sxy', CAST(0 AS DOUBLE)),
          (acc, p) -> named_struct('m', acc.m + 1.0, 'sx', acc.sx + p.x,
            'sy', acc.sy + p.y, 'sxx', acc.sxx + p.x * p.x,
            'sxy', acc.sxy + p.x * p.y),
          acc -> (acc.m * acc.sxy - acc.sx * acc.sy)
                 / (acc.m * acc.sxx - acc.sx * acc.sx))"""), 6).as("hurst"))
      .orderBy("event_type")
  }

  private def hurstWSql(w: Int) = s"""
    SELECT event_type, CAST($w AS BIGINT) AS w, win,
      CAST(MAX(d) - MIN(d) AS DOUBLE)
        / sqrt(CAST(MAX(svar) AS DOUBLE)) AS rs
    FROM (
      SELECT d.event_type, d.win, $w * d.cumy - d.t * t2.s AS d,
        $w * t2.q - t2.s * t2.s AS svar
      FROM (
        SELECT event_type, (rn - 1) // $w AS win, (rn - 1) % $w + 1 AS t,
          CAST(SUM(y) OVER (PARTITION BY event_type, (rn - 1) // $w
            ORDER BY rn ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,0)) AS cumy
        FROM daily) d
      JOIN (
        SELECT event_type, (rn - 1) // $w AS win, COUNT(*) AS cnt,
          CAST(SUM(y) AS DECIMAL(38,0)) AS s,
          CAST(SUM(y * y) AS DECIMAL(38,0)) AS q
        FROM daily GROUP BY 1, 2) t2
        ON d.event_type = t2.event_type AND d.win = t2.win
      WHERE t2.cnt = $w)
    GROUP BY event_type, win
    HAVING MAX(svar) > 0"""

  private val hurstOracle = s"""
    WITH daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day,
        SUM(CAST(ROUND(value * 100, 0) AS DECIMAL(18,0))) AS y,
        row_number() OVER (PARTITION BY event_type
          ORDER BY CAST(ts AS DATE)) AS rn
      FROM events GROUP BY 1, 2),
    wins AS (${Seq(5, 10, 15).map(hurstWSql).mkString(" UNION ALL ")}),
    mean_rs AS (
      SELECT event_type, w, COUNT(*) AS n_win,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list(rs ORDER BY win)),
          (acc, x) -> acc + x) / COUNT(*) AS mean_rs
      FROM wins GROUP BY 1, 2),
    pts AS (
      SELECT event_type,
        list(ln(CAST(w AS DOUBLE)) ORDER BY w) AS xs,
        list(ln(mean_rs) ORDER BY w) AS ys,
        ROUND(MAX(CASE WHEN w = 5 THEN mean_rs END), 6) AS rs5,
        ROUND(MAX(CASE WHEN w = 10 THEN mean_rs END), 6) AS rs10,
        ROUND(MAX(CASE WHEN w = 15 THEN mean_rs END), 6) AS rs15
      FROM mean_rs GROUP BY event_type)
    SELECT event_type, rs5, rs10, rs15,
      ROUND((3.0 * (xs[1] * ys[1] + xs[2] * ys[2] + xs[3] * ys[3])
             - (xs[1] + xs[2] + xs[3]) * (ys[1] + ys[2] + ys[3]))
        / (3.0 * (xs[1] * xs[1] + xs[2] * xs[2] + xs[3] * xs[3])
           - (xs[1] + xs[2] + xs[3]) * (xs[1] + xs[2] + xs[3])), 6) AS hurst
    FROM pts ORDER BY event_type"""

  // ---------------------------------------------------------------- q401

  /** Dickey-Fuller unit-root statistic (drift form, no augmentation)
    * per event type: Δy_t regressed on y_{t−1} over the daily series,
    * DF = β̂/se(β̂) from the closed-form OLS over six EXACT decimal
    * moment sums — the stationarity gate a forecasting pipeline runs
    * before trusting trend models. One calendar-bounded lag join.
    */
  def dfUnitRoot(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100).cast("decimal(18,0)")).as("y"))
      .localCheckpoint()
    val a = daily.select(col("event_type"), col("day"), col("y").as("yt"))
    // b keyed at origday+1: joining on a.day pairs y_t with y_{t-1}
    val b = daily.select(col("event_type"),
      date_add(col("day"), 1).as("day"), col("y").as("ylag"))
    a.join(b, Seq("event_type", "day"))
      .select(col("event_type"), col("ylag").as("x"),
        (col("yt") - col("ylag")).as("d"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("decimal(38,0)").as("sx"),
        sum(col("x") * col("x")).cast("decimal(38,0)").as("sxx"),
        sum(col("d")).cast("decimal(38,0)").as("sd"),
        sum(col("d") * col("d")).cast("decimal(38,0)").as("sdd"),
        sum(col("x") * col("d")).cast("decimal(38,0)").as("sxd"))
      .withColumn("sxxc", expr(
        "CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n"))
      .withColumn("beta", expr(
        "(CAST(sxd AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sd AS DOUBLE) / n) / sxxc"))
      .withColumn("rss", expr(
        """(CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / n)
          |- beta * beta * sxxc""".stripMargin))
      .select(col("event_type"), col("n").as("n_pairs"),
        round(col("beta"), 6).as("beta"),
        round(expr("beta / sqrt(rss / CAST(n - 2 AS DOUBLE) / sxxc)"), 6)
          .as("df_stat"))
      .orderBy("event_type")
  }

  private val dfOracle = """
    WITH daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day,
        SUM(CAST(ROUND(value * 100, 0) AS DECIMAL(18,0))) AS y
      FROM events GROUP BY 1, 2),
    pairs AS (
      SELECT a.event_type, b.y AS x, a.y - b.y AS d
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day = b.day + 1),
    mom AS (
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
        CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx,
        CAST(SUM(d) AS DECIMAL(38,0)) AS sd,
        CAST(SUM(d * d) AS DECIMAL(38,0)) AS sdd,
        CAST(SUM(x * d) AS DECIMAL(38,0)) AS sxd
      FROM pairs GROUP BY 1),
    fit AS (
      SELECT *,
        CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n
          AS sxxc,
        (CAST(sxd AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sd AS DOUBLE) / n)
          / (CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) AS beta
      FROM mom)
    SELECT event_type, n AS n_pairs, ROUND(beta, 6) AS beta,
      ROUND(beta / sqrt(((CAST(sdd AS DOUBLE)
          - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / n)
          - beta * beta * sxxc) / CAST(n - 2 AS DOUBLE) / sxxc), 6) AS df_stat
    FROM fit ORDER BY event_type"""

  override def queries: Seq[Q] = Seq(
    Q("q399_ljung_box", (s, d) => ljungBox(events(s, d)), Some(ljungBoxOracle)),
    Q("q400_hurst_rs", (s, d) => hurstRs(events(s, d)), Some(hurstOracle)),
    Q("q401_df_unit_root",
      (s, d) => dfUnitRoot(events(s, d)), Some(dfOracle)),
    Q("q376_segmented_trend",
      (s, d) => segmentedTrend(orders(s, d)), Some(segmentedOracle)),
    Q("q360_slo_burn", (s, d) => sloBurn(events(s, d)), Some(sloOracle)),
    Q("q334_weibull_fit",
      (s, d) => weibullFit(events(s, d)), Some(weibullOracle)),
    Q("q343_gumbel_maxima",
      (s, d) => gumbelMaxima(orders(s, d)), Some(gumbelOracle)),
    Q("q300_runs_test", (s, d) => runsTest(orders(s, d)), Some(runsOracle)),
    Q("q301_interarrival",
      (s, d) => interarrival(events(s, d)), Some(interarrivalOracle)),
    Q("q302_periodogram",
      (s, d) => periodogram(events(s, d)), Some(periodogramOracle)),
    Q("q303_durbin_watson",
      (s, d) => durbinWatson(orders(s, d)), Some(dwOracle)),
    Q("q304_theil_index",
      (s, d) => theilIndex(orders(s, d), customer(s, d)), Some(theilOracle)),
    Q("q305_rate_limit_audit",
      (s, d) => rateLimitAudit(events(s, d)), Some(rateLimitOracle)),
    Q("q311_federated_quantiles",
      (s, d) => federatedQuantiles(lineitem(s, d)), Some(federatedOracle)),
    Q("q312_ltv_cohorts", (s, d) => ltvCohorts(orders(s, d)), Some(ltvOracle)),
    Q("q313_haar_compaction",
      (s, d) => haarCompaction(orders(s, d)), Some(haarOracle)),
    Q("q315_tukey_fences",
      (s, d) => tukeyFences(events(s, d)), Some(tukeyOracle)),
    Q("q317_gpd_tail", (s, d) => gpdTail(orders(s, d)), Some(gpdOracle)),
    Q("q320_granger_lite",
      (s, d) => grangerLite(events(s, d)), Some(grangerOracle)),
    Q("q321_latency_histogram",
      (s, d) => latencyHistogram(events(s, d)), Some(latencyOracle)),
  )
}
