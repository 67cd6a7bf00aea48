package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Num._
import graft.Tables._

/** Parameter-sweep tuning audits, round 8 of the extension surface
  * (none exist in the reference): the sorted-neighborhood blocking
  * window sweep (recall vs candidate budget — the knob behind q192's
  * record linkage), the sessionization gap sweep (how session counts
  * respond to the inactivity threshold), and the historical VaR/CVaR
  * tail battery. Each sweep evaluates a handful of parameter values
  * against exact ground truth in one or two corpus passes — the
  * measured basis for choosing a default instead of folklore.
  *
  * Exactness: pair counts, session counts and tail ranks are exact
  * integers; rates are integer-DIV ppm or doubles of exact pairs;
  * CVaR means are exact decimal sums. Scale: the blocking sweep emits
  * n·w_max candidate rows (w_max = 10, linear); session deltas are one
  * window pass; tails are per-group rank filters.
  */
object Tuning extends QueryModule {

  // ---------------------------------------------------------------- q385

  /** Sorted-neighborhood blocking sweep over windows w ∈ {2, 5, 10}
    * on the n_chars sort key: candidates = pairs within w positions;
    * ground truth = exact-duplicate text pairs (same md5). Reports the
    * candidate budget and the exact recall each window buys.
    */
  def blockingSweep(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    val keyed = docs.select(col("doc_id"), col("n_chars"),
        md5(col("text").cast("binary")).as("h"))
      .withColumn("r", row_number().over(
        Window.orderBy(col("n_chars"), col("doc_id"))))
      .localCheckpoint()
    val truth = keyed.groupBy("h").agg(count(lit(1)).as("m"))
      .agg(sum(expr("m * (m - 1) DIV 2")).as("true_pairs"))
    val wmax = 10
    val offsets = s.range(1, wmax + 1).select(col("id").as("o"))
    val pairs = keyed.crossJoin(broadcast(offsets))
      .select((col("r") + col("o")).as("r2"), col("o"),
        col("h").as("h1"))
      .join(keyed.select(col("r").as("r2"), col("h").as("h2")), "r2")
      .select(col("o"), (col("h1") === col("h2")).cast("long").as("dup"))
      .localCheckpoint()
    Seq(2, 5, 10).map { w =>
      pairs.filter(col("o") <= w)
        .agg(count(lit(1)).as("candidates"), sum("dup").as("caught"))
        .crossJoin(broadcast(truth))
        .select(lit(w.toLong).as("win"), col("candidates"),
          col("true_pairs"), col("caught"),
          when(col("true_pairs") > 0,
            expr("caught * 1000000 DIV true_pairs")).as("recall_ppm"))
    }.reduce(_ unionAll _).orderBy("win")
  }

  private val blockingOracle = """
    WITH keyed AS MATERIALIZED (
      SELECT doc_id, n_chars, md5(text) AS h,
        ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS r
      FROM documents),
    truth AS (
      SELECT CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS true_pairs FROM (
        SELECT COUNT(*) AS m FROM keyed GROUP BY h)),
    pairs AS MATERIALIZED (
      SELECT o.o, CASE WHEN a.h = b.h THEN 1 ELSE 0 END AS dup
      FROM keyed a
      CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS o) o
      JOIN keyed b ON b.r = a.r + o.o),
    ws AS (SELECT unnest([2, 5, 10]) AS w),
    swept AS (
      SELECT w, COUNT(*) AS candidates, CAST(SUM(dup) AS BIGINT) AS caught
      FROM pairs, ws WHERE o <= w GROUP BY w)
    SELECT CAST(w AS BIGINT) AS win, candidates, true_pairs, caught,
      CASE WHEN true_pairs > 0 THEN caught * 1000000 // true_pairs END
        AS recall_ppm
    FROM swept, truth ORDER BY win"""

  // ---------------------------------------------------------------- q386

  /** Sessionization gap sweep: for inactivity thresholds of 5, 30 and
    * 120 minutes, the exact session count (1 + over-gap transitions
    * per user) and mean session size — the sensitivity curve behind
    * the 30-minute default every q19-style sessionizer inherits.
    * One window pass computes every user's inter-event gaps; each
    * threshold is a conditional sum over that gap frame.
    */
  def sessionGapSweep(events: DataFrame): DataFrame = {
    val gaps = events
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .withColumn("prev", lag("us", 1).over(
        Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))))
      .select(col("user_id"), (col("us") - col("prev")).as("gap_us"))
      .localCheckpoint()
    val users = gaps.agg(countDistinct("user_id").as("n_users"),
      count(lit(1)).as("n_rows"))
    Seq(5L, 30L, 120L).map { g =>
      val thresh = g * 60L * 1000000L
      gaps.agg(
          sum((col("gap_us").isNotNull && col("gap_us") > thresh)
            .cast("long")).as("breaks"))
        .crossJoin(broadcast(users))
        .select(lit(g).as("gap_minutes"),
          (col("n_users") + col("breaks")).as("n_sessions"),
          // n_rows counts events incl. each user's first (gap NULL)
          expr("(n_rows) * 1000 DIV (n_users + breaks)")
            .as("events_per_session_milli"))
    }.reduce(_ unionAll _).orderBy("gap_minutes")
  }

  private val sessionGapOracle = """
    WITH gaps AS MATERIALIZED (
      SELECT user_id,
        epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
          ORDER BY epoch_us(ts), event_id) AS gap_us
      FROM events),
    users AS (
      SELECT COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_rows
      FROM gaps),
    gs AS (SELECT unnest([5, 30, 120]) AS g),
    swept AS (
      SELECT g,
        CAST(SUM(CASE WHEN gap_us IS NOT NULL
          AND gap_us > CAST(g AS BIGINT) * 60 * 1000000 THEN 1 ELSE 0 END) AS BIGINT)
          AS breaks
      FROM gaps, gs GROUP BY g)
    SELECT CAST(g AS BIGINT) AS gap_minutes,
      n_users + breaks AS n_sessions,
      n_rows * 1000 // (n_users + breaks) AS events_per_session_milli
    FROM swept, users ORDER BY gap_minutes"""

  // ---------------------------------------------------------------- q387

  /** Historical VaR/CVaR per event type at the 95% level: VaR = the
    * rank-exact lower 95th percentile of value, CVaR = the exact
    * decimal mean of the tail at or above it — the risk pair that
    * prices the worst 5%. Per-group rank windows; the tail mean is a
    * conditional decimal sum, no second sort.
    */
  def varCvar(events: DataFrame): DataFrame = {
    val ranked = events.select(col("event_type"), col("value"),
        col("event_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
    val varRow = ranked.filter(col("rk") === expr("(n * 95) DIV 100"))
      .select(col("event_type"), col("value").as("var95"))
    ranked.join(broadcast(varRow), "event_type")
      .filter(col("value") >= col("var95"))
      .groupBy("event_type", "var95", "n")
      .agg(count(lit(1)).as("tail_n"),
        sum(dec(col("value"), 6)).cast("decimal(28,6)").as("ts"))
      .select(col("event_type"), col("n"),
        round(col("var95"), 6).as("var95"),
        col("tail_n"),
        round(expr("CAST(ts AS DOUBLE) / tail_n"), 6).as("cvar95"))
      .orderBy("event_type")
  }

  private val varOracle = """
    WITH ranked AS MATERIALIZED (
      SELECT event_type, value, event_id,
        ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY value, event_id) AS rk,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    v AS (
      SELECT event_type, value AS var95 FROM ranked
      WHERE rk = (n * 95) // 100),
    tail AS (
      SELECT r.event_type, MAX(r.n) AS n, MAX(v.var95) AS var95,
        COUNT(*) AS tail_n,
        CAST(SUM(CAST(r.value AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS ts
      FROM ranked r JOIN v ON v.event_type = r.event_type
      WHERE r.value >= v.var95
      GROUP BY r.event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n,
      ROUND(var95, 6) AS var95, tail_n,
      ROUND(CAST(ts AS DOUBLE) / tail_n, 6) AS cvar95
    FROM tail ORDER BY event_type"""

  // ---------------------------------------------------------------- q388

  /** Watermark-delay advisor: using q346's lateness definition
    * (running-max event time − event time in arrival order), evaluate
    * candidate watermark delays {0, 1, 5, 15} minutes — rows a
    * streaming job would DROP under each delay, the drop rate in ppm,
    * and the exact completeness percentile each delay buys. Turns the
    * watermark knob into a measured trade instead of a default. The
    * running-max lateness pass distributes via the two-level bucket
    * decomposition ([[Warehouse.arrivalLatenessUs]] — no flat global
    * window), then conditional sums per candidate.
    */
  def watermarkAdvisor(events: DataFrame): DataFrame = {
    val late = Warehouse.arrivalLatenessUs(events)
      .select("event_id", "late_us")
      .localCheckpoint()
    val n = late.agg(count(lit(1)).as("n"))
    Seq(0L, 1L, 5L, 15L).map { d =>
      val thresh = d * 60L * 1000000L
      late.agg(sum((col("late_us") > thresh).cast("long")).as("dropped"))
        .crossJoin(broadcast(n))
        .select(lit(d).as("delay_minutes"), col("n"), col("dropped"),
          expr("dropped * 1000000 DIV n").as("drop_ppm"),
          expr("(n - dropped) * 10000 DIV n").as("completeness_bp"))
    }.reduce(_ unionAll _).orderBy("delay_minutes")
  }

  private val watermarkOracle = """
    WITH late AS MATERIALIZED (
      SELECT event_id,
        MAX(epoch_us(ts)) OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING)
          - epoch_us(ts) AS late_us
      FROM events),
    n AS (SELECT COUNT(*) AS n FROM late),
    ds AS (SELECT unnest([0, 1, 5, 15]) AS d),
    swept AS (
      SELECT d, CAST(SUM(CASE WHEN late_us > CAST(d AS BIGINT) * 60 * 1000000
        THEN 1 ELSE 0 END) AS BIGINT) AS dropped
      FROM late, ds GROUP BY d)
    SELECT CAST(d AS BIGINT) AS delay_minutes, n, dropped,
      dropped * 1000000 // n AS drop_ppm,
      (n - dropped) * 10000 // n AS completeness_bp
    FROM swept, n ORDER BY delay_minutes"""

  // ---------------------------------------------------------------- q390

  /** Seasonal-strength statistic per event type: with the day-of-week
    * profile as the seasonal component of the daily count series,
    * F_s = max(0, 1 − Var(remainder)/Var(detrended)) — Hyndman's
    * strength-of-seasonality, the one number that says whether weekly
    * seasonality is worth modeling. Variances are doubles of exact
    * integer/decimal sums; the rollups are dow- and day-sized.
    */
  def seasonalStrength(events: DataFrame): DataFrame = {
    val daily = events.groupBy(col("event_type"),
        to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("dow", dayofweek(col("day")))
      .localCheckpoint()
    val grand = daily.groupBy("event_type")
      .agg(sum("c").as("sc"), count(lit(1)).as("nd"))
      .select(col("event_type"),
        expr("CAST(sc AS DOUBLE) / nd").as("gmean"))
    val dowMean = daily.groupBy("event_type", "dow")
      .agg(sum("c").as("sdc"), count(lit(1)).as("ndc"))
      .select(col("event_type"), col("dow"),
        expr("CAST(sdc AS DOUBLE) / ndc").as("dmean"))
    daily.join(broadcast(grand), "event_type")
      .join(broadcast(dowMean), Seq("event_type", "dow"))
      .select(col("event_type"),
        (col("c").cast("double") - col("gmean")).as("det"),
        (col("c").cast("double") - col("dmean")).as("rem"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(expr("CAST(det * det AS DECIMAL(18,6))")).cast("decimal(28,6)")
          .as("sdet"),
        sum(expr("CAST(rem * rem AS DECIMAL(18,6))")).cast("decimal(28,6)")
          .as("srem"))
      .select(col("event_type"), col("n_days"),
        round(expr("""GREATEST(CAST(0.0 AS DOUBLE),
          CAST(1.0 AS DOUBLE) - CAST(srem AS DOUBLE)
            / CAST(sdet AS DOUBLE))"""), 6).as("seasonal_strength"))
      .orderBy("event_type")
  }

  private val seasonalOracle = """
    WITH daily AS MATERIALIZED (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c,
        dayofweek(CAST(ts AS DATE)) AS dow
      FROM events GROUP BY 1, 2),
    grand AS (
      SELECT event_type, CAST(SUM(c) AS DOUBLE) / COUNT(*) AS gmean
      FROM daily GROUP BY 1),
    dow_mean AS (
      SELECT event_type, dow, CAST(SUM(c) AS DOUBLE) / COUNT(*) AS dmean
      FROM daily GROUP BY 1, 2),
    terms AS (
      SELECT d.event_type,
        CAST(d.c AS DOUBLE) - g.gmean AS det,
        CAST(d.c AS DOUBLE) - m.dmean AS rem
      FROM daily d JOIN grand g USING (event_type)
      JOIN dow_mean m ON m.event_type = d.event_type AND m.dow = d.dow),
    agg AS (
      SELECT event_type, COUNT(*) AS n_days,
        CAST(SUM(CAST(det * det AS DECIMAL(18,6))) AS DECIMAL(28,6))
          AS sdet,
        CAST(SUM(CAST(rem * rem AS DECIMAL(18,6))) AS DECIMAL(28,6))
          AS srem
      FROM terms GROUP BY 1)
    SELECT event_type, n_days,
      ROUND(GREATEST(CAST(0.0 AS DOUBLE),
        CAST(1.0 AS DOUBLE) - CAST(srem AS DOUBLE) / CAST(sdet AS DOUBLE)),
        6) AS seasonal_strength
    FROM agg ORDER BY event_type"""

  // ------------------------------------------------------------ queries

  override def queries: Seq[Q] = Seq(
    Q("q388_watermark_advisor",
      (s, d) => watermarkAdvisor(events(s, d)), Some(watermarkOracle)),
    Q("q390_seasonal_strength",
      (s, d) => seasonalStrength(events(s, d)), Some(seasonalOracle)),
    Q("q385_blocking_sweep",
      (s, d) => blockingSweep(documents(s, d)), Some(blockingOracle)),
    Q("q386_session_gap_sweep",
      (s, d) => sessionGapSweep(events(s, d)), Some(sessionGapOracle)),
    Q("q387_var_cvar", (s, d) => varCvar(events(s, d)), Some(varOracle)),
  )
}
