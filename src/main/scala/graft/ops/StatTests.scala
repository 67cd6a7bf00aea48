package graft.ops

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Tables._
import graft.Num._

/** Multiple-testing and robust-inference operators a curation pipeline
  * runs over pipeline telemetry (SURVEY.md §2.9 extension surface):
  * Benjamini-Hochberg FDR control across a battery of segment tests,
  * the Brown-Forsythe (median-centered Levene) variance-homogeneity
  * test, the Mann-Kendall monotone-trend test with tie-corrected
  * variance, and Herfindahl-Hirschman revenue concentration. None
  * exist in the reference (its only audit is the split groupBy/count,
  * `03a_Model Training.py:93-94`).
  *
  * Shared scale discipline (see graft-oracle-exactness memory):
  *  - every sum that feeds a statistic is an exact DECIMAL sum of
  *    integer cents (or of exact 0.5/0.25-grained deviations), so the
  *    result is independent of partition/merge order;
  *  - doubles appear only in final fixed-shape expressions over those
  *    exact aggregates — identical inputs + IEEE determinism give
  *    bit-identical results in both engines;
  *  - the one cross-group float reduction (Levene's Σ s²/n) is a
  *    pinned-order fold over the ≤k group rows, never a parallel sum;
  *  - pairwise/test phases run on aggregated projections bounded by
  *    (group × calendar) cardinality, never on the raw corpus.
  */
object StatTests extends QueryModule {

  /** Abramowitz-Stegun 7.1.26 complementary-error-function polynomial,
    * emitted as the SAME textual expression for Spark and DuckDB so
    * both engines evaluate the identical IEEE double chain.
    */
  private def erfcOf(x: String): String = {
    val t = s"(1.0 / (1.0 + 0.3275911 * $x))"
    s"(((((1.061405429 * $t - 1.453152027) * $t + 1.421413741) * $t" +
      s" - 0.284496736) * $t + 0.254829592) * $t * exp(-($x) * ($x)))"
  }

  /** Benjamini-Hochberg FDR over a battery of (event_type × hour)
    * Welch z-tests of each cell's mean value against its complement.
    * Cell moments are exact decimal sums of integer cents; the
    * complement's moments are differences of exact totals, so no
    * second pass over the data is needed. p-values come from the
    * A&S 7.1.26 erfc polynomial (identical expression both engines),
    * and the BH step-up runs as two windows over the ~120-row test
    * frame: rank by p, then reject ranks ≤ k* = max{r : p ≤ αr/m}.
    * Scale: one group-keyed shuffle over the corpus; everything after
    * is test-cardinality-bounded.
    */
  def bhFdr(events: DataFrame): DataFrame = {
    val g = events
      .select(col("event_type"), hour(col("ts")).cast("long").as("hr"),
        (dec(col("value"), 2) * 100).cast("decimal(18,0)").as("cents"))
      .groupBy("event_type", "hr")
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).cast("decimal(38,0)").as("s"),
        sum((col("cents") * col("cents")).cast("decimal(38,0)")).as("q"))
    val tot = g.agg(sum("n").as("nn"),
      sum(col("s")).cast("decimal(38,0)").as("ss"),
      sum(col("q")).cast("decimal(38,0)").as("qq"))
    // totals stay corpus-wide (the complement is "everything else"),
    // but only cells with n >= 5 enter the tested family: an n=1 cell
    // has no variance estimate (n-1 = 0 divide) at tiny SFs
    val z = g.filter(col("n") >= 5).crossJoin(broadcast(tot))
      .withColumn("zstat", expr(
        """((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
          |  - CAST(ss - s AS DOUBLE) / CAST(nn - n AS DOUBLE))
          | / sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
          |          / CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE)
          |        + (CAST(qq - q AS DOUBLE) - CAST(ss - s AS DOUBLE) * CAST(ss - s AS DOUBLE) / CAST(nn - n AS DOUBLE))
          |          / CAST(nn - n - 1 AS DOUBLE) / CAST(nn - n AS DOUBLE)))""".stripMargin))
      .withColumn("x", expr("abs(zstat) / sqrt(2.0)"))
      .withColumn("p_raw", expr(erfcOf("x")))
    val byP = Window.orderBy(col("p_raw").asc, col("event_type").asc, col("hr").asc)
    val all = Window.partitionBy()
    z.withColumn("r", row_number().over(byP).cast("long"))
      .withColumn("m", count(lit(1)).over(all))
      .withColumn("crit", col("p_raw") <= lit(0.05) * col("r").cast("double") / col("m").cast("double"))
      .withColumn("kstar", max(when(col("crit"), col("r")).otherwise(0L)).over(all))
      .select(col("event_type"), col("hr"), col("n"),
        round(col("zstat"), 6).as("z"),
        round(col("p_raw"), 6).as("p"),
        col("r"), (col("r") <= col("kstar")).as("rejected"))
      .orderBy("r")
  }

  private val bhFdrOracle = s"""
    WITH c AS (
      SELECT event_type, hour(ts) AS hr,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS cents
      FROM events),
    g AS (
      SELECT event_type, hr, COUNT(*) AS n,
        CAST(SUM(cents) AS DECIMAL(38,0)) AS s,
        CAST(SUM(cents * cents) AS DECIMAL(38,0)) AS q
      FROM c GROUP BY 1, 2),
    tot AS (
      SELECT SUM(n) AS nn, CAST(SUM(s) AS DECIMAL(38,0)) AS ss,
        CAST(SUM(q) AS DECIMAL(38,0)) AS qq
      FROM g),
    z AS (
      SELECT event_type, hr, n,
        ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
          - CAST(ss - s AS DOUBLE) / CAST(nn - n AS DOUBLE))
         / sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  / CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE)
                + (CAST(qq - q AS DOUBLE) - CAST(ss - s AS DOUBLE) * CAST(ss - s AS DOUBLE) / CAST(nn - n AS DOUBLE))
                  / CAST(nn - n - 1 AS DOUBLE) / CAST(nn - n AS DOUBLE))) AS zstat
      FROM g, tot WHERE n >= 5),
    p AS (
      SELECT event_type, hr, n, zstat, x, ${erfcOf("x")} AS p_raw
      FROM (SELECT *, abs(zstat) / sqrt(2.0) AS x FROM z)),
    ranked AS (
      SELECT event_type, hr, n, zstat, p_raw,
        CAST(row_number() OVER (ORDER BY p_raw, event_type, hr) AS BIGINT) AS r,
        COUNT(*) OVER () AS m
      FROM p),
    k AS (
      SELECT *, MAX(CASE WHEN p_raw <= 0.05 * CAST(r AS DOUBLE) / CAST(m AS DOUBLE)
                         THEN r ELSE 0 END) OVER () AS kstar
      FROM ranked)
    SELECT event_type, hr, CAST(n AS BIGINT) AS n, ROUND(zstat, 6) AS z,
      ROUND(p_raw, 6) AS p, r, r <= kstar AS rejected
    FROM k ORDER BY r"""

  /** Brown-Forsythe variance-homogeneity test (Levene with group
    * medians): z_ij = |cents_ij − median_j|, then the one-way ANOVA F
    * on z. Working in integer cents makes every z an exact multiple of
    * 0.5 (interpolated medians of integer multisets land on .0/.5), so
    * Σz / Σz² are exact DECIMAL(·,1)/(·,2) sums; the only cross-group
    * float reduction, Σ s_j²/n_j, folds in pinned event_type order.
    */
  def leveneTest(events: DataFrame): DataFrame = {
    val c = events.select(col("event_type"),
      (dec(col("value"), 2) * 100).cast("double").as("cents"))
    val med = c.groupBy("event_type").agg(expr("percentile(cents, 0.5)").as("med"))
    val z = c.join(broadcast(med), "event_type")
      .select(col("event_type"), abs(col("cents") - col("med")).as("z"))
    val grp = z.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("z").cast("decimal(28,1)")).as("s"),
      sum((col("z") * col("z")).cast("decimal(28,2)")).as("q"))
    grp.agg(
      count(lit(1)).as("k"),
      sum("n").as("n"),
      sum(col("s")).cast("decimal(38,1)").as("stot"),
      sum(col("q")).cast("decimal(38,2)").as("qtot"),
      osum(expr("CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"),
        col("event_type")).as("ssq"))
      .select(col("k"), col("n"),
        round(expr("CAST(stot AS DOUBLE) / CAST(n AS DOUBLE) / 100.0"), 6)
          .as("mean_adev"),
        round(expr(
          """((ssq - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(n AS DOUBLE))
            |   / CAST(k - 1 AS DOUBLE))
            | / ((CAST(qtot AS DOUBLE) - ssq) / CAST(n - k AS DOUBLE))""".stripMargin), 6)
          .as("f_bf"))
  }

  private val leveneOracle = """
    WITH c AS (
      SELECT event_type,
        CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS DOUBLE) AS cents
      FROM events),
    med AS (
      SELECT event_type, quantile_cont(cents, 0.5) AS med
      FROM c GROUP BY 1),
    z AS (
      SELECT c.event_type, ABS(c.cents - m.med) AS z
      FROM c JOIN med m USING (event_type)),
    grp AS (
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(z AS DECIMAL(28,1))) AS DECIMAL(28,1)) AS s,
        CAST(SUM(CAST(z * z AS DECIMAL(28,2))) AS DECIMAL(28,2)) AS q
      FROM z GROUP BY 1),
    agg AS (
      SELECT COUNT(*) AS k, SUM(n) AS n,
        CAST(SUM(s) AS DECIMAL(38,1)) AS stot,
        CAST(SUM(q) AS DECIMAL(38,2)) AS qtot,
        list_reduce(
          list_prepend(CAST(0 AS DOUBLE),
            list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                 ORDER BY event_type)),
          (acc, x) -> acc + x) AS ssq
      FROM grp)
    SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
      ROUND(CAST(stot AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS mean_adev,
      ROUND(((ssq - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(n AS DOUBLE))
               / CAST(k - 1 AS DOUBLE))
             / ((CAST(qtot AS DOUBLE) - ssq) / CAST(n - k AS DOUBLE)), 6) AS f_bf
    FROM agg"""

  /** Mann-Kendall monotone-trend test on the monthly revenue series per
    * order priority: S = Σ_{i<j} sign(x_j − x_i) over exact integer
    * cents (every comparison exact), tie-corrected variance
    * Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, and the
    * continuity-corrected z. The pairwise phase runs on the
    * calendar-bounded (priority × month) aggregate — ~80 months per
    * group regardless of corpus size — never on raw orders.
    */
  def mannKendall(orders: DataFrame): DataFrame = {
    val m = orders.groupBy(col("o_orderpriority").as("prio"),
        date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
      .agg(sum(round(col("o_totalprice") * 100).cast("decimal(18,0)")).as("cents"))
    val s = m.as("a").join(m.as("b"),
        col("a.prio") === col("b.prio") && col("a.mon") < col("b.mon"))
      .groupBy(col("a.prio").as("prio"))
      .agg(sum(signum((col("b.cents") - col("a.cents")).cast("double")).cast("long"))
        .as("s_stat"))
    val nm = m.groupBy("prio").agg(count(lit(1)).as("n_months"))
    val ties = m.groupBy("prio", "cents").agg(count(lit(1)).as("t"))
      .filter(col("t") > 1)
      .groupBy("prio")
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie_term"))
    s.join(nm, "prio").join(ties, Seq("prio"), "left")
      .withColumn("tt", coalesce(col("tie_term"), lit(0L)))
      .withColumn("var_s", expr(
        """(CAST(n_months AS DOUBLE) * CAST(n_months - 1 AS DOUBLE)
          |  * CAST(2 * n_months + 5 AS DOUBLE) - CAST(tt AS DOUBLE)) / 18.0""".stripMargin))
      .withColumn("z", expr(
        """CASE WHEN var_s <= 0.0 THEN 0.0
          |     WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
          |     WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
          |     ELSE 0.0 END""".stripMargin))
      .select(col("prio"), col("n_months"), col("s_stat"),
        round(col("var_s"), 6).as("var_s"), round(col("z"), 6).as("z"),
        when(col("z") > 1.96, lit("up"))
          .when(col("z") < -1.96, lit("down")).otherwise(lit("none")).as("trend"))
      .orderBy("prio")
  }

  private val mannKendallOracle = """
    WITH m AS (
      SELECT o_orderpriority AS prio,
        CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS cents
      FROM orders GROUP BY 1, 2),
    s AS (
      SELECT a.prio, CAST(SUM(CAST(sign(CAST(b.cents - a.cents AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s_stat
      FROM m a JOIN m b ON a.prio = b.prio AND a.mon < b.mon
      GROUP BY 1),
    nm AS (SELECT prio, COUNT(*) AS n_months FROM m GROUP BY 1),
    ties AS (
      SELECT prio, SUM(t * (t - 1) * (2 * t + 5)) AS tie_term
      FROM (SELECT prio, cents, COUNT(*) AS t FROM m GROUP BY 1, 2)
      WHERE t > 1 GROUP BY 1),
    j AS (
      SELECT s.prio, nm.n_months, s.s_stat,
        COALESCE(ties.tie_term, 0) AS tt
      FROM s JOIN nm USING (prio) LEFT JOIN ties ON s.prio = ties.prio),
    v AS (
      SELECT prio, n_months, s_stat,
        (CAST(n_months AS DOUBLE) * CAST(n_months - 1 AS DOUBLE)
           * CAST(2 * n_months + 5 AS DOUBLE) - CAST(tt AS DOUBLE)) / 18.0 AS var_s
      FROM j),
    z AS (
      SELECT *, CASE WHEN var_s <= 0.0 THEN 0.0
                     WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
                     WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
                     ELSE 0.0 END AS z
      FROM v)
    SELECT prio, CAST(n_months AS BIGINT) AS n_months, s_stat,
      ROUND(var_s, 6) AS var_s, ROUND(z, 6) AS z,
      CASE WHEN z > 1.96 THEN 'up' WHEN z < -1.96 THEN 'down' ELSE 'none' END AS trend
    FROM z ORDER BY prio"""

  /** Herfindahl-Hirschman revenue concentration per region: HHI =
    * Σ_n share_n² computed as Σc² / (Σc)² over exact per-nation cent
    * totals — the squared-sum form needs ONE double division instead
    * of a float sum of shares, so it is order-independent by
    * construction. Dimensions broadcast; one group-keyed shuffle.
    */
  def hhiConcentration(orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    val cents = orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(round(col("o_totalprice") * 100).cast("decimal(18,0)"))
        .cast("decimal(38,0)").as("c"))
    cents.groupBy("r_name")
      .agg(count(lit(1)).as("n_nations"),
        sum(col("c")).cast("decimal(38,0)").as("ctot"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("c2tot"))
      .select(col("r_name"), col("n_nations"),
        round(col("ctot").cast("double") / 100.0, 2).as("revenue"),
        round(expr(
          "CAST(c2tot AS DOUBLE) / (CAST(ctot AS DOUBLE) * CAST(ctot AS DOUBLE))"), 6)
          .as("hhi"),
        round(expr(
          "(CAST(ctot AS DOUBLE) * CAST(ctot AS DOUBLE)) / CAST(c2tot AS DOUBLE)"), 6)
          .as("effective_n"))
      .orderBy("r_name")
  }

  private val hhiOracle = """
    WITH cents AS (
      SELECT r.r_name, n.n_name,
        CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS c
      FROM orders o
      JOIN customer cu ON o.o_custkey = cu.c_custkey
      JOIN nation n ON cu.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2),
    g AS (
      SELECT r_name, COUNT(*) AS n_nations,
        CAST(SUM(c) AS DECIMAL(38,0)) AS ctot,
        CAST(SUM(c * c) AS DECIMAL(38,0)) AS c2tot
      FROM cents GROUP BY 1)
    SELECT r_name, CAST(n_nations AS BIGINT) AS n_nations,
      ROUND(CAST(ctot AS DOUBLE) / 100.0, 2) AS revenue,
      ROUND(CAST(c2tot AS DOUBLE) / (CAST(ctot AS DOUBLE) * CAST(ctot AS DOUBLE)), 6) AS hhi,
      ROUND((CAST(ctot AS DOUBLE) * CAST(ctot AS DOUBLE)) / CAST(c2tot AS DOUBLE), 6) AS effective_n
    FROM g ORDER BY r_name"""

  /** Forecast-accuracy scaling (MASE): mean absolute error of the
    * one-step naive forecast over that of the seasonal-naive (lag-12)
    * forecast on the monthly revenue series. Errors are differences of
    * exact integer cents, so both MAEs are exact decimal averages; the
    * single final ratio is one double division. Calendar-bounded
    * series, one narrow window pass.
    */
  def maseForecast(orders: DataFrame): DataFrame = {
    val m = orders
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
      .agg(sum(round(col("o_totalprice") * 100).cast("decimal(18,0)")).as("cents"))
    val w = Window.orderBy("mon")
    m.withColumn("l1", lag("cents", 1).over(w))
      .withColumn("l12", lag("cents", 12).over(w))
      .filter(col("l12").isNotNull)
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("cents") - col("l1")).cast("decimal(38,0)")).as("e1"),
        sum(abs(col("cents") - col("l12")).cast("decimal(38,0)")).as("e12"))
      .select(col("n_eval"),
        round(expr("CAST(e1 AS DOUBLE) / CAST(n_eval AS DOUBLE) / 100.0"), 6).as("mae_naive"),
        round(expr("CAST(e12 AS DOUBLE) / CAST(n_eval AS DOUBLE) / 100.0"), 6).as("mae_seasonal"),
        round(expr("CAST(e1 AS DOUBLE) / CAST(e12 AS DOUBLE)"), 6).as("mase"))
  }

  private val maseOracle = """
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS cents
      FROM orders GROUP BY 1),
    l AS (
      SELECT mon, cents,
        lag(cents, 1) OVER (ORDER BY mon) AS l1,
        lag(cents, 12) OVER (ORDER BY mon) AS l12
      FROM m),
    e AS (
      SELECT COUNT(*) AS n_eval,
        CAST(SUM(ABS(cents - l1)) AS DECIMAL(38,0)) AS e1,
        CAST(SUM(ABS(cents - l12)) AS DECIMAL(38,0)) AS e12
      FROM l WHERE l12 IS NOT NULL)
    SELECT CAST(n_eval AS BIGINT) AS n_eval,
      ROUND(CAST(e1 AS DOUBLE) / CAST(n_eval AS DOUBLE) / 100.0, 6) AS mae_naive,
      ROUND(CAST(e12 AS DOUBLE) / CAST(n_eval AS DOUBLE) / 100.0, 6) AS mae_seasonal,
      ROUND(CAST(e1 AS DOUBLE) / CAST(e12 AS DOUBLE), 6) AS mase
    FROM e"""

  /** Cramér's V (plus the Bergsma bias-corrected variant) for the
    * event_type × day-of-week contingency table. Cell/marginal counts
    * are exact integers; each cell's χ² term is a fixed double
    * expression and the ~35-cell reduction folds in pinned (type, dow)
    * order. Spark's dayofweek is 1=Sunday; DuckDB's is 0-based, so the
    * oracle adds 1.
    */
  def cramersV(events: DataFrame): DataFrame = {
    val obs = events
      .select(col("event_type").as("et"), dayofweek(col("ts")).cast("long").as("dw"))
      .groupBy("et", "dw").agg(count(lit(1)).as("nij"))
    // χ² sums over the FULL r×c grid: an absent (type, dow) cell still
    // contributes (0−e)²/e, so zero cells are materialized explicitly
    val cells = obs.select("et").distinct()
      .crossJoin(obs.select("dw").distinct())
      .join(obs, Seq("et", "dw"), "left")
      .withColumn("nij", coalesce(col("nij"), lit(0L)))
    val rm = cells.groupBy("et").agg(sum("nij").as("ri"))
    val cm = cells.groupBy("dw").agg(sum("nij").as("cj"))
    val tot = cells.agg(sum("nij").as("nn"),
      countDistinct("et").as("r"), countDistinct("dw").as("c"))
    cells.join(broadcast(rm), "et").join(broadcast(cm), "dw")
      .crossJoin(broadcast(tot))
      .withColumn("term", expr(
        """(CAST(nij AS DOUBLE) - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(nn AS DOUBLE))
          | * (CAST(nij AS DOUBLE) - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(nn AS DOUBLE))
          | / (CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(nn AS DOUBLE))""".stripMargin))
      .groupBy(col("nn"), col("r"), col("c"))
      .agg(osum(col("term"), col("et"), col("dw")).as("chi2"))
      .select(col("nn").as("n"), col("r"), col("c"),
        round(col("chi2"), 6).as("chi2"),
        round(expr("sqrt(chi2 / (CAST(nn AS DOUBLE) * CAST(least(r, c) - 1 AS DOUBLE)))"), 6)
          .as("v"),
        round(expr(
          """sqrt(greatest(0.0, chi2 / CAST(nn AS DOUBLE)
            |  - CAST(r - 1 AS DOUBLE) * CAST(c - 1 AS DOUBLE) / CAST(nn - 1 AS DOUBLE))
            | / least(CAST(r AS DOUBLE) - CAST(r - 1 AS DOUBLE) * CAST(r - 1 AS DOUBLE) / CAST(nn - 1 AS DOUBLE) - 1.0,
            |         CAST(c AS DOUBLE) - CAST(c - 1 AS DOUBLE) * CAST(c - 1 AS DOUBLE) / CAST(nn - 1 AS DOUBLE) - 1.0))""".stripMargin), 6)
          .as("v_corrected"))
  }

  private val cramersOracle = """
    WITH obs AS (
      SELECT event_type AS et, CAST(dayofweek(ts) + 1 AS BIGINT) AS dw, COUNT(*) AS nij
      FROM events GROUP BY 1, 2),
    cells AS (
      SELECT e.et, d.dw, COALESCE(obs.nij, 0) AS nij
      FROM (SELECT DISTINCT et FROM obs) e
      CROSS JOIN (SELECT DISTINCT dw FROM obs) d
      LEFT JOIN obs ON obs.et = e.et AND obs.dw = d.dw),
    rm AS (SELECT et, SUM(nij) AS ri FROM cells GROUP BY 1),
    cm AS (SELECT dw, SUM(nij) AS cj FROM cells GROUP BY 1),
    tot AS (
      SELECT SUM(nij) AS nn, COUNT(DISTINCT et) AS r, COUNT(DISTINCT dw) AS c
      FROM cells),
    terms AS (
      SELECT cells.et, cells.dw, nn, r, c,
        (CAST(nij AS DOUBLE) - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(nn AS DOUBLE))
         * (CAST(nij AS DOUBLE) - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(nn AS DOUBLE))
         / (CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(nn AS DOUBLE)) AS term
      FROM cells JOIN rm USING (et) JOIN cm USING (dw), tot),
    agg AS (
      SELECT nn, r, c,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list(term ORDER BY et, dw)),
          (acc, x) -> acc + x) AS chi2
      FROM terms GROUP BY 1, 2, 3)
    SELECT CAST(nn AS BIGINT) AS n, CAST(r AS BIGINT) AS r, CAST(c AS BIGINT) AS c,
      ROUND(chi2, 6) AS chi2,
      ROUND(sqrt(chi2 / (CAST(nn AS DOUBLE) * CAST(least(r, c) - 1 AS DOUBLE))), 6) AS v,
      ROUND(sqrt(greatest(0.0, chi2 / CAST(nn AS DOUBLE)
          - CAST(r - 1 AS DOUBLE) * CAST(c - 1 AS DOUBLE) / CAST(nn - 1 AS DOUBLE))
        / least(CAST(r AS DOUBLE) - CAST(r - 1 AS DOUBLE) * CAST(r - 1 AS DOUBLE) / CAST(nn - 1 AS DOUBLE) - 1.0,
                CAST(c AS DOUBLE) - CAST(c - 1 AS DOUBLE) * CAST(c - 1 AS DOUBLE) / CAST(nn - 1 AS DOUBLE) - 1.0)), 6) AS v_corrected
    FROM agg"""

  /** Per-type overdispersion of user activity: Fano factor (variance /
    * mean of per-user event counts), squared coefficient of variation,
    * and the Goh-Barabási burstiness (σ−μ)/(σ+μ). Counts are exact
    * integers, moments exact decimal sums; one user-keyed then one
    * type-keyed shuffle.
    */
  def overdispersion(events: DataFrame): DataFrame = {
    val k = events.groupBy("event_type", "user_id").agg(count(lit(1)).as("k"))
    k.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        sum("k").as("s"),
        sum((col("k") * col("k")).cast("decimal(38,0)")).as("q"))
      .withColumn("mean_k", expr("CAST(s AS DOUBLE) / CAST(n_users AS DOUBLE)"))
      .withColumn("var_k", expr(
        """(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_users AS DOUBLE))
          | / CAST(n_users - 1 AS DOUBLE)""".stripMargin))
      .select(col("event_type"), col("n_users"), col("s").as("n_events"),
        round(col("mean_k"), 6).as("mean_k"),
        round(col("var_k"), 6).as("var_k"),
        round(expr("var_k / mean_k"), 6).as("fano"),
        round(expr("var_k / (mean_k * mean_k)"), 6).as("cv2"),
        round(expr("(sqrt(var_k) - mean_k) / (sqrt(var_k) + mean_k)"), 6).as("burstiness"))
      .orderBy("event_type")
  }

  private val overdispersionOracle = """
    WITH k AS (
      SELECT event_type, user_id, COUNT(*) AS k FROM events GROUP BY 1, 2),
    g AS (
      SELECT event_type, COUNT(*) AS n_users, SUM(k) AS s,
        CAST(SUM(k * k) AS DECIMAL(38,0)) AS q
      FROM k GROUP BY 1),
    m AS (
      SELECT event_type, n_users, s,
        CAST(s AS DOUBLE) / CAST(n_users AS DOUBLE) AS mean_k,
        (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_users AS DOUBLE))
          / CAST(n_users - 1 AS DOUBLE) AS var_k
      FROM g)
    SELECT event_type, CAST(n_users AS BIGINT) AS n_users, CAST(s AS BIGINT) AS n_events,
      ROUND(mean_k, 6) AS mean_k, ROUND(var_k, 6) AS var_k,
      ROUND(var_k / mean_k, 6) AS fano,
      ROUND(var_k / (mean_k * mean_k), 6) AS cv2,
      ROUND((sqrt(var_k) - mean_k) / (sqrt(var_k) + mean_k), 6) AS burstiness
    FROM m ORDER BY event_type"""

  /** Entropy rate of the per-user event-type Markov chain: H =
    * −Σ_{s,t} (n_st/N)·ln(n_st/n_s·) over exact transition counts,
    * folded in pinned (source, dest) order; perplexity = exp(H). The
    * transition extraction is the one user-keyed window pass; the fold
    * runs over the ≤|states|² aggregated cells.
    */
  def markovEntropy(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tr = events
      .withColumn("nxt", lead("event_type", 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("s"), col("nxt").as("d"))
      .agg(count(lit(1)).as("nst"))
    val rowTot = tr.groupBy("s").agg(sum("nst").as("ns"))
    val tot = tr.agg(sum("nst").as("nn"), countDistinct("s").as("n_states"))
    tr.join(broadcast(rowTot), "s").crossJoin(broadcast(tot))
      .withColumn("term", expr(
        """(CAST(nst AS DOUBLE) / CAST(nn AS DOUBLE))
          | * ln(CAST(nst AS DOUBLE) / CAST(ns AS DOUBLE))""".stripMargin))
      .groupBy(col("nn"), col("n_states"))
      .agg(osum(-col("term"), col("s"), col("d")).as("h"))
      .select(col("nn").as("n_transitions"), col("n_states"),
        round(col("h"), 6).as("entropy_rate"),
        round(exp(col("h")), 6).as("perplexity"))
  }

  private val markovOracle = """
    WITH tr AS (
      SELECT event_type AS s,
        lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
      FROM events),
    c AS (SELECT s, d, COUNT(*) AS nst FROM tr WHERE d IS NOT NULL GROUP BY 1, 2),
    rowtot AS (SELECT s, SUM(nst) AS ns FROM c GROUP BY 1),
    tot AS (SELECT SUM(nst) AS nn, COUNT(DISTINCT s) AS n_states FROM c),
    terms AS (
      SELECT c.s, c.d, nn, n_states,
        (CAST(nst AS DOUBLE) / CAST(nn AS DOUBLE))
          * ln(CAST(nst AS DOUBLE) / CAST(ns AS DOUBLE)) AS term
      FROM c JOIN rowtot USING (s), tot),
    agg AS (
      -- the fold subtracts each (negative) term, so h accumulates −Σterm = H
      SELECT nn, n_states,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list(term ORDER BY s, d)),
          (acc, x) -> acc - x) AS h
      FROM terms GROUP BY 1, 2)
    SELECT CAST(nn AS BIGINT) AS n_transitions, CAST(n_states AS BIGINT) AS n_states,
      ROUND(h, 6) AS entropy_rate, ROUND(exp(h), 6) AS perplexity
    FROM agg"""

  /** Cronbach's alpha treating the five event types as scale items and
    * each user's exact per-type value sum as the item response
    * (missing item → 0, which leaving it out of the sums preserves).
    * Item and total variances come from exact decimal power sums; the
    * k-item variance reduction folds in pinned item order.
    */
  def cronbachAlpha(events: DataFrame): DataFrame = {
    val ui = events.groupBy("user_id", "event_type")
      .agg(sum(dec(col("value"), 2)).as("x"))
    val nUsers = ui.agg(countDistinct("user_id").as("nu"))
    // item moments over ALL users: absent (user,item) rows are zeros and
    // contribute nothing to the sums, so only the divisor needs nu
    val item = ui.groupBy("event_type")
      .agg(sum(col("x")).cast("decimal(38,2)").as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,4)")).as("qx"))
      .crossJoin(broadcast(nUsers))
      .withColumn("var_i", expr(
        """(CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(nu AS DOUBLE))
          | / CAST(nu - 1 AS DOUBLE)""".stripMargin))
    val totals = ui.groupBy("user_id")
      .agg(sum(col("x")).cast("decimal(38,2)").as("t"))
      .agg(count(lit(1)).as("nu2"),
        sum(col("t")).cast("decimal(38,2)").as("st"),
        sum((col("t") * col("t")).cast("decimal(38,4)")).as("qt"))
    item.groupBy().agg(
        count(lit(1)).as("k"),
        max("nu").as("n_users"),
        osum(col("var_i"), col("event_type")).as("sum_var"))
      .crossJoin(totals)
      .withColumn("var_total", expr(
        """(CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nu2 AS DOUBLE))
          | / CAST(nu2 - 1 AS DOUBLE)""".stripMargin))
      .select(col("k"), col("n_users"),
        round(col("sum_var"), 6).as("sum_item_var"),
        round(col("var_total"), 6).as("var_total"),
        round(expr(
          "CAST(k AS DOUBLE) / CAST(k - 1 AS DOUBLE) * (1.0 - sum_var / var_total)"), 6)
          .as("alpha"))
  }

  private val cronbachOracle = """
    WITH ui AS (
      SELECT user_id, event_type,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS x
      FROM events GROUP BY 1, 2),
    nu AS (SELECT COUNT(DISTINCT user_id) AS nu FROM ui),
    item AS (
      SELECT event_type,
        (CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(nu AS DOUBLE))
          / CAST(nu - 1 AS DOUBLE) AS var_i, nu
      FROM (SELECT event_type, CAST(SUM(x) AS DECIMAL(38,2)) AS sx,
              CAST(SUM(x * x) AS DECIMAL(38,4)) AS qx
            FROM ui GROUP BY 1), nu),
    totals AS (
      SELECT COUNT(*) AS nu2, CAST(SUM(t) AS DECIMAL(38,2)) AS st,
        CAST(SUM(t * t) AS DECIMAL(38,4)) AS qt
      FROM (SELECT user_id, CAST(SUM(x) AS DECIMAL(38,2)) AS t FROM ui GROUP BY 1)),
    agg AS (
      SELECT COUNT(*) AS k, MAX(nu) AS n_users,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list(var_i ORDER BY event_type)),
          (acc, x) -> acc + x) AS sum_var
      FROM item),
    v AS (
      SELECT k, n_users, sum_var,
        (CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(nu2 AS DOUBLE))
          / CAST(nu2 - 1 AS DOUBLE) AS var_total
      FROM agg, totals)
    SELECT CAST(k AS BIGINT) AS k, CAST(n_users AS BIGINT) AS n_users,
      ROUND(sum_var, 6) AS sum_item_var, ROUND(var_total, 6) AS var_total,
      ROUND(CAST(k AS DOUBLE) / CAST(k - 1 AS DOUBLE) * (1.0 - sum_var / var_total), 6) AS alpha
    FROM v"""

  /** Kaplan-Meier time-to-conversion survival: duration = hours from a
    * user's first event to their first purchase (the "death"); users
    * who never purchase are right-censored at their last activity.
    * Epoch seconds floor identically in both engines, so durations are
    * exact integers; the at-risk count is an exact integer suffix sum
    * over the hour-grain duration table; survival at each of the first
    * 25 conversion times is exp(Σ ln(1 − d/n)) with the prefix folded
    * in pinned duration order over the ≤25×25 death-time self-join —
    * everything after the one user-keyed shuffle is calendar-bounded.
    */
  def kmSurvival(events: DataFrame): DataFrame = {
    val life = events.groupBy("user_id")
      .agg(unix_timestamp(min(col("ts"))).as("e0"),
        unix_timestamp(max(col("ts"))).as("e1"),
        unix_timestamp(min(when(col("event_type") === "purchase", col("ts")))).as("ep"))
    val durs = life.select(
      when(col("ep").isNotNull, expr("(ep - e0) div 3600"))
        .otherwise(expr("(e1 - e0) div 3600")).as("dur"),
      col("ep").isNotNull.as("observed"))
    val byDur = durs.groupBy("dur")
      .agg(count(lit(1)).as("c_all"),
        sum(when(col("observed"), 1L).otherwise(0L)).as("d"))
    val wDesc = Window.orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val deaths = byDur
      .withColumn("at_risk", sum("c_all").over(wDesc))
      .filter(col("d") > 0)
      .orderBy("dur").limit(25)
      .select(col("dur"), col("d"), col("at_risk"))
    // a death that consumes the whole remaining risk set (d = n) zeroes
    // survival outright — ln(0) is guarded out of the fold (Spark would
    // NULL it, DuckDB errors)
    deaths.as("a").join(deaths.as("b"), col("b.dur") <= col("a.dur"))
      .groupBy(col("a.dur").as("dur"), col("a.d").as("d"), col("a.at_risk").as("at_risk"))
      .agg(
        osum(expr("""CASE WHEN b.d < b.at_risk
              THEN ln(1.0 - CAST(b.d AS DOUBLE) / CAST(b.at_risk AS DOUBLE))
              ELSE 0.0 END"""), col("b.dur")).as("lns"),
        max(when(col("b.d") === col("b.at_risk"), 1).otherwise(0)).as("any0"))
      .select(col("dur"), col("d"), col("at_risk"),
        round(when(col("any0") === 1, lit(0.0)).otherwise(exp(col("lns"))), 6)
          .as("survival"))
      .orderBy("dur")
  }

  private val kmOracle = """
    WITH life AS (
      SELECT user_id,
        CAST(floor(epoch(MIN(ts))) AS BIGINT) AS e0,
        CAST(floor(epoch(MAX(ts))) AS BIGINT) AS e1,
        CAST(floor(epoch(MIN(CASE WHEN event_type = 'purchase' THEN ts END))) AS BIGINT) AS ep
      FROM events GROUP BY 1),
    durs AS (
      SELECT CASE WHEN ep IS NOT NULL THEN (ep - e0) // 3600
                  ELSE (e1 - e0) // 3600 END AS dur,
        ep IS NOT NULL AS observed
      FROM life),
    bydur AS (
      SELECT dur, COUNT(*) AS c_all,
        CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM durs GROUP BY 1),
    deaths AS (
      SELECT dur, d, at_risk FROM (
        SELECT dur, d,
          SUM(c_all) OVER (ORDER BY dur DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS at_risk
        FROM bydur)
      WHERE d > 0 ORDER BY dur LIMIT 25),
    km AS (
      SELECT a.dur, a.d, a.at_risk,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(CASE WHEN b.d < b.at_risk
                 THEN ln(1.0 - CAST(b.d AS DOUBLE) / CAST(b.at_risk AS DOUBLE))
                 ELSE 0.0 END ORDER BY b.dur)),
          (acc, x) -> acc + x) AS lns,
        MAX(CASE WHEN b.d = b.at_risk THEN 1 ELSE 0 END) AS any0
      FROM deaths a JOIN deaths b ON b.dur <= a.dur
      GROUP BY 1, 2, 3)
    SELECT dur, d, CAST(at_risk AS BIGINT) AS at_risk,
      ROUND(CASE WHEN any0 = 1 THEN 0.0 ELSE exp(lns) END, 6) AS survival
    FROM km ORDER BY dur"""

  /** Lorenz-curve deciles of customer spend: ntile(10) over the exact
    * cent totals (custkey tiebreak for a total order), per-decile and
    * cumulative revenue share. Shares divide exact decimal sums; the
    * cumulative sum is decimal, hence order-exact.
    */
  def lorenzDeciles(orders: DataFrame): DataFrame = {
    val spend = orders.groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("decimal(18,0)"))
        .cast("decimal(38,0)").as("cents"))
    // per-customer spend is corpus-proportional: the decile carve
    // distributes via Dist.withNtile (floor(cents/65536) buckets the
    // leading sort key; NTILE fill rule applied to the global rank)
    val d = Dist.withNtile(spend, floor(col("cents") / 65536),
        Seq(col("cents").asc, col("o_custkey").asc), 10, "decile")
      .withColumn("decile", col("decile").cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).cast("decimal(38,0)").as("s"))
    val tot = d.agg(sum(col("s")).cast("decimal(38,0)").as("stot"))
    val wc = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.crossJoin(broadcast(tot))
      .withColumn("cum", sum(col("s")).over(wc).cast("decimal(38,0)"))
      .select(col("decile"), col("n_customers"),
        round(col("s").cast("double") / 100.0, 2).as("revenue"),
        round(expr("CAST(s AS DOUBLE) / CAST(stot AS DOUBLE)"), 6).as("share"),
        round(expr("CAST(cum AS DOUBLE) / CAST(stot AS DOUBLE)"), 6).as("cum_share"))
      .orderBy("decile")
  }

  private val lorenzOracle = """
    WITH spend AS (
      SELECT o_custkey,
        CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS cents
      FROM orders GROUP BY 1),
    d AS (
      SELECT CAST(ntile(10) OVER (ORDER BY cents ASC, o_custkey ASC) AS BIGINT) AS decile,
        cents
      FROM spend),
    g AS (
      SELECT decile, COUNT(*) AS n_customers, CAST(SUM(cents) AS DECIMAL(38,0)) AS s
      FROM d GROUP BY 1),
    tot AS (SELECT CAST(SUM(s) AS DECIMAL(38,0)) AS stot FROM g),
    c AS (
      SELECT decile, n_customers, s, stot,
        CAST(SUM(s) OVER (ORDER BY decile
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,0)) AS cum
      FROM g, tot)
    SELECT decile, CAST(n_customers AS BIGINT) AS n_customers,
      ROUND(CAST(s AS DOUBLE) / 100.0, 2) AS revenue,
      ROUND(CAST(s AS DOUBLE) / CAST(stot AS DOUBLE), 6) AS share,
      ROUND(CAST(cum AS DOUBLE) / CAST(stot AS DOUBLE), 6) AS cum_share
    FROM c ORDER BY decile"""

  // ---------------------------------------------------------------- q368

  /** Two-sample Cramér–von Mises and Anderson–Darling statistics over
    * doc-length distributions of the two alphabetically-first sources
    * (the heavier-tailed complements of q212's KS: CvM integrates the
    * squared CDF gap, AD weights the tails). Ties take the documented
    * pooled order (n_chars, source, doc_id) — a pinned discrete
    * convention, same on both engines. Every term is a rational of
    * exact integers, decimal-cast before the cross-row sum
    * (order-free). The pooled ranking distributes via
    * [[Dist.prefixScan]] (a row count and a running sum in one scan):
    * buckets on `n_chars DIV 64` (the leading
    * sort key, so cross-bucket order equals flat order), per-bucket
    * prefix counts in a bucket-cardinality window, ranks and running
    * sums within each bucket partition — j and mj identical to the
    * flat global-window form the oracle keeps.
    */
  def cvmAd(docs: DataFrame): DataFrame = {
    val s2 = docs.select(col("source")).distinct()
      .orderBy("source").limit(2)
      .collect().map(_.getString(0))
    val base = docs
      .filter(col("source").isin(s2.toSeq: _*))
      .select(col("doc_id"), col("source"), col("n_chars"),
        (col("source") === s2(0)).cast("long").as("is1"))
    val pooled = Dist.prefixScan(base, expr("n_chars DIV 64"),
      Seq(col("n_chars"), col("source"), col("doc_id")),
      Seq(Dist.Scan(lit(1L), Dist.Sum, "j"), Dist.Scan(col("is1"), Dist.Sum, "mj")))
    val nm = pooled.agg(sum("is1").as("n"),
      (count(lit(1)) - sum("is1")).as("m"), count(lit(1)).as("nn"))
    pooled.crossJoin(broadcast(nm))
      .select(col("j"), col("mj"), col("n"), col("m"), col("nn"))
      .withColumn("cvm_t", expr("""CAST(
          (CAST(mj AS DOUBLE) / n - CAST(j - mj AS DOUBLE) / m)
          * (CAST(mj AS DOUBLE) / n - CAST(j - mj AS DOUBLE) / m)
          AS DECIMAL(18,12))"""))
      .withColumn("ad_t", expr("""CASE WHEN j < nn THEN CAST(
          CAST((mj * nn - n * j) AS DOUBLE) * CAST((mj * nn - n * j) AS DOUBLE)
          / (CAST(j AS DOUBLE) * (nn - j)) AS DECIMAL(18,10)) END"""))
      .groupBy("n", "m", "nn")
      .agg(sum("cvm_t").as("sc"), sum("ad_t").as("sa"))
      .select(col("n"), col("m"),
        round(expr("CAST(n AS DOUBLE) * m / (CAST(nn AS DOUBLE) * nn) "
          + "* CAST(sc AS DOUBLE)"), 6).as("cvm_t"),
        round(expr("CAST(sa AS DOUBLE) / nn / (CAST(n AS DOUBLE) * m / nn)"), 6)
          .as("ad_a2"))
  }

  private val cvmAdOracle = """
    WITH s2 AS (
      SELECT source FROM (SELECT DISTINCT source FROM documents)
      ORDER BY source LIMIT 2),
    first_s AS (SELECT MIN(source) AS s1 FROM s2),
    pooled AS MATERIALIZED (
      SELECT d.doc_id, d.source, d.n_chars,
        CASE WHEN d.source = f.s1 THEN 1 ELSE 0 END AS is1,
        ROW_NUMBER() OVER (ORDER BY d.n_chars, d.source, d.doc_id) AS j
      FROM documents d, first_s f
      WHERE d.source IN (SELECT source FROM s2)),
    run AS (
      SELECT j, CAST(SUM(is1) OVER (ORDER BY j
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS mj
      FROM pooled),
    nm AS (
      SELECT CAST(SUM(is1) AS BIGINT) AS n,
        CAST(COUNT(*) - SUM(is1) AS BIGINT) AS m,
        COUNT(*) AS nn
      FROM pooled),
    terms AS (
      SELECT r.j, r.mj, nm.n, nm.m, nm.nn,
        CAST((CAST(r.mj AS DOUBLE) / nm.n - CAST(r.j - r.mj AS DOUBLE) / nm.m)
          * (CAST(r.mj AS DOUBLE) / nm.n - CAST(r.j - r.mj AS DOUBLE) / nm.m)
          AS DECIMAL(18,12)) AS cvm_t,
        CASE WHEN r.j < nm.nn THEN CAST(
          CAST((r.mj * nm.nn - nm.n * r.j) AS DOUBLE)
            * CAST((r.mj * nm.nn - nm.n * r.j) AS DOUBLE)
          / (CAST(r.j AS DOUBLE) * (nm.nn - r.j)) AS DECIMAL(18,10)) END
          AS ad_t
      FROM run r, nm)
    SELECT n, m,
      ROUND(CAST(n AS DOUBLE) * m / (CAST(nn AS DOUBLE) * nn)
        * CAST(SUM(cvm_t) AS DOUBLE), 6) AS cvm_t,
      ROUND(CAST(SUM(ad_t) AS DOUBLE) / nn
        / (CAST(n AS DOUBLE) * m / nn), 6) AS ad_a2
    FROM terms GROUP BY n, m, nn"""

  // ---------------------------------------------------------------- q372

  /** Yuen's trimmed-mean t test (20% trim) between click and error
    * event values — the robust two-sample location test that survives
    * the heavy tails Welch (q172) is blind to: trimmed means compare
    * the middle 60%, winsorized variances price the clamped tails,
    * Welch–Satterthwaite gives the df. Order statistics are rank-exact
    * per group (window partitioned by arm); every mean/variance input
    * is an exact decimal sum of clamped values.
    */
  def yuenT(events: DataFrame): DataFrame = {
    val sized = events.filter(col("event_type").isin("click", "error"))
      .select(col("event_type").as("arm"), col("value"), col("event_id"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("arm").orderBy(col("value"), col("event_id"))))
      .localCheckpoint()
    val bounds = sized.groupBy("arm")
      .agg(count(lit(1)).as("n"))
      .withColumn("k", expr("n DIV 5"))
    val withB = sized.join(broadcast(bounds), "arm")
    val cuts = withB
      .filter(col("rk") === col("k") + 1 || col("rk") === col("n") - col("k"))
      .groupBy("arm")
      .agg(min(when(col("rk") === col("k") + 1, col("value"))).as("lo"),
        min(when(col("rk") === col("n") - col("k"), col("value"))).as("hi"))
    val stats = withB.join(broadcast(cuts), "arm")
      .withColumn("wv", least(greatest(col("value"), col("lo")), col("hi")))
      .groupBy("arm", "n", "k")
      .agg(
        sum(when(col("rk") > col("k") && col("rk") <= col("n") - col("k"),
          dec(col("value"), 6))).cast("decimal(28,6)").as("st"),
        sum(dec(col("wv"), 6)).cast("decimal(28,6)").as("sw"),
        sum((dec(col("wv"), 6) * dec(col("wv"), 6)).cast("decimal(38,12)"))
          .as("sww"))
      .select(col("arm"), col("n"), col("k"),
        expr("n - 2 * k").as("h"),
        expr("CAST(st AS DOUBLE) / (n - 2 * k)").as("tm"),
        expr("""(CAST(sww AS DOUBLE)
          - CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / n) / (n - 1)""")
          .as("wvar"))
      .localCheckpoint()
    val a = stats.filter(col("arm") === "click")
      .select(col("n").as("n1"), col("h").as("h1"), col("tm").as("tm1"),
        col("wvar").as("v1"))
    val b = stats.filter(col("arm") === "error")
      .select(col("n").as("n2"), col("h").as("h2"), col("tm").as("tm2"),
        col("wvar").as("v2"))
    a.crossJoin(b)
      .withColumn("d1", expr("(n1 - 1) * v1 / (CAST(h1 AS DOUBLE) * (h1 - 1))"))
      .withColumn("d2", expr("(n2 - 1) * v2 / (CAST(h2 AS DOUBLE) * (h2 - 1))"))
      .select(col("n1"), col("n2"),
        round(col("tm1"), 6).as("trimmed_mean_click"),
        round(col("tm2"), 6).as("trimmed_mean_error"),
        round(expr("(tm1 - tm2) / sqrt(d1 + d2)"), 6).as("yuen_t"),
        round(expr("""1.0 / ((d1 / (d1 + d2)) * (d1 / (d1 + d2)) / (h1 - 1)
          + (1 - d1 / (d1 + d2)) * (1 - d1 / (d1 + d2)) / (h2 - 1))"""), 4)
          .as("df"))
  }

  private val yuenOracle = """
    WITH sized AS MATERIALIZED (
      SELECT event_type AS arm, value,
        ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY value, event_id) AS rk,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE event_type IN ('click', 'error')),
    kb AS (SELECT arm, MAX(n) AS n, MAX(n) // 5 AS k FROM sized GROUP BY 1),
    cuts AS (
      SELECT s.arm,
        MIN(CASE WHEN s.rk = b.k + 1 THEN s.value END) AS lo,
        MIN(CASE WHEN s.rk = b.n - b.k THEN s.value END) AS hi
      FROM sized s JOIN kb b ON s.arm = b.arm
      GROUP BY 1),
    stats AS MATERIALIZED (
      SELECT s.arm, b.n, b.k, b.n - 2 * b.k AS h,
        CAST(CAST(SUM(CASE WHEN s.rk > b.k AND s.rk <= b.n - b.k
            THEN CAST(s.value AS DECIMAL(18,6)) END) AS DECIMAL(28,6))
          AS DOUBLE) / (b.n - 2 * b.k) AS tm,
        (CAST(SUM(CAST(CAST(LEAST(GREATEST(s.value, c.lo), c.hi)
              AS DECIMAL(19,6)) * CAST(LEAST(GREATEST(s.value, c.lo), c.hi)
              AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS DOUBLE)
          - CAST(CAST(SUM(CAST(LEAST(GREATEST(s.value, c.lo), c.hi)
              AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS DOUBLE)
            * CAST(CAST(SUM(CAST(LEAST(GREATEST(s.value, c.lo), c.hi)
              AS DECIMAL(18,6))) AS DECIMAL(28,6)) AS DOUBLE) / b.n)
          / (b.n - 1) AS wvar
      FROM sized s JOIN kb b ON s.arm = b.arm JOIN cuts c ON c.arm = s.arm
      GROUP BY s.arm, b.n, b.k),
    ab AS (
      SELECT
        (SELECT n FROM stats WHERE arm = 'click') AS n1,
        (SELECT h FROM stats WHERE arm = 'click') AS h1,
        (SELECT tm FROM stats WHERE arm = 'click') AS tm1,
        (SELECT wvar FROM stats WHERE arm = 'click') AS v1,
        (SELECT n FROM stats WHERE arm = 'error') AS n2,
        (SELECT h FROM stats WHERE arm = 'error') AS h2,
        (SELECT tm FROM stats WHERE arm = 'error') AS tm2,
        (SELECT wvar FROM stats WHERE arm = 'error') AS v2),
    d AS (
      SELECT *,
        (n1 - 1) * v1 / (CAST(h1 AS DOUBLE) * (h1 - 1)) AS d1,
        (n2 - 1) * v2 / (CAST(h2 AS DOUBLE) * (h2 - 1)) AS d2
      FROM ab)
    SELECT n1, n2, ROUND(tm1, 6) AS trimmed_mean_click,
      ROUND(tm2, 6) AS trimmed_mean_error,
      ROUND((tm1 - tm2) / sqrt(d1 + d2), 6) AS yuen_t,
      ROUND(1.0 / ((d1 / (d1 + d2)) * (d1 / (d1 + d2)) / (h1 - 1)
        + (1 - d1 / (d1 + d2)) * (1 - d1 / (d1 + d2)) / (h2 - 1)), 4) AS df
    FROM d"""

  // ---------------------------------------------------------------- q391

  /** Kruskal-Wallis H across event types on the 2-decimal value: the
    * rank-based one-way ANOVA (with tie correction) a pipeline uses
    * when group distributions are non-normal. Average ranks are exact:
    * the corpus collapses to distinct integer cents (value-cardinality,
    * not corpus-cardinality), the cumulative count window gives each
    * distinct value TWICE its average rank as an integer
    * (r2 = 2·cum − t + 1), and per-group rank sums are exact decimal
    * sums of gc·r2. Doubles appear only in the final H expression over
    * the ≤k group rows, folded in pinned event_type order.
    */
  def kruskalWallis(events: DataFrame): DataFrame = {
    val vals = events.select(col("event_type"),
      (dec(col("value"), 2) * 100).cast("long").as("c"))
    // distinct-cents grid grows with corpus richness: the cumulative
    // count distributes via Dist (c DIV 64 buckets the leading sort key)
    val byVal = Dist.withRunningSum(
        vals.groupBy("c").agg(count(lit(1)).as("t")),
        expr("c DIV 64"), Seq(col("c")), col("t"), "cum")
      .select(col("c"), col("t"), (lit(2) * col("cum") - col("t") + 1).as("r2"))
    val grp = vals.groupBy("event_type", "c").agg(count(lit(1)).as("gc"))
      .join(byVal, "c")
      .groupBy("event_type")
      .agg(sum("gc").as("nj"),
        sum((col("gc") * col("r2")).cast("decimal(38,0)")).as("r2j"))
    val ties = byVal.agg(
      sum((col("t") * col("t") * col("t") - col("t")).cast("decimal(38,0)"))
        .as("tie3"))
    grp.crossJoin(broadcast(ties))
      .agg(count(lit(1)).as("k"), sum("nj").as("n"),
        max(col("tie3")).as("tie3"),
        osum(expr("CAST(r2j AS DOUBLE) * CAST(r2j AS DOUBLE) / 4.0 / CAST(nj AS DOUBLE)"),
          col("event_type")).as("ssq"))
      .select(col("k"), col("n"),
        round(expr("""12.0 * ssq / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
            - 3.0 * CAST(n + 1 AS DOUBLE)"""), 6).as("h"),
        round(expr(
          """(12.0 * ssq / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
            | - 3.0 * CAST(n + 1 AS DOUBLE))
            |/ (1.0 - CAST(tie3 AS DOUBLE)
            |   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
            |      - CAST(n AS DOUBLE)))""".stripMargin), 6).as("h_tie_corrected"))
  }

  private val kruskalOracle = """
    WITH vals AS (
      SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM events),
    by_val AS (
      SELECT c, t, 2 * SUM(t) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
        - t + 1 AS r2
      FROM (SELECT c, COUNT(*) AS t FROM vals GROUP BY c)),
    grp AS (
      SELECT event_type, SUM(gc) AS nj,
        CAST(SUM(gc * r2) AS DECIMAL(38,0)) AS r2j
      FROM (SELECT event_type, c, COUNT(*) AS gc FROM vals GROUP BY 1, 2)
      JOIN by_val USING (c) GROUP BY 1),
    ties AS (
      SELECT CAST(SUM(t * t * t - t) AS DECIMAL(38,0)) AS tie3 FROM by_val),
    folded AS (
      SELECT COUNT(*) AS k, CAST(SUM(nj) AS BIGINT) AS n, MAX(tie3) AS tie3,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(CAST(r2j AS DOUBLE) * CAST(r2j AS DOUBLE) / 4.0
               / CAST(nj AS DOUBLE) ORDER BY event_type)),
          (acc, x) -> acc + x) AS ssq
      FROM grp, ties)
    SELECT k, n,
      ROUND(12.0 * ssq / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
        - 3.0 * CAST(n + 1 AS DOUBLE), 6) AS h,
      ROUND((12.0 * ssq / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
        - 3.0 * CAST(n + 1 AS DOUBLE))
        / (1.0 - CAST(tie3 AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(n AS DOUBLE))), 6) AS h_tie_corrected
    FROM folded"""

  // ---------------------------------------------------------------- q392

  /** Jarque-Bera normality test per event type: skewness and excess
    * kurtosis from the first four EXACT decimal power sums of integer
    * cents (c⁴ ≤ 1e19 per row — decimal(38,0) holds the corpus sum far
    * past 100 TB), JB = n/6·(g1² + g2²/4). One shuffle, k output rows;
    * doubles only in the fixed-shape moment expressions.
    */
  def jarqueBera(events: DataFrame): DataFrame = {
    val c = events.select(col("event_type"),
      (dec(col("value"), 2) * 100).cast("decimal(18,0)").as("c"))
    c.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("c")).cast("decimal(38,0)").as("s1"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("s2"),
        sum((col("c") * col("c") * col("c")).cast("decimal(38,0)")).as("s3"),
        sum(expr("CAST(c * c AS DECIMAL(38,0)) * CAST(c * c AS DECIMAL(38,0))")
          .cast("decimal(38,0)")).as("s4"))
      .select(col("event_type"), col("n"),
        expr("CAST(s1 AS DOUBLE) / n").as("mu"),
        expr("CAST(s2 AS DOUBLE) / n").as("m2r"),
        expr("CAST(s3 AS DOUBLE) / n").as("m3r"),
        expr("CAST(s4 AS DOUBLE) / n").as("m4r"))
      .select(col("event_type"), col("n"),
        expr("m2r - mu * mu").as("m2"),
        expr("m3r - 3.0 * mu * m2r + 2.0 * mu * mu * mu").as("m3"),
        expr("m4r - 4.0 * mu * m3r + 6.0 * mu * mu * m2r - 3.0 * mu * mu * mu * mu")
          .as("m4"))
      .select(col("event_type"), col("n"),
        round(expr("m3 / pow(m2, 1.5)"), 6).as("skewness"),
        round(expr("m4 / (m2 * m2) - 3.0"), 6).as("excess_kurtosis"),
        round(expr("""CAST(n AS DOUBLE) / 6.0
          * (m3 / pow(m2, 1.5) * (m3 / pow(m2, 1.5))
             + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0)"""), 4)
          .as("jb"))
      .orderBy("event_type")
  }

  private val jarqueBeraOracle = """
    WITH ps AS (
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(c) AS DECIMAL(38,0)) AS s1,
        CAST(SUM(c * c) AS DECIMAL(38,0)) AS s2,
        CAST(SUM(c * c * c) AS DECIMAL(38,0)) AS s3,
        CAST(SUM(CAST(c * c AS DECIMAL(38,0)) * CAST(c * c AS DECIMAL(38,0)))
          AS DECIMAL(38,0)) AS s4
      FROM (SELECT event_type,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS c
            FROM events) GROUP BY 1),
    mr AS (
      SELECT event_type, n,
        CAST(s1 AS DOUBLE) / n AS mu, CAST(s2 AS DOUBLE) / n AS m2r,
        CAST(s3 AS DOUBLE) / n AS m3r, CAST(s4 AS DOUBLE) / n AS m4r
      FROM ps),
    mo AS (
      SELECT event_type, n, m2r - mu * mu AS m2,
        m3r - 3.0 * mu * m2r + 2.0 * mu * mu * mu AS m3,
        m4r - 4.0 * mu * m3r + 6.0 * mu * mu * m2r
          - 3.0 * mu * mu * mu * mu AS m4
      FROM mr)
    SELECT event_type, n,
      ROUND(m3 / pow(m2, 1.5), 6) AS skewness,
      ROUND(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis,
      ROUND(CAST(n AS DOUBLE) / 6.0
        * (m3 / pow(m2, 1.5) * (m3 / pow(m2, 1.5))
           + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0), 4) AS jb
    FROM mo ORDER BY event_type"""

  // ---------------------------------------------------------------- q393

  /** Bartlett's variance-homogeneity test across event types — the
    * parametric complement of q233's Brown-Forsythe: per-group exact
    * (n, Σc, Σc²), each group's SS and log-variance in doubles, the
    * three cross-group reductions folded in pinned event_type order
    * (k ≤ 5 rows), χ² statistic with Bartlett's correction factor.
    */
  def bartlettTest(events: DataFrame): DataFrame = {
    val grp = events
      .select(col("event_type"), (dec(col("value"), 2) * 100)
        .cast("decimal(18,0)").as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("c")).cast("decimal(38,0)").as("s"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("q"))
      .withColumn("ssd", expr(
        "CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"))
    grp.agg(count(lit(1)).as("k"), sum("n").as("n"),
        osum(col("ssd"), col("event_type")).as("f1"),
        osum(expr("CAST(n - 1 AS DOUBLE) * ln(ssd / CAST(n - 1 AS DOUBLE))"),
          col("event_type")).as("f2"),
        osum(expr("1.0 / CAST(n - 1 AS DOUBLE)"), col("event_type")).as("f3"))
      .select(col("k"), col("n"),
        round(expr("f1 / CAST(n - k AS DOUBLE) / 10000.0"), 6).as("pooled_var"),
        round(expr(
          """(CAST(n - k AS DOUBLE) * ln(f1 / CAST(n - k AS DOUBLE)) - f2)
            |/ (1.0 + (f3 - 1.0 / CAST(n - k AS DOUBLE))
            |         / (3.0 * CAST(k - 1 AS DOUBLE)))""".stripMargin), 6)
          .as("bartlett_chi2"))
  }

  private val bartlettOracle = """
    WITH grp AS (
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(c) AS DECIMAL(38,0)) AS s,
        CAST(SUM(c * c) AS DECIMAL(38,0)) AS q
      FROM (SELECT event_type,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS c
            FROM events) GROUP BY 1),
    g2 AS (
      SELECT *, CAST(q AS DOUBLE)
        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS ssd
      FROM grp),
    folded AS (
      SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(ssd ORDER BY event_type)), (acc, x) -> acc + x) AS f1,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(CAST(n - 1 AS DOUBLE) * ln(ssd / CAST(n - 1 AS DOUBLE))
               ORDER BY event_type)), (acc, x) -> acc + x) AS f2,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list(1.0 / CAST(n - 1 AS DOUBLE) ORDER BY event_type)),
          (acc, x) -> acc + x) AS f3
      FROM g2)
    SELECT k, n,
      ROUND(f1 / CAST(n - k AS DOUBLE) / 10000.0, 6) AS pooled_var,
      ROUND((CAST(n - k AS DOUBLE) * ln(f1 / CAST(n - k AS DOUBLE)) - f2)
        / (1.0 + (f3 - 1.0 / CAST(n - k AS DOUBLE))
                 / (3.0 * CAST(k - 1 AS DOUBLE))), 6) AS bartlett_chi2
    FROM folded"""

  // ---------------------------------------------------------------- q394

  /** Wilcoxon signed-rank test on per-user paired halves: each user's
    * events are alternately assigned (by within-user arrival order) to
    * two halves, the paired difference is the EXACT integer cents
    * difference of the two half-sums, zeros are excluded (standard),
    * and |d| is ranked with exact average ranks (the q391 2·rank
    * trick on the distinct-|d| frame). W+ is an exact decimal rank
    * sum; the normal-approximation z uses the tie-corrected variance.
    * One user-keyed shuffle; ranking runs on distinct-|d| cardinality.
    */
  def wilcoxonSignedRank(events: DataFrame): DataFrame = {
    val wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val d = events
      .select(col("user_id"), col("ts"), col("event_id"),
        (dec(col("value"), 2) * 100).cast("long").as("c"))
      .withColumn("rn", row_number().over(wu))
      .groupBy("user_id")
      .agg(sum(when(col("rn") % 2 === 0, col("c")).otherwise(-col("c")))
        .as("d"))
      .filter(col("d") =!= 0)
      .select(col("user_id"), abs(col("d")).as("ad"),
        (col("d") > 0).cast("long").as("pos"))
    // the distinct |d| grid is user-proportional: the cumulative count
    // distributes via Dist (ad DIV 4096 buckets the leading sort key)
    val byVal = Dist.withRunningSum(
        d.groupBy("ad").agg(count(lit(1)).as("t"), sum("pos").as("tpos")),
        expr("ad DIV 4096"), Seq(col("ad")), col("t"), "cum")
      .select(col("ad"), col("t"), col("tpos"),
        (lit(2) * col("cum") - col("t") + 1).as("r2"))
    byVal.agg(sum("t").as("n"),
        sum((col("tpos") * col("r2")).cast("decimal(38,0)")).as("w2plus"),
        sum((col("t") * col("t") * col("t") - col("t")).cast("decimal(38,0)"))
          .as("tie3"))
      .select(col("n"),
        expr("CAST(w2plus AS DOUBLE) / 2.0").as("w_plus"),
        round(expr(
          """(CAST(w2plus AS DOUBLE) / 2.0
            | - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / 4.0)
            |/ sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
            |         * CAST(2 * n + 1 AS DOUBLE) / 24.0
            |       - CAST(tie3 AS DOUBLE) / 48.0)""".stripMargin), 6).as("z"))
  }

  private val wilcoxonOracle = """
    WITH d0 AS (
      SELECT user_id,
        SUM(CASE WHEN rn % 2 = 0 THEN c ELSE -c END) AS d
      FROM (SELECT user_id,
              CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c,
              row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS rn
            FROM events) GROUP BY 1),
    dd AS (
      SELECT user_id, abs(d) AS ad,
        CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos
      FROM d0 WHERE d <> 0),
    by_val AS (
      SELECT ad, t, tpos,
        2 * SUM(t) OVER (ORDER BY ad ROWS UNBOUNDED PRECEDING) - t + 1 AS r2
      FROM (SELECT ad, COUNT(*) AS t, SUM(pos) AS tpos FROM dd GROUP BY ad)),
    agg AS (
      SELECT CAST(SUM(t) AS BIGINT) AS n,
        CAST(SUM(tpos * r2) AS DECIMAL(38,0)) AS w2plus,
        CAST(SUM(t * t * t - t) AS DECIMAL(38,0)) AS tie3
      FROM by_val)
    SELECT n, CAST(w2plus AS DOUBLE) / 2.0 AS w_plus,
      ROUND((CAST(w2plus AS DOUBLE) / 2.0
        - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE) / 4.0)
        / sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
                 * CAST(2 * n + 1 AS DOUBLE) / 24.0
               - CAST(tie3 AS DOUBLE) / 48.0), 6) AS z
    FROM agg"""

  // ---------------------------------------------------------------- q395

  /** Goldfeld-Quandt heteroscedasticity test of value on hour-of-day:
    * the corpus splits at noon, each half's OLS residual sum of squares
    * comes from the closed form RSS = Syy − Sxy²/Sxx (centered) over
    * EXACT decimal moment sums (x = hour ≤ 23, y = integer cents — all
    * six sums exact at any scale), F = (RSS_pm/df_pm)/(RSS_am/df_am).
    * One conditional-aggregation pass, two group rows, no fold needed.
    */
  def goldfeldQuandt(events: DataFrame): DataFrame = {
    val base = events.select(
      when(hour(col("ts")) < 12, "am").otherwise("pm").as("half"),
      hour(col("ts")).cast("decimal(18,0)").as("x"),
      (dec(col("value"), 2) * 100).cast("decimal(18,0)").as("y"))
    val grp = base.groupBy("half").agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("decimal(38,0)").as("sx"),
      sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
      sum(col("y")).cast("decimal(38,0)").as("sy"),
      sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"),
      sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
      .withColumn("rss", expr(
        """(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
          |- (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
          |  * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
          |  / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)"""
          .stripMargin))
    val am = grp.filter(col("half") === "am")
      .select(col("n").as("n_am"), col("rss").as("rss_am"))
    val pm = grp.filter(col("half") === "pm")
      .select(col("n").as("n_pm"), col("rss").as("rss_pm"))
    am.crossJoin(broadcast(pm))
      .select(col("n_am"), col("n_pm"),
        round(expr("rss_am / 10000.0"), 4).as("rss_am_sq"),
        round(expr("rss_pm / 10000.0"), 4).as("rss_pm_sq"),
        round(expr(
          """(rss_pm / CAST(n_pm - 2 AS DOUBLE))
            |/ (rss_am / CAST(n_am - 2 AS DOUBLE))""".stripMargin), 6)
          .as("f_gq"))
  }

  private val goldfeldOracle = """
    WITH base AS (
      SELECT CASE WHEN hour(ts) < 12 THEN 'am' ELSE 'pm' END AS half,
        CAST(hour(ts) AS DECIMAL(18,0)) AS x,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0)) AS y
      FROM events),
    grp AS (
      SELECT half, COUNT(*) AS n,
        CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
        CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx,
        CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
        CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy,
        CAST(SUM(x * y) AS DECIMAL(38,0)) AS sxy
      FROM base GROUP BY 1),
    g2 AS (
      SELECT *,
        (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
          * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
          / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
          AS rss
      FROM grp)
    SELECT a.n AS n_am, p.n AS n_pm,
      ROUND(a.rss / 10000.0, 4) AS rss_am_sq,
      ROUND(p.rss / 10000.0, 4) AS rss_pm_sq,
      ROUND((p.rss / CAST(p.n - 2 AS DOUBLE))
        / (a.rss / CAST(a.n - 2 AS DOUBLE)), 6) AS f_gq
    FROM (SELECT * FROM g2 WHERE half = 'am') a,
         (SELECT * FROM g2 WHERE half = 'pm') p"""

  override def queries: Seq[Q] = Seq(
    Q("q391_kruskal_wallis", (s, d) => kruskalWallis(events(s, d)), Some(kruskalOracle)),
    Q("q392_jarque_bera", (s, d) => jarqueBera(events(s, d)), Some(jarqueBeraOracle)),
    Q("q393_bartlett_test", (s, d) => bartlettTest(events(s, d)), Some(bartlettOracle)),
    Q("q394_wilcoxon_signed_rank",
      (s, d) => wilcoxonSignedRank(events(s, d)), Some(wilcoxonOracle)),
    Q("q395_goldfeld_quandt",
      (s, d) => goldfeldQuandt(events(s, d)), Some(goldfeldOracle)),
    Q("q372_yuen_t", (s, d) => yuenT(events(s, d)), Some(yuenOracle)),
    Q("q368_cvm_ad", (s, d) => cvmAd(documents(s, d)), Some(cvmAdOracle)),
    Q("q230_bh_fdr", (s, d) => bhFdr(events(s, d)), Some(bhFdrOracle)),
    Q("q233_levene_test", (s, d) => leveneTest(events(s, d)), Some(leveneOracle)),
    Q("q236_mann_kendall", (s, d) => mannKendall(orders(s, d)), Some(mannKendallOracle)),
    Q("q237_hhi_concentration",
      (s, d) => hhiConcentration(orders(s, d), customer(s, d), nation(s, d), region(s, d)),
      Some(hhiOracle)),
    Q("q238_mase_forecast", (s, d) => maseForecast(orders(s, d)), Some(maseOracle)),
    Q("q239_cramers_v", (s, d) => cramersV(events(s, d)), Some(cramersOracle)),
    Q("q240_overdispersion", (s, d) => overdispersion(events(s, d)), Some(overdispersionOracle)),
    Q("q241_markov_entropy", (s, d) => markovEntropy(events(s, d)), Some(markovOracle)),
    Q("q242_cronbach_alpha", (s, d) => cronbachAlpha(events(s, d)), Some(cronbachOracle)),
    Q("q243_km_survival", (s, d) => kmSurvival(events(s, d)), Some(kmOracle)),
    Q("q244_lorenz_deciles", (s, d) => lorenzDeciles(orders(s, d)), Some(lorenzOracle)),
  )
}
