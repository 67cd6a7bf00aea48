package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Tables._

/** Warehouse-operations audits, round 8 of the extension surface (none
  * exist in the reference): declarative data-contract validation (the
  * null/range/uniqueness/referential checks a lakehouse runs on every
  * landing batch) and an event-time lateness audit (the measurement
  * that picks a Structured Streaming watermark delay).
  *
  * Exactness: every check is an exact integer count; lateness is exact
  * integer microseconds with rank-exact percentiles. Scale: each
  * contract check is one scan or one anti-join on the natural key; the
  * lateness pass is one window over the documented arrival order.
  */
object Warehouse extends QueryModule {

  // ---------------------------------------------------------------- q345

  /** Data-contract validation over the lineitem/orders batch: NOT NULL,
    * range, primary-key uniqueness and two referential-integrity
    * checks, each reported as (check, rows_checked, violations, pass).
    * The FK checks are anti-join shaped (broadcast or shuffle by key at
    * scale); everything else is single-scan aggregation.
    */
  def dataContract(li: DataFrame, orders: DataFrame,
      customer: DataFrame): DataFrame = {
    val nullCheck = li.agg(count(lit(1)).as("n"),
      sum(col("l_shipdate").isNull.cast("long")).as("v"))
      .select(lit("lineitem.shipdate_not_null").as("check"),
        col("n").as("rows_checked"), col("v").as("violations"))
    val rangeQty = li.agg(count(lit(1)).as("n"),
      sum((col("l_quantity") < 1 || col("l_quantity") > 50).cast("long"))
        .as("v"))
      .select(lit("lineitem.quantity_in_1_50").as("check"),
        col("n").as("rows_checked"), col("v").as("violations"))
    val rangeDisc = li.agg(count(lit(1)).as("n"),
      sum((col("l_discount") < 0 || col("l_discount") > 0.1).cast("long"))
        .as("v"))
      .select(lit("lineitem.discount_in_0_0.1").as("check"),
        col("n").as("rows_checked"), col("v").as("violations"))
    val pkDupes = li.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n"), sum((col("c") > 1).cast("long")).as("v"))
      .select(lit("lineitem.pk_orderkey_linenumber_unique").as("check"),
        col("n").as("rows_checked"), col("v").as("violations"))
    val fkOrders = li.select("l_orderkey").distinct()
      .join(orders.select(col("o_orderkey").as("l_orderkey")),
        Seq("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
      .crossJoin(li.select("l_orderkey").distinct()
        .agg(count(lit(1)).as("n")))
      .select(lit("lineitem.fk_orderkey_in_orders").as("check"),
        col("n").as("rows_checked"), col("v").as("violations"))
    val fkCust = orders.select("o_custkey").distinct()
      .join(customer.select(col("c_custkey").as("o_custkey")),
        Seq("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
      .crossJoin(orders.select("o_custkey").distinct()
        .agg(count(lit(1)).as("n")))
      .select(lit("orders.fk_custkey_in_customer").as("check"),
        col("n").as("rows_checked"), col("v").as("violations"))
    Seq(nullCheck, rangeQty, rangeDisc, pkDupes, fkOrders, fkCust)
      .reduce(_ unionAll _)
      .withColumn("pass", (col("violations") === 0).cast("long"))
      .orderBy("check")
  }

  private val contractOracle = """
    WITH checks AS (
      SELECT 'lineitem.shipdate_not_null' AS chk, COUNT(*) AS rows_checked,
        CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS violations
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.quantity_in_1_50', COUNT(*),
        CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
          THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.discount_in_0_0.1', COUNT(*),
        CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
          THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.pk_orderkey_linenumber_unique', COUNT(*),
        CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT COUNT(*) AS c FROM lineitem
            GROUP BY l_orderkey, l_linenumber)
      UNION ALL
      SELECT 'lineitem.fk_orderkey_in_orders',
        (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem),
        (SELECT COUNT(*) FROM
          (SELECT DISTINCT l_orderkey FROM lineitem) l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
      UNION ALL
      SELECT 'orders.fk_custkey_in_customer',
        (SELECT COUNT(DISTINCT o_custkey) FROM orders),
        (SELECT COUNT(*) FROM
          (SELECT DISTINCT o_custkey FROM orders) o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)))
    SELECT chk AS "check", rows_checked, violations,
      CAST(violations = 0 AS BIGINT) AS pass
    FROM checks ORDER BY chk"""

  // ---------------------------------------------------------------- q346

  /** Arrival-order lateness, distributed: late_us = running-max(event
    * time in arrival order = event_id) − event time, computed by
    * [[Dist.prefixScan]] instead of a flat global window (which
    * serializes the corpus through one partition). Level 1 buckets
    * arrival order (`event_id DIV 65536` — bucket count grows
    * with the corpus, each bucket a bounded 65k slice); the bucket
    * table's prefix-max window is bucket-cardinality-sized (corpus/65536
    * rows — trivial at any SF). Level 2 runs the running max WITHIN each
    * bucket, partitioned by bucket. running-max = max(prior-bucket max,
    * within-bucket running max) — identical to the flat form. Shared by
    * q346 (lateness audit) and q388 (watermark advisor).
    */
  private[ops] def arrivalLatenessUs(events: DataFrame): DataFrame =
    Dist.prefixScan(
        events.select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us")),
        expr("event_id DIV 65536"), Seq(col("event_id")),
        Seq(Dist.Scan(col("us"), Dist.Max, "max_us")))
      .withColumn("late_us", col("max_us") - col("us"))
      .drop("max_us")

  /** Event-time lateness audit: with event_id as the documented arrival
    * order, lateness = running-max(event time) − event time. The report
    * per event_type gives the late-row count, the max, the exact mean
    * (integer-µs DIV) and the rank-exact p95 — the numbers that size a
    * streaming watermark delay. The running max distributes via the
    * two-level bucket decomposition in [[arrivalLatenessUs]]; the
    * oracle keeps the equivalent flat-window SQL form.
    */
  def latenessAudit(events: DataFrame): DataFrame = {
    val late = arrivalLatenessUs(events)
    val ranked = late.withColumn("rk", row_number().over(
      Window.partitionBy("event_type").orderBy(col("late_us"), col("event_id"))))
    val agg = late.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum((col("late_us") > 0).cast("long")).as("n_late"),
        max("late_us").as("max_late_us"),
        expr("sum(late_us) DIV count(1)").as("avg_late_us"))
    val p95 = ranked
      .join(agg.select(col("event_type"), col("n")), "event_type")
      .filter(col("rk") === expr("(n * 19 + 19) DIV 20"))
      .select(col("event_type"), col("late_us").as("p95_late_us"))
    agg.join(p95, "event_type")
      .select(col("event_type"), col("n"), col("n_late"),
        col("max_late_us"), col("avg_late_us"), col("p95_late_us"))
      .orderBy("event_type")
  }

  private val latenessOracle = """
    WITH late AS MATERIALIZED (
      SELECT event_type, event_id,
        MAX(epoch_us(ts)) OVER (ORDER BY event_id ROWS UNBOUNDED PRECEDING)
          - epoch_us(ts) AS late_us
      FROM events),
    ranked AS (
      SELECT event_type, late_us,
        ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY late_us, event_id) AS rk
      FROM late),
    agg AS (
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_late,
        CAST(MAX(late_us) AS BIGINT) AS max_late_us,
        CAST(SUM(late_us) // COUNT(*) AS BIGINT) AS avg_late_us
      FROM late GROUP BY 1)
    SELECT a.event_type, a.n, a.n_late, a.max_late_us, a.avg_late_us,
      CAST(r.late_us AS BIGINT) AS p95_late_us
    FROM agg a JOIN ranked r
      ON r.event_type = a.event_type AND r.rk = (a.n * 19 + 19) // 20
    ORDER BY a.event_type"""

  // ---------------------------------------------------------------- q353

  /** Predicate-selectivity correlation audit: for every pair of four
    * canonical lineitem predicates, the attribute-independence estimate
    * sel(A)·sel(B)·n the optimizer would use vs the actual conjunctive
    * count, with the q-error max(est/act, act/est) — the measurement
    * that tells you which column pairs need correlated statistics
    * (CORRELATE hints / multi-column stats) before join planning at
    * 100 TB. ONE corpus scan computes all four marginal and six
    * pairwise counts as conditional sums; the pair lattice is built
    * from the 1-row aggregate.
    */
  def selectivityAudit(li: DataFrame): DataFrame = {
    val preds = Seq(
      "qty_gt_25" -> (col("l_quantity") > 25),
      "disc_gt_05" -> (col("l_discount") > 0.05),
      "flag_r" -> (col("l_returnflag") === "R"),
      "ship_1995" -> (year(col("l_shipdate")) === 1995))
    val aggs = count(lit(1)).as("n") +:
      (preds.map { case (nm, c) => sum(c.cast("long")).as(s"c_$nm") } ++
        preds.combinations(2).map { pair =>
          val Seq((na, ca), (nb, cb)) = pair
          sum((ca && cb).cast("long")).as(s"c_${na}__$nb")
        }.toSeq)
    val one = li.agg(aggs.head, aggs.tail: _*)
    val rows = preds.combinations(2).map { pair =>
      val Seq((na, _), (nb, _)) = pair
      one.select(lit(s"$na & $nb").as("pair"), col("n"),
        col(s"c_$na").as("n_a"), col(s"c_$nb").as("n_b"),
        col(s"c_${na}__$nb").as("actual"),
        round(col(s"c_$na").cast("double") * col(s"c_$nb").cast("double")
          / col("n").cast("double"), 2).as("est_independent"))
    }.toSeq
    rows.reduce(_ unionAll _)
      .withColumn("q_error",
        when(col("actual") > 0 && col("est_independent") > 0,
          round(greatest(
            col("est_independent") / col("actual").cast("double"),
            col("actual").cast("double") / col("est_independent")), 3)))
      .orderBy("pair")
  }

  private val selectivityOracle = """
    WITH one AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT)
          AS c_qty,
        CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
          AS c_disc,
        CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
          AS c_flag,
        CAST(SUM(CASE WHEN year(l_shipdate) = 1995 THEN 1 ELSE 0 END)
          AS BIGINT) AS c_ship,
        CAST(SUM(CASE WHEN l_quantity > 25 AND l_discount > 0.05
          THEN 1 ELSE 0 END) AS BIGINT) AS c_qty_disc,
        CAST(SUM(CASE WHEN l_quantity > 25 AND l_returnflag = 'R'
          THEN 1 ELSE 0 END) AS BIGINT) AS c_qty_flag,
        CAST(SUM(CASE WHEN l_quantity > 25 AND year(l_shipdate) = 1995
          THEN 1 ELSE 0 END) AS BIGINT) AS c_qty_ship,
        CAST(SUM(CASE WHEN l_discount > 0.05 AND l_returnflag = 'R'
          THEN 1 ELSE 0 END) AS BIGINT) AS c_disc_flag,
        CAST(SUM(CASE WHEN l_discount > 0.05 AND year(l_shipdate) = 1995
          THEN 1 ELSE 0 END) AS BIGINT) AS c_disc_ship,
        CAST(SUM(CASE WHEN l_returnflag = 'R' AND year(l_shipdate) = 1995
          THEN 1 ELSE 0 END) AS BIGINT) AS c_flag_ship
      FROM lineitem),
    pairs AS (
      SELECT 'qty_gt_25 & disc_gt_05' AS pair, n, c_qty AS n_a,
        c_disc AS n_b, c_qty_disc AS actual FROM one
      UNION ALL SELECT 'qty_gt_25 & flag_r', n, c_qty, c_flag, c_qty_flag
        FROM one
      UNION ALL SELECT 'qty_gt_25 & ship_1995', n, c_qty, c_ship,
        c_qty_ship FROM one
      UNION ALL SELECT 'disc_gt_05 & flag_r', n, c_disc, c_flag,
        c_disc_flag FROM one
      UNION ALL SELECT 'disc_gt_05 & ship_1995', n, c_disc, c_ship,
        c_disc_ship FROM one
      UNION ALL SELECT 'flag_r & ship_1995', n, c_flag, c_ship,
        c_flag_ship FROM one),
    est AS (
      SELECT pair, n, n_a, n_b, actual,
        ROUND(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
          / CAST(n AS DOUBLE), 2) AS est_independent
      FROM pairs)
    SELECT pair, n, n_a, n_b, actual, est_independent,
      CASE WHEN actual > 0 AND est_independent > 0 THEN
        ROUND(GREATEST(est_independent / CAST(actual AS DOUBLE),
          CAST(actual AS DOUBLE) / est_independent), 3)
      END AS q_error
    FROM est ORDER BY pair"""

  // ------------------------------------------------------------ queries

  override def queries: Seq[Q] = Seq(
    Q("q353_selectivity_audit",
      (s, d) => selectivityAudit(lineitem(s, d)), Some(selectivityOracle)),
    Q("q345_data_contract",
      (s, d) => dataContract(lineitem(s, d), orders(s, d), customer(s, d)),
      Some(contractOracle)),
    Q("q346_lateness_audit",
      (s, d) => latenessAudit(events(s, d)), Some(latenessOracle)),
  )
}
