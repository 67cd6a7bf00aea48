package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Tables._

/** Data-lifecycle audits, round 8 of the extension surface (none exist
  * in the reference): KMV (k-minimum-values / theta-style) distinct
  * sketches with union-intersection estimation, and a GDPR
  * right-to-be-forgotten cascade audit — the two operations a lakehouse
  * runs when it has to answer "how many distinct X" without a full
  * distinct, and "what exactly will this deletion touch" before a
  * purge.
  *
  * Exactness: KMV hashes are the repo's portable md5 ascii-fold (bit-
  * identical on both engines); estimates are doubles of exact integer
  * hash ranks. The cascade is exact integer counts from semi-joins.
  * Scale: KMV's per-group k-smallest is a partial TakeOrdered (no
  * global sort, no full distinct); the cascade is key semi-joins that
  * shuffle only the matched keys.
  */
object Lifecycle extends QueryModule {

  /** Portable uniform hash in [1, 1e9+7]: polynomial ascii fold of the
    * md5 hex of the key — the q264 weighted-sample idiom. */
  private def hv(key: String) = expr(
    s"aggregate(transform(split(md5(cast(cast($key as string) as binary)), ''), " +
      "c -> cast(ascii(c) as bigint)), cast(-1 as bigint), " +
      "(h, a) -> if(h = -1L, a, pmod(h * 31 + a, 1000000007L)))")

  // ---------------------------------------------------------------- q349

  /** KMV distinct-count sketch audit, k=32: per event type, the k
    * smallest distinct user hashes give est = (k-1)/u_(k) with u_(k)
    * the k-th smallest normalized hash; plus union and intersection
    * rows for the click/purchase pair (merged-sketch estimator:
    * est_union = (k-1)/u_(k) over the merged k-set, est_inter =
    * ρ·est_union with ρ the fraction of the merged k-set present in
    * both sketches). Every estimate sits next to its exact count, so
    * the row IS the error audit. The per-group k-smallest never sorts
    * the corpus: it is a rank filter over distinct hashes.
    */
  def kmvDistinct(events: DataFrame, k: Int = 32): DataFrame = {
    val hashed = events.select(col("event_type"), col("user_id"))
      .distinct()
      .withColumn("h", hv("user_id"))
      .localCheckpoint() // reused by the per-type, union and inter paths
    val perType = hashed.select(col("event_type").as("scope"), col("h"))
      .distinct()
    val union = hashed.filter(col("event_type").isin("click", "purchase"))
      .select(lit("union:click+purchase").as("scope"), col("h"))
      .distinct()
    val ranked = perType.unionAll(union)
      .withColumn("rk", row_number().over(
        Window.partitionBy("scope").orderBy(col("h"), col("scope"))))
      .filter(col("rk") <= k)
    val kth = ranked.groupBy("scope")
      .agg(max(when(col("rk") === k, col("h"))).as("hk"),
        count(lit(1)).as("m")) // m < k when the group is small
    val exact = hashed.select(col("event_type").as("scope"), col("user_id"))
      .unionAll(hashed.filter(col("event_type").isin("click", "purchase"))
        .select(lit("union:click+purchase").as("scope"), col("user_id"))
        .distinct())
      .groupBy("scope").agg(count(lit(1)).as("exact_distinct"))
    // intersection scope: of the merged k-set, how many hashes belong
    // to users seen in BOTH click and purchase
    val both = hashed.filter(col("event_type").isin("click", "purchase"))
      .groupBy("user_id", "h").agg(countDistinct("event_type").as("nt"))
    val mergedK = ranked.filter(col("scope") === "union:click+purchase")
      .select(col("h"), col("rk"))
    val rho = mergedK.join(both, "h")
      .agg(sum((col("nt") === 2).cast("long")).as("n_both"))
    val interExact = both.filter(col("nt") === 2)
      .agg(count(lit(1)).as("exact_distinct"))
    val est = kth.join(exact, "scope")
      .select(col("scope"), lit(k.toLong).as("k"), col("exact_distinct"),
        when(col("m") < k, col("exact_distinct").cast("double"))
          .otherwise(lit((k - 1).toDouble) * 1000000008.0
            / col("hk").cast("double")).as("e"))
    val inter = kth.filter(col("scope") === "union:click+purchase")
      .crossJoin(rho).crossJoin(interExact)
      .select(lit("inter:click*purchase").as("scope"), lit(k.toLong).as("k"),
        col("exact_distinct"),
        when(col("m") < k, col("exact_distinct").cast("double"))
          .otherwise(col("n_both").cast("double") / lit(k.toDouble)
            * (lit((k - 1).toDouble) * 1000000008.0
              / col("hk").cast("double"))).as("e"))
    est.unionAll(inter)
      .select(col("scope"), col("k"), col("exact_distinct"),
        round(col("e"), 3).as("kmv_est"),
        when(col("exact_distinct") > 0,
          round(abs(col("e") - col("exact_distinct").cast("double"))
            * 100.0 / col("exact_distinct").cast("double"), 3))
          .otherwise(lit(0.0)).as("err_pct"))
      .orderBy("scope")
  }

  private def kmvOracle(k: Int = 32): String = s"""
    WITH hashed AS MATERIALIZED (
      SELECT event_type, user_id,
        list_reduce(list_transform(
          string_split_regex(md5(CAST(user_id AS VARCHAR)), ''),
          c -> CAST(ascii(c) AS BIGINT)),
          (h, a) -> (h * 31 + a) % 1000000007) AS h
      FROM (SELECT DISTINCT event_type, user_id FROM events)),
    scoped AS (
      SELECT DISTINCT event_type AS scope, h FROM hashed
      UNION ALL
      SELECT 'union:click+purchase' AS scope, h FROM (
        SELECT DISTINCT h FROM hashed
        WHERE event_type IN ('click', 'purchase'))),
    ranked AS MATERIALIZED (
      SELECT scope, h,
        ROW_NUMBER() OVER (PARTITION BY scope ORDER BY h, scope) AS rk
      FROM scoped),
    topk AS (SELECT scope, h, rk FROM ranked WHERE rk <= $k),
    kth AS (
      SELECT scope, MAX(CASE WHEN rk = $k THEN h END) AS hk,
        COUNT(*) AS m
      FROM topk GROUP BY 1),
    exact AS (
      SELECT event_type AS scope, COUNT(DISTINCT user_id) AS exact_distinct
      FROM hashed GROUP BY 1
      UNION ALL
      SELECT 'union:click+purchase', COUNT(DISTINCT user_id)
      FROM hashed WHERE event_type IN ('click', 'purchase')),
    ovl AS (
      SELECT user_id, h, COUNT(DISTINCT event_type) AS nt
      FROM hashed WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2),
    rho AS (
      SELECT CAST(SUM(CASE WHEN b.nt = 2 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_both
      FROM topk t JOIN ovl b ON t.h = b.h
      WHERE t.scope = 'union:click+purchase'),
    inter_exact AS (
      SELECT COUNT(*) AS exact_distinct FROM ovl WHERE nt = 2),
    est AS (
      SELECT k.scope, CAST($k AS BIGINT) AS k, e.exact_distinct,
        CASE WHEN k.m < $k THEN CAST(e.exact_distinct AS DOUBLE)
          ELSE CAST($k - 1 AS DOUBLE) * 1000000008.0 / CAST(k.hk AS DOUBLE)
        END AS e
      FROM kth k JOIN exact e ON e.scope = k.scope
      UNION ALL
      SELECT 'inter:click*purchase', CAST($k AS BIGINT), ie.exact_distinct,
        CASE WHEN k.m < $k THEN CAST(ie.exact_distinct AS DOUBLE)
          ELSE CAST(r.n_both AS DOUBLE) / CAST($k AS DOUBLE)
            * (CAST($k - 1 AS DOUBLE) * 1000000008.0 / CAST(k.hk AS DOUBLE))
        END
      FROM kth k, rho r, inter_exact ie
      WHERE k.scope = 'union:click+purchase')
    SELECT scope, k, exact_distinct, ROUND(e, 3) AS kmv_est,
      CASE WHEN exact_distinct > 0 THEN
        ROUND(ABS(e - CAST(exact_distinct AS DOUBLE)) * 100.0
          / CAST(exact_distinct AS DOUBLE), 3)
      ELSE 0.0 END AS err_pct
    FROM est ORDER BY scope"""

  // ---------------------------------------------------------------- q351

  /** Right-to-be-forgotten cascade audit: a deterministic ~5% deletion
    * request set (customers whose portable hash lands in residue 0 mod
    * 20) is cascaded through the key graph — customer → orders →
    * lineitem, and customer → events — and each table reports total
    * rows, rows the purge would delete, and the deleted share in basis
    * points (exact integer DIV). The audit a compliance pipeline runs
    * BEFORE issuing the actual deletes. Semi-join shaped: only matched
    * keys shuffle; nothing is materialized on the driver.
    */
  def forgetCascade(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, events: DataFrame): DataFrame = {
    // Constraint propagation must be OFF for this plan: the optimizer
    // infers `hv(key) % 20 = 0` from the request filter through every
    // equi-join and re-evaluates the interpreted md5-fold on the PROBE
    // side — ALL orders/lineitem/events rows (~20s of the former 12-16s
    // sf1 readings; the fold is ~100× the cost of the hash-join probe it
    // "saves"). localCheckpoint alone does not help: Spark 4's
    // LogicalRDD preserves origin constraints exactly so such inference
    // still applies. The conf window must cover EXECUTION (the optimizer
    // runs at action time), so the 4-row audit is materialized inside it.
    // shared-session caveat: see graft.ConfWindow scaladoc (a concurrent
    // query planned inside the window also loses constraint propagation
    // — plan-shape only, never results; the bench is sequential)
    graft.ConfWindow.withConf(customer.sparkSession,
      "spark.sql.constraintPropagation.enabled" -> "false") {
      forgetCascadePlan(customer, orders, lineitem, events).localCheckpoint()
    }
  }

  /** The cascade plan itself (see [[forgetCascade]] for the
    * constraint-propagation execution window it must run under).
    */
  private def forgetCascadePlan(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, events: DataFrame): DataFrame = {
    // the request manifest is |customer|/20 keys — reused by three
    // semi-joins, so compute the md5-fold once
    val requests = customer.select(col("c_custkey"))
      .withColumn("h", hv("c_custkey"))
      .filter(col("h") % 20 === 0)
      .select(col("c_custkey"))
      .localCheckpoint()
    val custDel = customer.join(requests, Seq("c_custkey"), "left_semi")
    val ordDel = orders.join(
      requests.select(col("c_custkey").as("o_custkey")),
      Seq("o_custkey"), "left_semi")
    // the cascaded order-key manifest is reused by the lineitem probe AND
    // counted itself — checkpoint the ~5% key set once
    val ordDelKeys = ordDel
      .select(col("o_orderkey").as("l_orderkey")).distinct().localCheckpoint()
    val liDel = lineitem.join(ordDelKeys, Seq("l_orderkey"), "left_semi")
    val evDel = events.join(
      requests.select(col("c_custkey").as("user_id")),
      Seq("user_id"), "left_semi")
    def audit(name: String, full: DataFrame, del: DataFrame): DataFrame =
      full.agg(count(lit(1)).as("rows_total"))
        .crossJoin(del.agg(count(lit(1)).as("rows_to_delete")))
        .select(lit(name).as("table_name"), col("rows_total"),
          col("rows_to_delete"),
          expr("rows_to_delete * 10000 DIV rows_total").as("bp_deleted"))
    audit("customer", customer, custDel)
      .unionAll(audit("orders", orders, ordDel))
      .unionAll(audit("lineitem", lineitem, liDel))
      .unionAll(audit("events", events, evDel))
      .orderBy("table_name")
  }

  private val forgetOracle = """
    WITH requests AS MATERIALIZED (
      SELECT c_custkey FROM (
        SELECT c_custkey,
          list_reduce(list_transform(
            string_split_regex(md5(CAST(c_custkey AS VARCHAR)), ''),
            c -> CAST(ascii(c) AS BIGINT)),
            (h, a) -> (h * 31 + a) % 1000000007) AS h
        FROM customer)
      WHERE h % 20 = 0),
    ord_del AS MATERIALIZED (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM requests)),
    audits AS (
      SELECT 'customer' AS table_name,
        (SELECT COUNT(*) FROM customer) AS rows_total,
        (SELECT COUNT(*) FROM customer
         WHERE c_custkey IN (SELECT c_custkey FROM requests))
          AS rows_to_delete
      UNION ALL
      SELECT 'orders', (SELECT COUNT(*) FROM orders),
        (SELECT COUNT(*) FROM ord_del)
      UNION ALL
      SELECT 'lineitem', (SELECT COUNT(*) FROM lineitem),
        (SELECT COUNT(*) FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM ord_del))
      UNION ALL
      SELECT 'events', (SELECT COUNT(*) FROM events),
        (SELECT COUNT(*) FROM events
         WHERE user_id IN (SELECT c_custkey FROM requests)))
    SELECT table_name, rows_total, rows_to_delete,
      rows_to_delete * 10000 // rows_total AS bp_deleted
    FROM audits ORDER BY table_name"""

  // ------------------------------------------------------------ queries

  override def queries: Seq[Q] = Seq(
    Q("q349_kmv_distinct",
      (s, d) => kmvDistinct(events(s, d)), Some(kmvOracle())),
    Q("q351_forget_cascade",
      (s, d) => forgetCascade(customer(s, d), orders(s, d),
        lineitem(s, d), events(s, d)), Some(forgetOracle)),
  )
}
