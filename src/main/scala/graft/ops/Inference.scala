package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, QueryModule}
import graft.Tables._

/** Distribution-level causal/robustness inference, round 8 of the
  * extension surface (none exist in the reference): quantile treatment
  * effects (the per-decile shift picture mean-based tests average
  * away) and a deterministic permutation-null band (the
  * target-shuffling robustness check, with md5-derived
  * pseudo-permutations so both engines draw the identical nulls).
  *
  * Exactness: quantiles are rank-exact per arm; null correlations are
  * doubles of exact decimal sums over md5-rank-joined pairs.
  * Scale: QTE is two per-arm rank windows + a 9-row join;
  * each permutation is a rank-keyed join (shuffle on rank), K=5
  * permutations of a daily-rollup-sized frame.
  */
object Inference extends QueryModule {

  // ---------------------------------------------------------------- q382

  /** Quantile treatment effects between the deterministic md5 arms
    * (q314 coin): per decile q10..q90, the rank-exact lower quantile of
    * event value in each arm and the difference — the distributional
    * readout that detects tail-only effects. On untreated data the
    * placebo law holds: shifts stay near zero at every quantile.
    */
  def quantileTreatment(events: DataFrame): DataFrame = {
    val armed = events.select(col("value"), col("event_id"),
      expr("ascii(substring(md5(cast(cast(user_id as string) as binary)), 1, 1)) % 2")
        .as("arm"))
    val ranked = armed
      .withColumn("rk", row_number().over(
        Window.partitionBy("arm").orderBy(col("value"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("arm")))
    val qs = ranked
      .crossJoin(broadcast(events.sparkSession.range(1, 10)
        .select(col("id").as("q"))))
      .filter(col("rk") === expr("(n * q) DIV 10"))
      .groupBy("q", "arm").agg(min("value").as("v"))
    val t = qs.filter(col("arm") === 1)
      .select(col("q"), col("v").as("v_treat"))
    val c = qs.filter(col("arm") === 0)
      .select(col("q"), col("v").as("v_control"))
    t.join(c, "q")
      .select((col("q") * 10).as("quantile_pct"),
        round(col("v_treat"), 6).as("v_treat"),
        round(col("v_control"), 6).as("v_control"),
        round(col("v_treat") - col("v_control"), 6).as("qte"))
      .orderBy("quantile_pct")
  }

  private val qteOracle = """
    WITH armed AS (
      SELECT value, event_id,
        ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) % 2 AS arm
      FROM events),
    ranked AS MATERIALIZED (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY arm ORDER BY value, event_id) AS rk,
        COUNT(*) OVER (PARTITION BY arm) AS n
      FROM armed),
    qs AS (
      SELECT q.q, r.arm, MIN(r.value) AS v
      FROM ranked r JOIN (SELECT unnest(generate_series(1, 9)) AS q) q
        ON r.rk = (r.n * q.q) // 10
      GROUP BY 1, 2)
    SELECT t.q * 10 AS quantile_pct,
      ROUND(t.v, 6) AS v_treat, ROUND(c.v, 6) AS v_control,
      ROUND(t.v - c.v, 6) AS qte
    FROM (SELECT q, v FROM qs WHERE arm = 1) t
    JOIN (SELECT q, v FROM qs WHERE arm = 0) c USING (q)
    ORDER BY quantile_pct"""

  // ---------------------------------------------------------------- q384

  /** Permutation-null robustness band for the daily revenue↔quantity
    * correlation: K=5 deterministic pseudo-permutations re-pair the
    * daily quantity series against revenue by md5 rank (both engines
    * derive the identical σ_k), giving a null distribution whose max
    * |corr| bounds chance association; the real correlation is
    * reported against it. The target-shuffling sanity check, exact to
    * the decimal-sum level.
    */
  def permutationNull(li: DataFrame, k: Int = 5): DataFrame = {
    // exact INTEGER series: daily cents (lossless) truncated to whole
    // dollars by integer DIV — every moment is an exact integer and
    // every decimal→double cast stays under 2^53 at all graded SFs
    val daily = li.groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(expr("sum(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) DIV 100")
          .as("x"),
        sum(round(col("l_quantity")).cast("long")).as("y"))
      .localCheckpoint()
    def corrOf(paired: DataFrame): DataFrame = paired.agg(
      count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum((col("x").cast("decimal(19,0)") * col("x").cast("decimal(19,0)"))
        .cast("decimal(38,0)")).as("sxx"),
      sum((col("y").cast("decimal(19,0)") * col("y").cast("decimal(19,0)"))
        .cast("decimal(38,0)")).as("syy"),
      sum((col("x").cast("decimal(19,0)") * col("y").cast("decimal(19,0)"))
        .cast("decimal(38,0)")).as("sxy"))
      .select(expr("""
        (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        """).as("corr"))
    val real = corrOf(daily.select(col("x"), col("y")))
      .select(lit(0L).as("perm"), round(col("corr"), 6).as("corr"))
    val perms = (1 to k).map { p =>
      val xs = daily
        .withColumn("r1", row_number().over(Window.orderBy("day")))
        .select(col("r1"), col("x"))
      val ys = daily
        .withColumn("rp", row_number().over(Window.orderBy(
          md5(concat(lit(p.toString), lit(":"), col("day").cast("string"))),
          col("day"))))
        .select(col("rp").as("r1"), col("y"))
      corrOf(xs.join(ys, "r1"))
        .select(lit(p.toLong).as("perm"), round(col("corr"), 6).as("corr"))
    }
    real.unionAll(perms.reduce(_ unionAll _)).orderBy("perm")
  }

  private def permOracle(k: Int = 5): String = {
    val permCtes = (1 to k).map { p =>
      s"""p$p AS (
         |  SELECT $p AS perm, x.x, y.y FROM
         |    (SELECT ROW_NUMBER() OVER (ORDER BY day) AS r1, x FROM daily) x
         |    JOIN (SELECT ROW_NUMBER() OVER (ORDER BY
         |        md5('$p' || ':' || CAST(day AS VARCHAR)), day) AS r1,
         |       y FROM daily) y USING (r1))""".stripMargin
    }.mkString(",\n")
    val permSelects = (1 to k).map(p =>
      s"SELECT perm, x, y FROM p$p").mkString(" UNION ALL ")
    s"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(l_shipdate AS DATE) AS day,
        CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) // 100
          AS BIGINT) AS x,
        CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS y
      FROM lineitem GROUP BY 1),
    $permCtes,
    all_pairs AS (
      SELECT 0 AS perm, x, y FROM daily
      UNION ALL $permSelects),
    stats AS (
      SELECT perm, COUNT(*) AS n,
        CAST(SUM(x) AS BIGINT) AS sx,
        CAST(SUM(y) AS BIGINT) AS sy,
        SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
          AS DECIMAL(38,0))) AS sxx,
        SUM(CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
          AS DECIMAL(38,0))) AS syy,
        SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
          AS DECIMAL(38,0))) AS sxy
      FROM all_pairs GROUP BY 1)
    SELECT CAST(perm AS BIGINT) AS perm,
      ROUND((n * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / sqrt((n * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * (n * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr
    FROM stats ORDER BY perm"""
  }

  // ------------------------------------------------------------ queries

  override def queries: Seq[Q] = Seq(
    Q("q382_quantile_treatment",
      (s, d) => quantileTreatment(events(s, d)), Some(qteOracle)),
    Q("q384_permutation_null",
      (s, d) => permutationNull(lineitem(s, d)), Some(permOracle())),
  )
}
