package graft.ops

import graft.{SparkSpec, Tables}

/** Laws for the round-8 series/distribution diagnostics: runs-test
  * extremes on planted alternating/blocked series, renewal invariants,
  * planted-period periodogram recovery, Durbin–Watson extremes, Theil
  * decomposition identities, rate-limit binning, federated-median error
  * bounds, LTV monotonicity, and Haar energy conservation.
  */
class SeriesSpec extends SparkSpec {
  import spark.implicits._

  private def ordersOf(rows: Seq[(Long, Double, String)]) =
    rows.map { case (day, price, _) =>
      val d = java.time.LocalDate.of(1995, 1, 1).plusDays(day)
      (day, 1L, "O", price, java.sql.Timestamp.valueOf(d.atStartOfDay()), "P")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")

  test("runsTest: perfectly alternating daily series has runs == n") {
    // 28 days alternating low/high around the median
    val rows = (0 until 28).map { d =>
      (d.toLong, if (d % 2 == 0) 10.0 else 1000.0, "")
    }
    val r = Series.runsTest(ordersOf(rows)).collect()(0)
    assert(r.getAs[Long]("n_days") == 28)
    assert(r.getAs[Long]("runs") == 28, s"alternating series: $r")
    assert(r.getAs[Double]("z") > 0)
  }

  test("runsTest: two-block series has exactly 2 runs and negative z") {
    val rows = (0 until 28).map { d =>
      (d.toLong, if (d < 14) 10.0 else 1000.0, "")
    }
    val r = Series.runsTest(ordersOf(rows)).collect()(0)
    assert(r.getAs[Long]("runs") == 2, s"blocked series: $r")
    assert(r.getAs[Double]("z") < 0)
  }

  test("interarrival: probabilities bounded, median between min and max gap") {
    val r = Series.interarrival(Tables.events(spark, sf("sf0.001"))).collect()(0)
    val (pm, p2m) = (r.getAs[Double]("p_gt_median"), r.getAs[Double]("p_gt_2median"))
    assert(pm <= 0.5 + 1e-9, "by definition of the median")
    assert(p2m <= pm)
    assert(r.getAs[Double]("memoryless_ratio") <= 1.0 + 1e-9)
    assert(r.getAs[Double]("cv") > 0)
    assert(r.getAs[Double]("median_us") > 0)
  }

  test("periodogram: a planted period-7 cycle dominates the spectrum") {
    // 28 days, count spikes every 7th day
    val heavy = (0 until 28).flatMap { day =>
      val n = if (day % 7 == 0) 30 else 3
      (0 until n).map(k => (day.toLong * 100 + k,
        java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:00"),
        1L, "view", 1.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Series.periodogram(heavy).collect()
      .map(row => row.getInt(0) -> row.getAs[Double]("power")).toMap
    val p7 = r(7)
    (2 to 10).filter(_ != 7).foreach { p =>
      assert(p7 > r(p), s"period 7 must dominate: p7=$p7, p$p=${r(p)}")
    }
  }

  test("durbinWatson: an alternating-residual series pushes DW toward 4") {
    val rows = (0 until 28).map { d =>
      (d.toLong, 500.0 + (if (d % 2 == 0) 400.0 else -400.0), "")
    }
    val r = Series.durbinWatson(ordersOf(rows)).collect()(0)
    assert(r.getAs[Double]("dw") > 3.0, s"alternating residuals: $r")
    val corpus = Series.durbinWatson(Tables.orders(spark, sf("sf0.001"))).collect()(0)
    val dw = corpus.getAs[Double]("dw")
    assert(dw > 0 && dw < 4)
  }

  test("theilIndex: decomposition is additive and zero for equal spends") {
    val r = Series.theilIndex(Tables.orders(spark, sf("sf0.001")),
      Tables.customer(spark, sf("sf0.001"))).collect()(0)
    val (t, tb, tw) = (r.getAs[Double]("theil"),
      r.getAs[Double]("theil_between"), r.getAs[Double]("theil_within"))
    assert(t >= 0)
    assert(math.abs(t - tb - tw) < 1e-5, "decomposition must be additive")
    assert(tb >= -1e-9 && tb <= t + 1e-9)
  }

  test("rateLimitAudit: a planted burst user lands in the top bin") {
    val base = (0 until 50).map(i => (i.toLong,
      java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 00:00:00"),
      (i % 5).toLong + 10, "view", 1.0, "{}"))
    val burst = (0 until 30).map(i => (1000L + i,
      java.sql.Timestamp.valueOf(f"2024-01-15 12:${i % 60}%02d:00"),
      99L, "view", 1.0, "{}"))
    val ev = (base ++ burst).toDF("event_id", "ts", "user_id", "event_type",
      "value", "props")
    val bins = Series.rateLimitAudit(ev).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_users")).toMap
    assert(bins.contains("11+"), s"burst user must hit the top bin: $bins")
  }

  test("federatedQuantiles: estimate lies within the shard-median envelope") {
    val r = Series.federatedQuantiles(Tables.lineitem(spark, sf("sf0.001"))).collect()(0)
    val (g, f) = (r.getAs[Double]("global_median"), r.getAs[Double]("fed_median"))
    assert(r.getAs[Double]("abs_err") == math.abs(f - g))
    val share = r.getAs[Double]("fed_rank_share")
    assert(share > 0.3 && share < 0.7,
      s"federated median should stay near the true center: $share")
  }

  test("ltvCohorts: cumulative revenue is non-decreasing within a cohort") {
    val rows = Series.ltvCohorts(Tables.orders(spark, sf("sf0.001"))).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("cohort_ym")).foreach { case (_, rs) =>
      val byAge = rs.sortBy(_.getAs[Long]("age")).map(_.getAs[Double]("cum_rev"))
      byAge.sliding(2).foreach {
        case Array(a, b) => assert(b >= a - 1e-9, "cum_rev must not decrease")
        case _ =>
      }
    }
  }

  test("tukeyFences: planted uniform block with one spike flags exactly the spike") {
    val ev = ((1 to 100).map(i => (i.toLong,
      java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), 1L, "view",
      (i % 10).toDouble + 10, "{}")) :+
      (999L, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), 1L, "view",
        10000.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Series.tukeyFences(ev).collect()(0)
    assert(r.getAs[Long]("n_high_outliers") == 1L, s"spike must be flagged: $r")
    assert(r.getAs[Long]("n_low_outliers") == 0L)
    assert(r.getAs[Double]("q3") >= r.getAs[Double]("q1"))
  }

  test("gpdTail: exceedance count matches the p90 rank split; tail quantiles positive") {
    val r = Series.gpdTail(Tables.orders(spark, sf("sf0.001"))).collect()(0)
    val (n, m) = (r.getAs[Long]("n_orders"), r.getAs[Long]("n_exceed"))
    assert(m <= n / 10 + 1 && m > 0, s"~10% exceed the p90 threshold: $r")
    assert(r.getAs[Double]("actual_p999") > 0)
    assert(r.getAs[Double]("implied_p999") > r.getAs[Long]("threshold_cents") / 100.0)
  }

  test("grangerLite: a planted p_t = e_(t-1) dependence yields a huge F") {
    val ev = (0 until 28).flatMap { day =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(day)
      val errs = (day * 7 + 3) % 11 + 1
      val purch = if (day == 0) 5 else ((day - 1) * 7 + 3) % 11 + 1
      (0 until errs).map(k => (day.toLong * 1000 + k,
        java.sql.Timestamp.valueOf(d.atTime(10, 0)), 1L, "error", 1.0, "{}")) ++
        (0 until purch).map(k => (day.toLong * 1000 + 500 + k,
          java.sql.Timestamp.valueOf(d.atTime(11, 0)), 1L, "purchase", 1.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Series.grangerLite(ev).collect()(0)
    // a PERFECT lag fit drives RSS_u to exactly 0 -> the guarded NULL
    val f = r.getAs[java.lang.Double]("f_stat")
    assert(f == null || f > 100, s"perfect lag dependence must dominate: $r")
    assert(math.abs(r.getAs[Double]("error_lag_coef") - 1.0) < 1e-3)
    // and the real corpus exercises the finite branch
    val corpus = Series.grangerLite(
      graft.Tables.events(spark, sf("sf0.001"))).collect()(0)
    assert(corpus.getAs[java.lang.Double]("f_stat") != null)
  }

  test("latencyHistogram: shares sum to 1, buckets are powers of two, cum monotone") {
    val rows = Series.latencyHistogram(Tables.events(spark, sf("sf0.001"))).collect()
    assert(rows.nonEmpty)
    val shareSum = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-3, s"shares must sum to ~1: $shareSum")
    rows.foreach { r =>
      val lo = r.getAs[Long]("lo_us")
      assert((lo & (lo - 1)) == 0L, s"bucket floor must be a power of two: $lo")
    }
    val cums = rows.sortBy(_.getAs[Long]("bucket")).map(_.getAs[Double]("cum_share"))
    cums.sliding(2).foreach {
      case Array(a, b) => assert(b >= a)
      case _ =>
    }
    assert(math.abs(cums.last - 1.0) < 1e-9)
  }

  test("haarCompaction: constant series puts all energy in the approximation") {
    val rows = (0 until 32).map(d => (d.toLong, 100.0, ""))
    val r = Series.haarCompaction(ordersOf(rows)).collect()
    val byLevel = r.map(x => x.getAs[Long]("level") -> x).toMap
    (1L to 5L).foreach { l =>
      assert(byLevel(l).getAs[Double]("max_abs") == 0.0,
        s"constant series must have zero detail at level $l")
    }
    assert(byLevel(0L).getAs[Long]("energy") > 0)
  }

  test("weibullFit: data generated at the estimator's plotting positions is recovered exactly") {
    import spark.implicits._
    // v_i = lambda * (-ln(1 - F_i))^(1/k) with F_i = (i-0.3)/(n+0.4):
    // the probability plot is then exactly linear -> r2 = 1, shape = k
    val (k, lambda, n) = (2.0, 10.0, 60)
    val rows = (1 to n).map { i =>
      val f = (i - 0.3) / (n + 0.4)
      val v = lambda * math.pow(-math.log(1 - f), 1 / k)
      (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L,
        "view", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Series.weibullFit(rows).collect()(0)
    assert(math.abs(r.getAs[Double]("shape") - k) < 1e-6)
    assert(math.abs(r.getAs[Double]("scale") - lambda) < 1e-4)
    assert(math.abs(r.getAs[Double]("r2") - 1.0) < 1e-9)
  }
  test("gumbelMaxima: constant block maxima give beta 0 and return level = mu") {
    val rows = (0 until 30).map(d => (d.toLong, 500.0, ""))
    val r = Series.gumbelMaxima(ordersOf(rows)).collect()(0)
    assert(r.getAs[Long]("n_blocks") == 30L)
    assert(r.getAs[Double]("beta") == 0.0)
    assert(r.getAs[Double]("mu") == 500.0)
    assert(r.getAs[Double]("return_level_30") == 500.0)
  }

}
