package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Round-6 statistics/analytics operator laws: growth ratios, basket
  * lift, Welch t-test, day-of-week seasonality, triangle counting.
  */
class StatsSpec extends SparkSpec {
  import spark.implicits._

  test("momGrowth ratios reproduce the revenue series and cover all orders") {
    val orders = Tables.orders(spark, sf("sf0.001"))
    val rows = Analytics.momGrowth(orders).collect()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == orders.count())
    // first month has no prior: growth null; later months obey the ratio
    assert(rows.head.isNullAt(rows.head.fieldIndex("mom_growth")))
    rows.sliding(2).foreach {
      case Array(prev, cur) =>
        val expected = (cur.getAs[Double]("rev") - prev.getAs[Double]("rev")) /
          prev.getAs[Double]("rev")
        assert(math.abs(cur.getAs[Double]("mom_growth") - expected) < 1e-12)
      case _ =>
    }
  }

  test("basketLift computes support and lift on a known basket fixture") {
    // baskets: o1{A,B} o2{A,B} o3{A} o4{B} => n_ab=2, n_a=3, n_b=3, N=4
    val li = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L), (4L, 20L))
      .toDF("l_orderkey", "l_partkey")
    val part = Seq((10L, "A"), (20L, "B")).toDF("p_partkey", "p_brand")
    val r = Analytics.basketLift(li, part).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_ab") == 2L)
    assert(math.abs(r(0).getAs[Double]("support") - 0.5) < 1e-15)
    assert(math.abs(r(0).getAs[Double]("lift") - 8.0 / 9.0) < 1e-15)
  }

  test("welchTtest: identical samples give t=0; a shifted sample gives the known sign") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(t: String, vs: Seq[Double]) = vs.map(v => (t, base, v))
    val events = (ev("aa", (1 to 20).map(_.toDouble)) ++
        ev("bb", (1 to 20).map(_.toDouble)) ++
        ev("cc", (1 to 20).map(_ + 10.0))) // cc mean is 10 higher
      .toDF("event_type", "ts", "value")
    val r = Analytics.welchTtest(events).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getAs[Double]("t_stat")).toMap
    assert(math.abs(r(("aa", "bb"))) < 1e-12)       // identical: t = 0
    assert(r(("aa", "cc")) < -5.0 && r(("bb", "cc")) < -5.0) // cc larger
  }

  test("dowSeasonality: per-dow masses recombine to the type mean (ratio weighted mean = 1)") {
    val rows = Analytics.dowSeasonality(Tables.events(spark, sf("sf0.001"))).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      val n = g.map(_.getAs[Long]("n")).sum.toDouble
      val wavg = g.map(r => r.getAs[Long]("n") * r.getAs[Double]("dow_avg")).sum / n
      val tavg = g.head.getAs[Double]("type_avg")
      assert(math.abs(wavg - tavg) < 1e-9, s"mass law violated: $wavg vs $tavg")
      val wratio = g.map(r => r.getAs[Long]("n") * r.getAs[Double]("seasonal_ratio")).sum / n
      assert(math.abs(wratio - 1.0) < 1e-9)
    }
  }

  test("locfInterpolate: anchors self-fill, spine is complete, interpolation is bounded") {
    val rows = Extended.locfInterpolate(Tables.events(spark, sf("sf0.001"))).collect()
    val types = rows.map(_.getString(0)).distinct.length
    val days = rows.map(_.getDate(1)).distinct.length
    assert(rows.length == types * days, "spine must cover every (type, day)")
    assert(rows.exists(_.getAs[Long]("is_anchor") == 0L), "fixture must have gaps")
    rows.filter(_.getAs[Long]("is_anchor") == 1L).foreach { r =>
      val a = r.getAs[Double]("anchor_val")
      assert(r.getAs[Double]("locf_val") == a && r.getAs[Double]("interp_val") == a)
    }
    // interpolated values on gap days lie within the anchor envelope
    val byType = rows.groupBy(_.getString(0))
    byType.values.foreach { g =>
      val anchors = g.filter(_.getAs[Long]("is_anchor") == 1L).map(_.getAs[Double]("anchor_val"))
      val (lo, hi) = (anchors.min, anchors.max)
      g.filter(r => !r.isNullAt(r.fieldIndex("interp_val"))).foreach { r =>
        val v = r.getAs[Double]("interp_val")
        assert(v >= lo - 1e-9 && v <= hi + 1e-9)
      }
    }
  }

  test("kAnonymity: class masses cover every customer and flags are consistent") {
    val customer = Tables.customer(spark, sf("sf0.001"))
    val rows = Analytics.kAnonymity(customer, Tables.nation(spark, sf("sf0.001"))).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == customer.count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_gen") >= r.getAs[Long]("n"))
      if (r.getAs[Long]("fixed_by_generalization") == 1L)
        assert(r.getAs[Long]("is_anonymous") == 0L)
    }
  }

  test("timeTravel snapshots reconstruct the commit history") {
    val d = sf("sf0.001")
    val r = Layout.timeTravel(spark, d).collect()
      .map(x => x.getAs[Long]("version") -> x.getAs[Long]("n_rows")).toMap
    val o = Tables.orders(spark, d)
    assert(r(1L) == o.filter(col("o_orderstatus") === "O").count())
    assert(r(2L) == o.count())
    assert(r(3L) == o.filter(col("o_orderstatus") =!= "F").count())
  }

  test("ppjoinPairs equals the shared-shingle jaccard twin (prefix filter is lossless)") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val pp = graft.text.Dedup.ppjoinPairs(docs).collect().map(_.toString).sorted
    val ex = graft.text.Dedup.jaccardPairs(docs).collect().map(_.toString).sorted
    assert(pp.nonEmpty && (pp sameElements ex))
  }

  test("olsTrend recovers a planted linear series exactly (r2 = 1)") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // one event per day: value = 2.5 + 0.25*x => daily sum is linear in x
    val events = (0 until 20).map { x =>
      ("lin", new java.sql.Timestamp(base.getTime + x * 86400000L), 2.5 + 0.25 * x)
    }.toDF("event_type", "ts", "value")
    val r = Analytics.olsTrend(events).collect()(0)
    assert(math.abs(r.getAs[Double]("slope") - 0.25) < 1e-9)
    assert(math.abs(r.getAs[Double]("intercept") - 2.5) < 1e-9)
    assert(math.abs(r.getAs[Double]("r2") - 1.0) < 1e-12)
  }

  test("bagSetOps honors multiset multiplicities") {
    // A = {1,1,2}, B = {1,2,2,3}: A∩B all = {1,2} (2), A∖B all = {1} (1), B∖A all = {2,3} (2)
    val orders = Seq(
      (1L, "O", 0.0), (1L, "O", 0.0), (2L, "O", 0.0),
      (1L, "F", 999999.0), (2L, "F", 999999.0), (2L, "F", 999999.0), (3L, "F", 999999.0))
      .toDF("o_custkey", "o_orderstatus", "o_totalprice")
    val r = Extended.bagSetOps(orders).collect()
      .map(x => x.getString(0) -> x.getAs[Long]("n")).toMap
    assert(r("intersect_all") == 2L)
    assert(r("except_all_open_minus_big") == 1L)
    assert(r("except_all_big_minus_open") == 2L)
  }

  test("cmsHeavyParts equals the plain GROUP BY + HAVING twin (screen is lossless)") {
    val li = Tables.lineitem(spark, sf("sf0.001"))
    val got = Scale.cmsHeavyParts(li).collect()
      .map(r => r.getAs[Long]("l_partkey") -> r.getAs[Long]("n_items")).toMap
    val total = li.count()
    val thr = math.max(1L, math.ceil(total * 0.0001).toLong)
    val want = li.filter(col("l_partkey") < 200).groupBy("l_partkey").count()
      .filter(col("count") >= thr).collect()
      .map(r => r.getAs[Long]("l_partkey") -> r.getAs[Long]("count")).toMap
    assert(got == want && got.nonEmpty)
  }

  test("kmeansLite partitions the corpus exactly (membership masses)") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val rows = graft.text.Similarity.kmeansLite(emb).collect()
    assert(rows.map(_.getAs[Long]("n_members")).sum == emb.count())
    val wantSum = emb.agg(sum("vec_id")).collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("member_sum")).sum == wantSum)
    assert(rows.map(_.getAs[Long]("cid")).forall(c => c >= 1 && c <= 4))
  }

  test("xmlSource round-trip equals the direct documents aggregate") {
    val d = sf("sf0.001")
    val got = Extended.xmlSource(spark, d).collect().map(_.toString).sorted
    val want = Tables.documents(spark, d)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("lang", "source").collect().map(_.toString).sorted
    assert(got.nonEmpty && (got sameElements want))
  }

  test("mannWhitney: U laws hold and a fully-shifted sample gives U_a = 0") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // every 'click' value below every 'error' value => A ranks lowest
    val events = ((1 to 15).map(i => ("click", base, i.toDouble)) ++
        (1 to 10).map(i => ("error", base, 100.0 + i)))
      .zipWithIndex.map { case ((t, ts, v), i) => (i.toLong, t, ts, v) }
      .toDF("event_id", "event_type", "ts", "value")
    val r = Analytics.mannWhitney(events).collect()(0)
    val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
    assert(na == 15L && nb == 10L)
    assert(r.getAs[Double]("u_a") == 0.0)
    assert(r.getAs[Double]("u_a") + r.getAs[Double]("u_b") == na.toDouble * nb)
    assert(r.getAs[Double]("z") < -4.0)
  }

  test("meanSuite obeys AM >= GM >= HM; constant series collapses all three") {
    val rows = Funcs.meanSuite(Tables.events(spark, sf("sf0.001"))).collect()
    rows.foreach { r =>
      val (am, gm, hm) = (r.getAs[Double]("arith_mean"),
        r.getAs[Double]("geo_mean"), r.getAs[Double]("harm_mean"))
      assert(am >= gm - 1e-9 && gm >= hm - 1e-9, s"AM/GM/HM violated: $am $gm $hm")
    }
    val const = (1 to 10).map(i =>
      (i.toLong, "k", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7.0))
      .toDF("event_id", "event_type", "ts", "value")
    val c = Funcs.meanSuite(const).collect()(0)
    assert(c.getAs[Double]("arith_mean") == 7.0)
    assert(math.abs(c.getAs[Double]("geo_mean") - 7.0) < 1e-6)
    assert(math.abs(c.getAs[Double]("harm_mean") - 7.0) < 1e-6)
  }

  test("invertedIndex masses: tf totals recombine to the corpus token count") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val rows = graft.text.TextAnalysis.invertedIndex(docs).collect()
    val totalTokens = docs.select(explode(split(col("text"), " "))).count()
    assert(rows.map(_.getAs[Long]("tf_total")).sum == totalTokens)
    val nDocs = docs.count()
    rows.foreach { r =>
      assert(r.getAs[Long]("df") <= nDocs)
      assert(r.getAs[Long]("max_tf") * r.getAs[Long]("df") >= r.getAs[Long]("tf_total"))
    }
  }

  test("walkForwardSplits never leaks: every fold trains strictly before it tests") {
    val rows = Scale.walkForwardSplits(Tables.events(spark, sf("sf0.001"))).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getDate(r.fieldIndex("max_train_day"))
        .before(r.getDate(r.fieldIndex("min_test_day"))))
      assert(r.getAs[Long]("n_train") > 0 && r.getAs[Long]("n_test") > 0)
    }
    val trains = rows.sortBy(_.getAs[Long]("fold")).map(_.getAs[Long]("n_train"))
    assert(trains.sliding(2).forall { case Array(a, b) => a < b; case _ => true })
  }

  test("systematicSample draws ceil(N/k) rows and is partitioning-independent") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val rows = Scale.systematicSample(docs).collect()
    val n = docs.count()
    assert(rows.map(_.getAs[Long]("n_sampled")).sum == (n + 9) / 10)
    assert(rows.map(_.getAs[Long]("n_total")).sum == n)
    val again = Scale.systematicSample(docs.repartition(7)).collect()
    assert(rows.map(_.toString).sorted sameElements again.map(_.toString).sorted)
  }

  test("mergeInto action masses reconstruct target and source cardinalities") {
    val orders = Tables.orders(spark, sf("sf0.001"))
    val r = Extended.mergeInto(orders).collect()
      .map(x => x.getString(0) -> x.getAs[Long]("n_rows")).toMap
    val target = orders.filter(col("o_orderstatus") === "O")
    val source = orders.filter(col("o_totalprice") > 250000.0)
    assert(r("update") + r("keep") == target.count())
    val inserts = source.join(target.select(col("o_orderkey").as("k")),
      col("o_orderkey") === col("k"), "left_anti").count()
    assert(r("insert") == inserts)
  }

  test("psiDrift: ten bins, masses recombine, identical windows score zero") {
    val rows = Analytics.psiDrift(Tables.events(spark, sf("sf0.001"))).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Long]("bin")).toSeq == (0L to 9L))
    // identical ref/current distributions => every contribution is 0
    val ref = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
    val cur = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
    val same = (1 to 200).flatMap(i =>
      Seq(("x", ref, i.toDouble), ("x", cur, i.toDouble)))
      .toDF("event_type", "ts", "value")
    val zero = Analytics.psiDrift(same).collect()
    assert(zero.forall(_.getAs[Double]("psi_contribution") == 0.0))
    assert(zero.map(_.getAs[Long]("n_ref")).sum == 200L)
    assert(zero.map(_.getAs[Long]("n_cur")).sum == 200L)
  }

  test("joinSizeEstimate from exact histograms equals the executed join") {
    val d = sf("sf0.001")
    val r = Analytics.joinSizeEstimate(
      Tables.lineitem(spark, d), Tables.orders(spark, d)).collect()(0)
    assert(r.getAs[Long]("estimated_rows") == r.getAs[Long]("actual_rows"))
    assert(r.getAs[Long]("n_join_keys") > 0)
    assert(r.getAs[Long]("max_key_contribution") >= 1L)
  }

  test("recordLinkage matches a planted near-duplicate and respects blocking") {
    val customer = Seq(
      (1L, "Customer#000000001", 1, 100.0, "AUTO"),
      (2L, "Customer#000000002", 1, 120.0, "AUTO"),   // lev=1 to #1, close bal
      (3L, "Customer#000000002", 2, 120.0, "AUTO"),   // same name, other block
      (4L, "Xylophone Warehouse", 1, 99999.0, "AUTO"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val rows = graft.text.Dedup.recordLinkage(customer).collect()
    val b1 = rows.find(r => r.getInt(0) == 1).get
    assert(b1.getAs[Long]("n_matches") == 1L)        // only the (1,2) pair
    assert(b1.getAs[Long]("match_checksum") == 3L)   // 1 + 2
    // blocking: the same-name customer in nation 2 is a singleton block —
    // it sorts alone, pairs with nothing, and audits as an all-zero row
    val b2 = rows.find(r => r.getInt(0) == 2).get
    assert(b2.getAs[Long]("n_candidates") == 0L)
    assert(b2.getAs[Long]("n_matches") == 0L)
  }

  test("winsorize clips at most ~1% per tail and keeps the mean in the cap range") {
    val rows = Analytics.winsorize(Tables.events(spark, sf("sf0.001"))).collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      assert(r.getAs[Long]("n_clipped_low") * 100 <= n)
      assert(r.getAs[Long]("n_clipped_high") * 100 <= n)
      // winsorization pulls the mean toward the center, never past the raw extremes
      assert(r.getAs[Double]("winsor_mean") > 0.0)
    }
  }

  test("benford shares sum to one over digits 1..9") {
    val rows = Analytics.benfordAudit(Tables.orders(spark, sf("sf0.001"))).collect()
    assert(rows.map(_.getAs[Long]("digit")).toSet.subsetOf((1L to 9L).toSet))
    assert(math.abs(rows.map(_.getAs[Double]("observed")).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_.getAs[Double]("expected")).sum - 1.0) < 1e-4)
  }

  test("weightedMedian finds the 50% weight point (planted weights)") {
    val li = Seq(("A", 1.0, 1.0), ("A", 2.0, 1.0), ("A", 3.0, 10.0))
      .map { case (f, p, q) => (f, p, q) }
      .toDF("l_returnflag", "l_extendedprice", "l_quantity")
    val r = Analytics.weightedMedian(li).collect()(0)
    assert(r.getAs[Long]("total_weight") == 12L)
    assert(r.getAs[Double]("weighted_median") == 3.0)
  }

  test("spearman is +1 on a monotone relation and -1 on its reversal") {
    val up = (1 to 100).map(i => (i.toDouble, i * 2.0))
      .toDF("l_quantity", "l_extendedprice")
    assert(Analytics.spearmanCorr(up).collect()(0).getAs[Double]("spearman_rho") == 1.0)
    val down = (1 to 100).map(i => (i.toDouble, (200 - i).toDouble))
      .toDF("l_quantity", "l_extendedprice")
    assert(Analytics.spearmanCorr(down).collect()(0).getAs[Double]("spearman_rho") == -1.0)
  }

  test("journeyPaths surfaces a planted dominant 3-gram first") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // 30 users walk view>click>purchase; 1 user walks error>error>error
    val events = (1 to 30).flatMap(u => Seq("view", "click", "purchase").zipWithIndex.map {
      case (t, i) => (u.toLong * 100 + i, u.toLong, new java.sql.Timestamp(base + i * 1000), t)
    }) ++ Seq("error", "error", "error").zipWithIndex.map {
      case (t, i) => (9000L + i, 999L, new java.sql.Timestamp(base + i * 1000), t)
    }
    val df = events.toDF("event_id", "user_id", "ts", "event_type")
    val top = Analytics.journeyPaths(df).collect()
    assert(top.head.getString(0) == "view>click>purchase")
    assert(top.head.getAs[Long]("n") == 30L)
    assert(top.map(_.getString(0)).contains("error>error>error"))
  }

  test("ewma of a constant series is that constant") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val events = (0 until 10).map(d =>
      (d.toLong, "k", new java.sql.Timestamp(base + d * 86400000L), 5.0))
      .toDF("event_id", "event_type", "ts", "value")
    val r = Analytics.ewmaSmooth(events).collect()(0)
    assert(r.getAs[Long]("n_days") == 10L)
    assert(r.getAs[Double]("ewma_last") == 5.0)
    assert(r.getAs[Double]("last_raw") == 5.0)
  }

  test("autocorrelation of a linear daily series is exactly 1 at every lag") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val events = (0 until 20).map(d =>
      (d.toLong, "lin", new java.sql.Timestamp(base + d * 86400000L), 1.0 + d))
      .toDF("event_id", "event_type", "ts", "value")
    val rows = Analytics.autocorrelation(events).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Double]("acf") == 1.0)
      assert(r.getAs[Long]("n_pairs") == 20L - r.getAs[Long]("lag"))
    }
  }

  test("groupImpute: imputed value is an observed value and means stay bounded") {
    val rows = Analytics.groupImpute(Tables.events(spark, sf("sf0.001"))).collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n")
      val miss = r.getAs[Long]("n_missing")
      assert(miss > 0 && miss < n, "md5 coin should hit ~20% of rows")
      val (om, im) = (r.getAs[Double]("observed_mean"), r.getAs[Double]("imputed_mean"))
      val iv = r.getAs[Double]("imputed_value")
      // imputed mean is a convex mix of the observed mean and the median
      assert(im >= math.min(om, iv) - 1e-9 && im <= math.max(om, iv) + 1e-9)
    }
  }

  test("targetEncoding shrinks every segment mean toward the global prior") {
    val d = sf("sf0.001")
    val rows = Analytics.targetEncoding(
      Tables.customer(spark, d), Tables.orders(spark, d)).collect()
    val global = {
      val n = rows.map(_.getAs[Long]("n_customers")).sum.toDouble
      rows.map(r => r.getAs[Long]("n_customers") * r.getAs[Double]("raw_mean")).sum / n
    }
    rows.foreach { r =>
      val (raw, enc) = (r.getAs[Double]("raw_mean"), r.getAs[Double]("encoded"))
      val (lo, hi) = (math.min(raw, global), math.max(raw, global))
      assert(enc >= lo - 1e-6 && enc <= hi + 1e-6,
        s"encoded $enc outside [$lo, $hi]")
    }
  }

  test("mutualInformation is zero under independence and bounded by the entropies") {
    // perfectly independent: every (priority, status) combo equally likely
    val indep = (for { p <- 1 to 3; st <- 1 to 2; _ <- 1 to 50 }
      yield (s"P$p", s"S$st")).toDF("o_orderpriority", "o_orderstatus")
    val r0 = Analytics.mutualInformation(indep).collect()(0)
    assert(r0.getAs[Double]("mi") == 0.0)
    // real data: 0 <= MI <= min(H_x, H_y) (within the 1e-6 output grid)
    val r = Analytics.mutualInformation(Tables.orders(spark, sf("sf0.001"))).collect()(0)
    val (mi, hx, hy) = (r.getAs[Double]("mi"), r.getAs[Double]("h_x"), r.getAs[Double]("h_y"))
    assert(mi >= -1e-6 && mi <= math.min(hx, hy) + 1e-6)
    assert(r.getAs[Double]("nmi") >= -1e-6 && r.getAs[Double]("nmi") <= 1.0 + 1e-6)
  }

  test("ksTest: D numerator is 0 on identical distributions, maximal on disjoint supports") {
    import java.sql.Timestamp
    def ev(id: Long, t: String, v: Double) =
      (id, Timestamp.valueOf("2024-01-01 00:00:00"), id, t, v, "{}")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // identical value multisets => every CDF point coincides
    val same = (1L to 20L).flatMap(i =>
      Seq(ev(i, "purchase", (i % 5).toDouble), ev(i + 100, "view", (i % 5).toDouble)))
      .toDF(cols: _*)
    val r0 = Analytics.ksTest(same).collect()(0)
    assert(r0.getAs[Long]("d_num") == 0L)
    assert(r0.getAs[Double]("d_stat") == 0.0)
    // disjoint supports => D = 1 at the boundary
    val disj = ((1L to 10L).map(i => ev(i, "purchase", 1.0 + i)) ++
      (1L to 10L).map(i => ev(i + 100, "view", 100.0 + i))).toDF(cols: _*)
    val r1 = Analytics.ksTest(disj).collect()(0)
    assert(r1.getAs[Double]("d_stat") == 1.0)
  }

  test("giniConcentration: equal spend gives ~0, a single owner gives ~1") {
    def run(cust: Seq[Long], spend: Map[Long, Double]): Double = {
      val c = cust.map(k => (k, s"c$k")).toDF("c_custkey", "c_name")
      val o = spend.toSeq.zipWithIndex
        .map { case ((k, v), i) => (i.toLong, k, v) }
        .toDF("o_orderkey", "o_custkey", "o_totalprice")
      Analytics.giniConcentration(c, o).collect()(0).getAs[Double]("gini")
    }
    val n = 50L
    val equal = run(1L to n, (1L to n).map(_ -> 10.0).toMap)
    // exact equal-spend Gini is -1/n + ... = (2*Σi*x - (n+1)*Σx)/(n*Σx) with
    // x constant => (n(n+1) - (n+1)n)/(n*n) = 0
    assert(math.abs(equal) < 1e-12, s"equal spend gini $equal")
    val single = run(1L to n, Map(n -> 1000.0))
    // one owner: G = (2n - (n+1))/n = (n-1)/n
    assert(math.abs(single - (n - 1).toDouble / n) < 1e-9, s"single-owner gini $single")
  }

  test("kendallTau is 1 on a strictly concordant series and -1 on a reversed one") {
    import java.sql.Date
    def orders(rev: Seq[Double]): org.apache.spark.sql.DataFrame =
      rev.zipWithIndex.flatMap { case (r, i) =>
        // month i: i+1 orders (strictly increasing x), revenue r
        (0 to i).map(j => (i.toLong * 100 + j,
          Date.valueOf(f"2024-${i + 1}%02d-01"), r / (i + 1)))
      }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val up = Analytics.kendallTau(orders(Seq(10.0, 20.0, 30.0, 40.0))).collect()(0)
    assert(up.getAs[Double]("tau_b") == 1.0)
    val down = Analytics.kendallTau(orders(Seq(40.0, 30.0, 20.0, 10.0))).collect()(0)
    assert(down.getAs[Double]("tau_b") == -1.0)
  }

  test("theilSen recovers an exact linear trend and shrugs off one outlier month") {
    import java.sql.Date
    def month(i: Int) = Date.valueOf(f"202${4 + i / 12}%d-${i % 12 + 1}%02d-01")
    // revenue = 100 + 10*monthIndex, one order per month
    val clean = (0 until 24).map(i => (i.toLong, month(i), 100.0 + 10.0 * i))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val r = Analytics.theilSen(clean).collect()(0)
    assert(math.abs(r.getAs[Double]("ts_slope") - 10.0) < 1e-9)
    // poison one month with a 100x outlier: the pairwise-slope median moves
    // by at most one order statistic — slope stays ~10
    val dirty = (0 until 24).map(i =>
        (i.toLong, month(i), if (i == 12) 50000.0 else 100.0 + 10.0 * i))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val rd = Analytics.theilSen(dirty).collect()(0)
    assert(math.abs(rd.getAs[Double]("ts_slope") - 10.0) < 1.0,
      s"robust slope ${rd.getAs[Double]("ts_slope")}")
  }

  test("stlDecompose: trend+seasonal+resid reassembles rev; seasonal sums to ~0 per cycle") {
    val r = Analytics.stlDecompose(Tables.orders(spark, sf("sf0.001"))).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val re = row.getAs[Double]("rev")
      val t = row.getAs[Double]("trend")
      val s = row.getAs[Double]("seasonal")
      val e = row.getAs[Double]("resid")
      assert(math.abs(re - (t + s + e)) < 1e-4, s"decomposition identity at $row")
    }
  }

  test("snapshotDedup admission counts partition the incoming batch") {
    val r = graft.text.Dedup.snapshotDedup(
      Tables.documents(spark, sf("sf0.001"))).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Long]("n_incoming") ==
        row.getAs[Long]("dup_vs_base") + row.getAs[Long]("dup_in_batch") +
          row.getAs[Long]("admitted"))
    }
  }

  test("scoreCalibration: bins partition the events, rates bounded, ECE consistent") {
    val events = Tables.events(spark, sf("sf0.001"))
    val rows = Analytics.scoreCalibration(events).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == events.count())
    rows.foreach { r =>
      assert(r.getAs[Double]("obs_rate") >= 0.0 && r.getAs[Double]("obs_rate") <= 1.0)
      assert(r.getAs[Double]("mean_p") >= 0.0 && r.getAs[Double]("mean_p") <= 1.0)
      assert(r.getAs[Double]("brier") >= 0.0 && r.getAs[Double]("brier") <= 1.0)
    }
    // ECE is a convex combination of gaps: bounded by the max bin gap
    val maxGap = rows.map(_.getAs[Double]("gap")).max
    assert(rows.head.getAs[Double]("ece") <= maxGap + 1e-9)
  }

  test("bootstrapCi: interval brackets the estimate and tracks the sample mean") {
    val r = Analytics.bootstrapCi(Tables.orders(spark, sf("sf0.001"))).collect()(0)
    assert(r.getAs[Long]("b") == 40L)
    val (lo, hi) = (r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))
    val bm = r.getAs[Double]("boot_mean")
    assert(lo <= bm && bm <= hi)
    val se = r.getAs[Double]("boot_se")
    assert(se > 0.0)
    assert(math.abs(bm - r.getAs[Double]("sample_mean")) < 6.0 * se)
  }

  test("cusumChangepoint locates a planted level shift at its boundary") {
    // 40 days: 100/day then 200/day from day 21 => argmax |CUSUM| at day 20
    val d0 = java.time.LocalDate.parse("2024-01-01")
    val orders = (0 until 40).map { i =>
      (i.toLong, java.sql.Date.valueOf(d0.plusDays(i)),
        if (i < 20) 100.0 else 200.0)
    }.toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val r = Analytics.cusumChangepoint(orders).collect()(0)
    assert(r.getAs[Long]("n_days") == 40L)
    assert(r.getDate(1) == java.sql.Date.valueOf(d0.plusDays(19)), s"got $r")
    assert(r.getAs[Double]("max_cusum") > 3.0) // far beyond any control limit
    assert(math.abs(r.getAs[Double]("mean_daily") - 150.0) < 1e-9)
  }

  test("holtTrend: constant series gives zero trend and flat forecasts; linear series extrapolates upward") {
    val d0 = java.time.LocalDate.parse("2023-01-15")
    val const = (0 until 12).map(i =>
      (i.toLong, java.sql.Date.valueOf(d0.plusMonths(i)), 100.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val rc = Analytics.holtTrend(const).collect()(0)
    assert(rc.getAs[Long]("n_months") == 12L)
    assert(math.abs(rc.getAs[Double]("level") - 100.0) < 1e-9)
    assert(math.abs(rc.getAs[Double]("trend")) < 1e-9)
    assert(math.abs(rc.getAs[Double]("forecast_3") - 100.0) < 1e-9)
    val lin = (0 until 12).map(i =>
      (i.toLong, java.sql.Date.valueOf(d0.plusMonths(i)), 100.0 * (i + 1)))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val rl = Analytics.holtTrend(lin).collect()(0)
    assert(rl.getAs[Double]("trend") > 0.0)
    assert(rl.getAs[Double]("forecast_3") > rl.getAs[Double]("forecast_1"))
  }

  test("ngramNovelty: the decile holding a gram's first doc gets the novelty") {
    // doc 0 coins "a b c"; docs 1..9 repeat it verbatim
    val docs = (0 until 10).map(i => (i.toLong, "a b c")).toDF("doc_id", "text")
    val rows = graft.text.TextAnalysis.ngramNovelty(docs).collect()
    assert(rows.length == 10) // one doc per decile
    rows.foreach { r =>
      val expect = if (r.getAs[Long]("decile") == 0L) 1.0 else 0.0
      assert(r.getAs[Double]("novelty_rate") == expect, s"at $r")
      assert(r.getAs[Long]("grams") == 1L)
    }
  }

  test("triangleCount finds the planted triangle and ignores the dangling edge") {
    // nation graph: 1-2, 2-3, 1-3 (triangle) + 3-4 (dangling)
    val supplier = Seq((1L, 1), (2L, 2), (3L, 3), (4L, 3)).toDF("s_suppkey", "s_nationkey")
    val customer = Seq((1L, 2), (2L, 3), (3L, 1), (4L, 4)).toDF("c_custkey", "c_nationkey")
    val orders = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)).toDF("o_orderkey", "o_custkey")
    // edges via (supplier nation, customer nation) pairs: (1,2),(2,3),(3,1),(3,4)
    val li = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)).toDF("l_orderkey", "l_suppkey")
    val r = Analytics.triangleCount(li, orders, supplier, customer).collect()(0)
    assert(r.getAs[Long]("n_nodes") == 4L)
    assert(r.getAs[Long]("n_edges") == 4L)
    assert(r.getAs[Long]("n_triangles") == 1L)
  }
}
