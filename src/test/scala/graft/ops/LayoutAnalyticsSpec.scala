package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Round-5 operator tests: Z-order layout, compaction planning,
  * Misra-Gries heavy hitters, deterministic group sampling, islands,
  * PageRank invariants, DQ suite, robust scaling, and the bucketed /
  * stream-enrich graded twins.
  */
class LayoutAnalyticsSpec extends SparkSpec {

  test("zorder2 interleaves bits (known values)") {
    val df = spark.range(1).select(
      Layout.zorder2(lit(3L), lit(5L)).as("z35"),
      Layout.zorder2(lit(0L), lit(255L)).as("zy"),
      Layout.zorder2(lit(255L), lit(0L)).as("zx"))
    val r = df.collect()(0)
    // x=3 (bits 0,1 -> even positions 0,2), y=5 (bits 0,2 -> odd positions 1,5)
    assert(r.getLong(0) == (1L + 4L) + (2L + 32L))
    assert(r.getLong(1) == 0xAAAAL) // all odd positions
    assert(r.getLong(2) == 0x5555L) // all even positions
  }

  test("zorder layout files tile the table and bound both dimensions") {
    val audit = Layout.zorderLayout(Tables.lineitem(spark, sf("sf0.001"))).collect()
    assert(audit.length == 32)
    val li = Tables.lineitem(spark, sf("sf0.001")).count()
    assert(audit.map(_.getAs[Long]("n_rows")).sum == li)
    // Z-ordered files must be materially more selective than full-range
    // boxes on average (256*256 = 65536 is the no-clustering worst case)
    val avgArea = audit.map(_.getAs[Long]("bbox_area")).sum / audit.length
    assert(avgArea < 65536 / 2, s"avg bbox $avgArea not clustered")
  }

  test("compaction plan covers every file once with contiguous key ranges") {
    val li = Tables.lineitem(spark, sf("sf0.001"))
    val plan = Layout.compactionPlan(li).collect()
    val nFiles = li.select("l_partkey").distinct().count()
    assert(plan.map(_.getAs[Long]("n_files")).sum == nFiles)
    // key ranges are disjoint and ordered: each bin's min exceeds the
    // previous bin's max
    plan.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("max_key") < b.getAs[Long]("min_key"))
      case _ =>
    }
  }

  test("misra-gries never loses an item above the n/(k+1) guarantee") {
    // skewed synthetic stream: token i appears i^2 times
    val items = (1 to 40).flatMap(i => Seq.fill(i * i)(s"t$i"))
    val n = items.size
    val k = 15
    val rnd = new scala.util.Random(7)
    val shuffled = rnd.shuffle(items)
    import spark.implicits._
    val mg = udaf(graft.functions.MisraGries.sketch(k))
    val cands = shuffled.toDF("tok").repartition(8)
      .agg(mg(col("tok"))).collect()(0).getSeq[String](0).toSet
    val exact = items.groupBy(identity).view.mapValues(_.size)
    val mustKeep = exact.collect { case (t, c) if c > n / (k + 1) => t }
    mustKeep.foreach(t => assert(cands.contains(t), s"$t lost by sketch"))
    assert(cands.size <= k)
  }

  test("heavy hitters equals exact group-by + threshold") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val hh = graft.text.TextAnalysis.heavyHitters(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    val n = toks.count()
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .filter(col("c") * 200L > n)
      .orderBy(col("c").desc, col("tok")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(hh.toSeq == exact.toSeq)
    assert(hh.nonEmpty)
  }

  test("group sample is deterministic and bounded per stratum") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val a = Scale.groupSample(docs).collect().map(_.toSeq)
    val b = Scale.groupSample(docs.repartition(7)).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq) // partitioning-independent
    val perGroup = Scale.groupSample(docs).groupBy("lang", "source").count()
    assert(perGroup.agg(max("count")).collect()(0).getLong(0) <= 4)
  }

  test("activity islands: consecutive days collapse, gaps split") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01"), (1L, "2024-01-02"), (1L, "2024-01-03"),
      (1L, "2024-01-05"),
      (2L, "2024-02-10")
    ).toDF("user_id", "day")
      .select(col("user_id"), col("day").cast("timestamp").as("ts"))
    val r = Analytics.activityIslands(ev).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r == Seq((1L, 2L, 3L), (2L, 1L, 1L)))
  }

  test("pagerank ranks are bounded and nodes with inflow exceed the base") {
    val d = sf("sf0.001")
    val pr = Analytics.tradePageRank(Tables.lineitem(spark, d),
      Tables.orders(spark, d), Tables.supplier(spark, d),
      Tables.customer(spark, d), Tables.nation(spark, d)).collect()
    assert(pr.length == 25)
    val base = 0.15 / 25
    pr.foreach(r => assert(r.getDouble(1) >= base - 1e-12))
    // drop-dangling semantics: total mass is <= 1 (dangling mass vanishes
    // each step) and > the pure-teleport floor
    val total = pr.map(_.getDouble(1)).sum
    assert(total <= 1.0 + 1e-9 && total > 0.15 - 1e-9, s"rank mass $total")
    // at least one nation receives trade inflow above the base rank
    assert(pr.map(_.getDouble(1)).max > base + 1e-9)
  }

  test("dq expectation suite emits every check with sane counts") {
    val d = sf("sf0.001")
    val r = Analytics.dqExpectations(Tables.orders(spark, d),
      Tables.lineitem(spark, d), Tables.customer(spark, d)).collect()
    val byName = r.map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byName.keySet == Set("null_custkey", "orphan_orders",
      "nonpositive_price", "discount_out_of_range", "duplicate_pk",
      "ship_before_order"))
    assert(byName.values.forall(_ >= 0L))
    // the synthetic corpus genuinely contains duplicate (orderkey,
    // linenumber) pairs — the check must agree with a direct recount
    val dupes = Tables.lineitem(spark, d)
      .groupBy("l_orderkey", "l_linenumber").count().filter(col("count") > 1).count()
    assert(byName("duplicate_pk") == dupes)
  }

  test("robust scale emits one row per dimension with non-negative IQR") {
    val r = graft.text.Similarity.robustScale(
      Tables.embeddings(spark, sf("sf0.001"))).collect()
    assert(r.length == 64)
    assert(r.map(_.getAs[Long]("dim")).toSeq == (1L to 64L))
    r.foreach { row =>
      assert(row.getAs[Double]("iqr") >= 0.0)
      assert(row.getAs[Long]("n") > 0)
    }
  }

  test("bucketed revenue query plan reads both sides without exchange") {
    val df = Scale.bucketedRevenue(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.treeString
    // the final single-partition orderBy exchanges AFTER the aggregation;
    // the join itself must not: no hashpartitioning exchange on the keys
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join shuffled:\n${plan.take(2000)}")
    assert(df.count() > 0)
  }

  test("corr matrix agrees with the builtin estimator and is bounded") {
    val li = Tables.lineitem(spark, sf("sf0.001"))
    val exact = Analytics.corrMatrix(li).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(exact.keySet == Set("price_discount", "quantity_discount", "quantity_price"))
    exact.values.foreach { case (c, _) => assert(c >= -1.0 && c <= 1.0) }
    // builtin corr/covar_samp run in running-double precision; the exact
    // decimal-power-sum path must agree to estimator tolerance PLUS the
    // 6-decimal output grid (q140 rounds final statistics — the 2^53
    // decimal→double conversion hardening, see ADVICE_RESPONSES r6)
    val b = li.agg(corr(col("l_extendedprice"), col("l_discount")),
      covar_samp(col("l_extendedprice"), col("l_discount"))).collect()(0)
    assert(math.abs(exact("price_discount")._1 - b.getDouble(0)) < 5.1e-7)
    assert(math.abs(exact("price_discount")._2 - b.getDouble(1)) < 1e-5)
  }

  test("token drift: KL is non-negative and vocabulary-capped") {
    val r = graft.text.TextAnalysis.tokenDrift(
      Tables.documents(spark, sf("sf0.001"))).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Long]("n_terms") <= 200)
      assert(row.getAs[Double]("kl") >= -1e-6, s"KL negative: $row")
    }
  }

  test("table diff finds planted drift with consistent counts") {
    val li = Tables.lineitem(spark, sf("sf0.01"))
    val diff = Layout.tableDiff(li).collect()
    assert(diff.nonEmpty)
    diff.foreach { row =>
      val (st, na, nb) = (row.getString(1), row.getLong(2), row.getLong(3))
      assert(Set("only_in_a", "only_in_b", "count_drift", "content_drift")(st))
      if (st == "count_drift") assert(na > nb)   // only deletions planted
      if (st == "content_drift") assert(na == nb) // edits keep cardinality
    }
    // every bucket holding a deleted orderkey must surface
    val deletedBuckets = li.filter(pmod(col("l_orderkey"), lit(971L)) === 3)
      .select((col("l_orderkey") / 1000).cast("long")).distinct().count()
    assert(diff.count(_.getString(1) == "count_drift") == deletedBuckets)
  }

  test("kfold assignment is balanced-ish and shares sum to one per fold") {
    val r = Scale.kfoldAudit(Tables.embeddings(spark, sf("sf0.001"))).collect()
    val folds = r.map(_.getAs[Long]("fold")).distinct.sorted
    assert(folds.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    folds.foreach { f =>
      val shares = r.filter(_.getAs[Long]("fold") == f).map(_.getAs[Double]("share"))
      assert(math.abs(shares.sum - 1.0) < 1e-9)
    }
  }

  test("ivm partial merge equals the full recompute") {
    val o = Tables.orders(spark, sf("sf0.001"))
    val merged = Scale.ivmMerge(o).collect().map(_.toSeq)
    val full = o.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
      .orderBy("o_orderpriority").collect().map(_.toSeq)
    assert(merged.toSeq == full.toSeq)
  }

  test("rolling uniques: window counts dominate single-day counts") {
    val ev = Tables.events(spark, sf("sf0.001"))
    val rolling = Analytics.rollingUniques(ev).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    val daily = ev.select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct().groupBy("day").count().collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    daily.foreach { case (day, n) =>
      val (win, userDays) = rolling(day)
      assert(win >= n, s"$day: 7-day uniques $win < daily $n")
      assert(userDays >= win) // user-days count at least one row per user
    }
  }

  test("twap of a constant-value series is that constant") {
    import spark.implicits._
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 7L, 42.0),
      (2L, "2024-01-01 00:10:00", 7L, 42.0),
      (3L, "2024-01-01 01:00:00", 7L, 42.0),
      (4L, "2024-01-01 02:00:00", 8L, 5.0), // single-event user: excluded
    ).toDF("event_id", "ts", "user_id", "value")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("value"))
    val r = Analytics.twap(ev).collect()
    assert(r.length == 1 && r(0).getLong(0) == 7L)
    assert(math.abs(r(0).getDouble(2) - 42.0) < 1e-12)
    assert(r(0).getLong(1) == 2L) // two closed intervals
  }

  test("running zscore flags a planted spike after warmup") {
    import spark.implicits._
    val base = (1 to 20).map(i =>
      (i.toLong, f"2024-01-01 00:$i%02d:00", "m",
        if (i % 2 == 0) 10.0 else 10.2))
    val spike = Seq((21L, "2024-01-01 00:21:00", "m", 50.0))
    val ev = (base ++ spike)
      .toDF("event_id", "ts", "event_type", "value")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("event_type"), col("value"))
    val r = Analytics.runningZscore(ev).collect()
    assert(r.length == 1)
    assert(r(0).getLong(1) == 11L) // 21 rows - 10 warmup
    assert(r(0).getLong(2) >= 1L, "spike not flagged")
  }

  test("change feed classes match the planted mutation closed-form") {
    val o = Tables.orders(spark, sf("sf0.01"))
    val feed = Extended.changeFeed(o).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val nDel = o.filter(pmod(col("o_orderkey"), lit(971L)) === 3).count()
    val nUpd = o.filter(pmod(col("o_orderkey"), lit(971L)) =!= 3 &&
      pmod(col("o_orderkey"), lit(977L)) === 5).count()
    assert(feed("delete")._1 == nDel)
    assert(feed("update")._1 == nUpd)
    assert(feed("unchanged")._1 == o.count() - nDel - nUpd)
    assert(math.abs(feed("update")._2 - nUpd * 1.0) < 1e-6) // +1.00 per updated row
    assert(!feed.contains("insert")) // planted mutation only deletes/updates
  }

  test("schema evolution: pre-evolution rows null-fill into the marker bucket") {
    val d = sf("sf0.001")
    val r = Extended.schemaEvolution(spark, d).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val o = Tables.orders(spark, d)
    assert(r("<pre-evolution>") ==
      o.filter(pmod(col("o_orderkey"), lit(2L)) === 0).count())
    assert(r.values.sum == o.count())
  }

  test("orc and text round-trips preserve corpus totals") {
    val d = sf("sf0.001")
    val r = Extended.orcTextSource(spark, d).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    val docs = Tables.documents(spark, d)
    val n = docs.count()
    val chars = docs.agg(sum("n_chars")).collect()(0).getLong(0)
    val textChars = docs.agg(sum(length(col("text")).cast("long")))
      .collect()(0).getLong(0)
    assert(r("orc") == ((n, chars)))
    assert(r("text") == ((n, textChars)))
  }

  test("skyline: members are mutually non-dominating and dominate the rest") {
    val li = Tables.lineitem(spark, sf("sf0.001"))
    val m = li.groupBy("l_partkey")
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("p"), sum(round(col("l_quantity")).cast("long")).as("q"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val sky = Analytics.skylineParts(li).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    def dom(a: (Long, Double, Long), b: (Long, Double, Long)) =
      a._2 <= b._2 && a._3 <= b._3 && (a._2 < b._2 || a._3 < b._3)
    sky.foreach(s => assert(!m.exists(o => dom(o, s)), s"$s dominated"))
    m.filterNot(r => sky.exists(_._1 == r._1))
      .foreach(o => assert(sky.exists(s => dom(s, o)) || m.exists(x => dom(x, o)),
        s"$o excluded but undominated"))
  }

  test("equi-depth bins are contiguous, ordered, and near-equal mass") {
    val bins = Analytics.equidepthBins(Tables.lineitem(spark, sf("sf0.001"))).collect()
    assert(bins.length == 10)
    val ns = bins.map(_.getAs[Long]("n"))
    assert(ns.max - ns.min <= 1) // ntile guarantee
    bins.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo"))
      case _ =>
    }
  }

  test("neyman allocation spends ~the budget proportional to N*sd") {
    val r = Analytics.neymanAllocation(Tables.events(spark, sf("sf0.001"))).collect()
    assert(r.length == 5)
    val total = r.map(_.getAs[Long]("alloc")).sum
    assert(math.abs(total - 10000L) <= r.length) // per-stratum rounding drift only
    r.foreach(row => assert(row.getAs[Double]("sd") > 0.0))
  }

  test("weighted sample favors long documents and is partition-stable") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val a = Analytics.weightedSample(docs).collect().map(_.getLong(0))
    val b = Analytics.weightedSample(docs.repartition(7)).collect().map(_.getLong(0))
    assert(a.toSeq == b.toSeq)
    // ES keys ~ Exp(w): the length-weighted sample's mean length should
    // exceed the corpus mean materially
    val sampleMean = docs.filter(col("doc_id").isin(a.toIndexedSeq: _*))
      .agg(avg("n_chars")).collect()(0).getDouble(0)
    val corpusMean = docs.agg(avg("n_chars")).collect()(0).getDouble(0)
    assert(sampleMean > corpusMean, s"sample $sampleMean <= corpus $corpusMean")
  }

  test("trimmed mean drops exactly n div 20 from each tail") {
    val r = Analytics.trimmedMean(Tables.events(spark, sf("sf0.001"))).collect()
    r.foreach { row =>
      val (n, kept) = (row.getAs[Long]("n_total"), row.getAs[Long]("n_kept"))
      assert(kept == n - 2 * (n / 20))
    }
  }

  test("max concurrency: sweep equals brute-force on a small fixture") {
    import spark.implicits._
    val o = Seq( // overlapping 7-day spans: 3 concurrent at day 3
      (1L, "A", "2024-01-01"), (2L, "A", "2024-01-03"), (3L, "A", "2024-01-04"),
      (4L, "A", "2024-01-20"), // disjoint
      (5L, "B", "2024-01-01"), (6L, "B", "2024-01-08") // half-open: no overlap
    ).toDF("o_orderkey", "o_orderpriority", "d")
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("d").cast("timestamp").as("o_orderdate"))
    val r = Analytics.maxConcurrency(o).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("A" -> 3L, "B" -> 1L))
  }

  test("chi2 statistic is non-negative with correct dof") {
    val r = Analytics.chi2Independence(
      Tables.documents(spark, sf("sf0.001"))).collect()(0)
    assert(r.getDouble(0) >= 0.0)
    val docs = Tables.documents(spark, sf("sf0.001"))
    val expDof = (docs.select("lang").distinct().count() - 1) *
      (docs.select("source").distinct().count() - 1)
    assert(r.getLong(1) == expDof)
  }

  test("column stats agree with direct recounts") {
    val d = sf("sf0.001")
    val stats = Analytics.columnStats(Tables.lineitem(spark, d),
      Tables.orders(spark, d), Tables.documents(spark, d)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val li = Tables.lineitem(spark, d)
    val s = stats(("lineitem", "l_orderkey"))
    assert(s.getAs[Long]("n") == li.count())
    assert(s.getAs[Long]("ndv") == li.select("l_orderkey").distinct().count())
    assert(s.getAs[Long]("n_null") == 0L)
  }

  test("event transitions: probabilities sum to one per source state") {
    val r = Analytics.eventTransitions(Tables.events(spark, sf("sf0.001"))).collect()
    r.groupBy(_.getString(0)).foreach { case (_, rows) =>
      assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    }
    assert(r.nonEmpty)
  }

  test("rfm segments partition the customer base into balanced quintiles") {
    val o = Tables.orders(spark, sf("sf0.001"))
    val seg = Analytics.rfmSegments(o).collect()
    val nCust = o.select("o_custkey").distinct().count()
    assert(seg.map(_.getAs[Long]("n_customers")).sum == nCust)
    // each axis marginal is an ntile(5): sizes differ by at most 1
    Seq("r_score", "f_score", "m_score").foreach { axis =>
      val marginal = seg.groupBy(_.getAs[Long](axis))
        .view.mapValues(_.map(_.getAs[Long]("n_customers")).sum).toMap
      assert(marginal.keySet == Set(1L, 2L, 3L, 4L, 5L))
      assert(marginal.values.max - marginal.values.min <= 1)
    }
  }

  test("skew report: hottest key share and sizes recount correctly") {
    val d = sf("sf0.001")
    val li = Tables.lineitem(spark, d)
    val rep = Analytics.skewReport(li, Tables.orders(spark, d)).collect()
      .map(r => r.getString(0) -> r).toMap
    val sizes = li.groupBy("l_suppkey").count().collect().map(_.getLong(1))
    val row = rep("l_suppkey")
    assert(row.getAs[Long]("n_keys") == sizes.length)
    assert(row.getAs[Long]("max_size") == sizes.max)
    assert(row.getAs[Long]("n_rows") == sizes.sum)
    assert(row.getAs[Double]("top_share") > 0 && row.getAs[Double]("top_share") <= 1)
  }

  test("native asof operator equals the compositional range-join twin") {
    val d = sf("sf0.001")
    val native = Extended.asofNative(spark, Tables.orders(spark, d))
      .collect().map(_.toSeq)
    val composed = Extended.asofJoin(spark, Tables.orders(spark, d))
      .collect().map(_.toSeq)
    assert(native.toSeq == composed.toSeq)
  }

  test("native asof: backward match, inner semantics, null keys dropped") {
    import spark.implicits._
    import graft.plans.AsofLookup.asofLookup
    val facts = Seq(
      (1L, "2024-03-15"), (2L, "2024-01-05"), (3L, "2023-12-01"), // 3: before all eras
      (4L, null.asInstanceOf[String]) // null on: dropped
    ).toDF("id", "d").select(col("id"), col("d").cast("date").as("d"))
    val dim = Seq(("2024-01-01", 10L), ("2024-03-01", 30L))
      .toDF("eff", "v").select(col("eff").cast("date").as("eff"), col("v"))
    val out = asofLookup(facts, dim, col("d"), col("eff"))
      .select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 30L), (2L, 10L)))
    val plan = asofLookup(facts, dim, col("d"), col("eff"))
      .queryExecution.executedPlan.treeString
    // SparkPlan.nodeName strips the Exec suffix: the custom operator
    // renders as "AsofLookup" with its bound on-attributes
    assert(plan.contains("AsofLookup __asof_l"), s"custom exec expected:\n$plan")
  }

  test("asof oversized dimension degrades to the distributed merge, same output") {
    import spark.implicits._
    import graft.plans.{AsofLookup, AsofMerge}
    val facts = (1 to 500).map(i => (i.toLong, i * 3L)).toDF("id", "t")
    // 40 eras with unique keys; facts 1..500 probe them
    val dim = (1 to 40).map(i => (i * 37L, s"era_$i")).toDF("eff", "tag")
    val native = AsofLookup.asofLookup(facts, dim, col("t"), col("eff"))
      .collect().map(_.toSeq).sortBy(_.toString)
    // force the fallback: cap below |dim|
    val degraded = AsofLookup.asofLookup(facts, dim, col("t"), col("eff"), 10)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(degraded.toSeq == native.toSeq,
      "fallback path must be output-identical to the native operator")
    // exact cap boundary: cap == |dim| must STAY on the native broadcast
    // path (the guard is strictly-greater), cap == |dim|-1 must degrade —
    // both output-identical
    def planOf(cap: Int): (String, Seq[Seq[Any]]) = {
      val df = AsofLookup.asofLookup(facts, dim, col("t"), col("eff"), cap)
      (df.queryExecution.executedPlan.treeString,
        df.collect().map(_.toSeq).sortBy(_.toString).toSeq)
    }
    val (atCapPlan, atCapRows) = planOf(40)
    assert(atCapPlan.contains("AsofLookup"),
      s"cap == |dim| must stay native:\n$atCapPlan")
    assert(atCapRows == native.toSeq)
    val (belowCapPlan, belowCapRows) = planOf(39)
    assert(!belowCapPlan.contains("AsofLookup"),
      s"cap == |dim|-1 must route to the merge fallback:\n$belowCapPlan")
    assert(belowCapRows == native.toSeq)
    // direct merge path with many partitions: exercises the carry-in era
    // for partitions whose head facts precede their first local dim
    val merged = AsofMerge.asofMergeJoin(facts, dim, col("t"), col("eff"), 16)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(merged.toSeq == native.toSeq)
    // boundary semantics survive the merge path: t == eff joins that era
    val onBoundary = AsofMerge.asofMergeJoin(
      Seq((1L, 37L)).toDF("id", "t"), dim, col("t"), col("eff"), 4)
      .select("tag").collect().map(_.getString(0)).toSeq
    assert(onBoundary == Seq("era_1"))
  }

  test("retention cohorts: week-0 retention is 1.0 and rates never exceed it") {
    val r = Analytics.retentionCohorts(Tables.events(spark, sf("sf0.001"))).collect()
    assert(r.nonEmpty)
    r.filter(_.getAs[Long]("weeks_since") == 0L).foreach { row =>
      assert(math.abs(row.getAs[Double]("retention") - 1.0) < 1e-12)
    }
    r.foreach(row => assert(row.getAs[Double]("retention") <= 1.0 + 1e-12))
  }

  test("hll rolling uniques stay within the 2% target of the exact twin") {
    val ev = Tables.events(spark, sf("sf0.001"))
    val exact = Analytics.rollingUniques(ev).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    Analytics.rollingUniquesHll(ev).collect().foreach { row =>
      val (day, approx) = (row.getDate(0).toString, row.getLong(1))
      val e = exact(day).toDouble
      assert(math.abs(approx - e) / e <= 0.05, // 2% rsd target, 5% assert guard
        s"$day: approx $approx vs exact $e")
    }
  }

  test("chunk dedup flags a planted boilerplate chunk") {
    import spark.implicits._
    val boiler = (1 to 32).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler unique one two three", "s1"),
      (2L, s"$boiler other tail here now", "s1"),
      (3L, "wholly distinct text body", "s2"),
    ).toDF("doc_id", "text", "source")
    val r = graft.text.TextAnalysis.chunkDedup(docs).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r("s1")._2 == 2L, s"shared 32-token prefix chunk must flag in both docs: $r")
    assert(r("s2") == ((1L, 0L)))
  }

  test("unigram logprob: uniform corpus scores ln(1/V) everywhere") {
    import spark.implicits._
    val docs = Seq( // 4 distinct tokens, each appearing exactly once
      (1L, "aa bb", "s"), (2L, "cc dd", "s"),
    ).toDF("doc_id", "text", "source")
    val r = graft.text.TextAnalysis.unigramLogprob(docs).collect()(0)
    val expected = math.log(1.0 / 4.0)
    assert(math.abs(r.getAs[Double]("mean_avg_lp") - expected) < 1e-8)
    assert(r.getAs[Long]("n_docs") == 2L)
  }

  test("dataset card: dup share counts every copy of a duplicated text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "same text", "s", 9L), (2L, "same text", "s", 9L),
      (3L, "other", "s", 5L),
    ).toDF("doc_id", "text", "source", "n_chars").withColumn("lang", lit("en"))
    val r = graft.text.TextAnalysis.datasetCard(docs).collect()(0)
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_dup_docs") == 2L)
    assert(r.getAs[Long]("n_langs") == 1L)
  }

  test("dwell histogram buckets hold the power-of-two invariant") {
    val r = Analytics.dwellHistogram(Tables.events(spark, sf("sf0.001"))).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (b, lo, hi) = (row.getAs[Long]("bucket"),
        row.getAs[Long]("min_gap_us"), row.getAs[Long]("max_gap_us"))
      assert(lo >= (1L << (b - 1)) && hi < (1L << b),
        s"bucket $b range [$lo,$hi] outside [2^${b - 1}, 2^$b)")
    }
  }

  test("multi pivot equals filtered aggregates") {
    val d = sf("sf0.001")
    val o = Tables.orders(spark, d); val c = Tables.customer(spark, d)
    val piv = Analytics.multiPivot(o, c).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    val direct = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("u"),
        sum(when(col("o_orderpriority") === "5-LOW", 1L).otherwise(0L)).as("l"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(piv == direct)
  }

  test("stream-static enrichment equals its batch twin") {
    val d = sf("sf0.001")
    val streamed = graft.streaming.StreamingOps.streamEnrich(spark, d)
      .collect().map(_.toSeq)
    val batch = Tables.events(spark, d)
      .join(Tables.customer(spark, d).select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .orderBy("c_mktsegment", "event_type").collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq)
  }
  test("scd2Build: planted A,A,B,B,A collapses to three versions with A current") {
    import spark.implicits._
    val ts = (i: Int) => java.sql.Timestamp.valueOf(f"2024-01-0$i 00:00:00")
    val ev = Seq(
      (1L, ts(1), 7L, "A", 0.0, "{}"), (2L, ts(2), 7L, "A", 0.0, "{}"),
      (3L, ts(3), 7L, "B", 0.0, "{}"), (4L, ts(4), 7L, "B", 0.0, "{}"),
      (5L, ts(5), 7L, "A", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Layout.scd2Build(ev).collect()
      .map(x => x.getAs[String]("event_type") ->
        (x.getAs[Long]("n_versions"), x.getAs[Long]("n_current"))).toMap
    assert(r("A") == ((2L, 1L))) // versions at t1 and t5; t5 open
    assert(r("B") == ((1L, 0L)))
  }

}
