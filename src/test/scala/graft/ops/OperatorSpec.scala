package graft.ops

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

/** Operator invariants on the sf0.001 corpus (SURVEY.md §5.2.2/5.2.3). */
class OperatorSpec extends SparkSpec {

  private def li = Tables.lineitem(spark, sf("sf0.001"))

  test("split is a partition: train ∩ test = ∅, train ∪ test = all") {
    val keyed = li.select("l_orderkey", "l_linenumber")
    val train = keyed.filter(pmod(col("l_orderkey") * 37 + col("l_linenumber") * 7, lit(10)) < 8)
    val test  = keyed.join(train, Seq("l_orderkey", "l_linenumber"), "left_anti")
    assert(train.count() + test.count() == keyed.count())
    assert(train.join(test, Seq("l_orderkey", "l_linenumber")).count() == 0)
  }

  test("seeded stratified sample is reproducible and ~80% per stratum") {
    val a = Relational.stratifiedSplitAudit(li, spark).collect()
    val b = Relational.stratifiedSplitAudit(li, spark).collect()
    assert(a.toSeq == b.toSeq, "same seed => same split")
    val byFlag = a.groupBy(_.getString(1)).view.mapValues { rows =>
      val m = rows.map(r => r.getString(0) -> r.getLong(2)).toMap
      m.getOrElse("train", 0L).toDouble / (m.getOrElse("train", 0L) + m.getOrElse("test", 0L))
    }.toMap
    byFlag.foreach { case (flag, frac) =>
      assert(frac > 0.7 && frac < 0.9, s"stratum $flag fraction $frac")
    }
  }

  test("boundedStrata fails fast on a high-cardinality stratum column") {
    import spark.implicits._
    val wide = (1 to 2000).map(i => s"stratum_$i").toDF("s")
    val e = intercept[IllegalArgumentException] {
      Relational.boundedStrata(wide, "s")
    }
    assert(e.getMessage.contains("more than 1000 distinct"))
    // the happy path still returns the full (small) stratum set
    assert(Relational.boundedStrata(
      li.select(col("l_returnflag").as("s")), "s").toSet == Set("A", "N", "R"))
  }

  test("pricing summary aggregates are internally consistent") {
    val rows = Relational.pricingSummary(li).collect()
    rows.foreach { r =>
      val sumQty = r.getDouble(2)
      val avgQty = r.getDouble(6)
      val n = r.getLong(9)
      assert(math.abs(sumQty / n - avgQty) < 1e-9)
    }
  }

  test("vec_sum matches a reference fold") {
    import spark.implicits._
    import graft.functions.VectorSumAgg.vec_sum
    val df = Seq((1, Array(1.0, 2.0)), (1, Array(3.0, 4.5)), (2, Array(0.5, 0.5)))
      .toDF("k", "v")
    val got = df.groupBy("k").agg(vec_sum(col("v")).as("s"))
      .orderBy("k").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toList))
    assert(got.toList == List((1, List(4.0, 6.5)), (2, List(0.5, 0.5))))
  }

  test("vec_sum_dec equals the posexplode decimal-sum formulation exactly") {
    import graft.functions.VectorSumAgg.vec_sum_dec
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val native = emb.groupBy("label")
      .agg(vec_sum_dec(expr(
        "transform(cast(embedding as array<double>), x -> cast(x as decimal(18,8)))"))
        .as("s"))
      .select(col("label"), posexplode(col("s")).as(Seq("dim", "v")))
      .collect().map(r => (r.getAs[Number](0).longValue, r.getInt(1)) -> r.getDecimal(2)).toMap
    val exploded = emb
      .select(col("label"), posexplode(expr(
        "transform(cast(embedding as array<double>), x -> cast(x as decimal(18,8)))"))
        .as(Seq("dim", "x")))
      .groupBy("label", "dim").agg(sum(col("x")).as("v"))
      .collect().map(r => (r.getAs[Number](0).longValue, r.getInt(1)) -> r.getDecimal(2)).toMap
    assert(native.keySet == exploded.keySet)
    native.foreach { case (k, v) =>
      assert(v.compareTo(exploded(k)) == 0, s"label/dim $k") }
  }

  test("vec_sum_dec survives per-dim sums past the 64-bit unscaled range") {
    import spark.implicits._
    import graft.functions.VectorSumAgg.vec_sum_dec
    // 24 x 9e17 = 2.16e19 > 2^63-1 ~ 9.22e18: a long accumulator would
    // wrap; the 128-bit hi/lo buffer must carry exactly. The negative
    // dim crosses zero repeatedly to exercise sign extension.
    val df = (1 to 24).map(i => (1, Seq("900000000000000000", "-900000000000000000")))
      .toDF("k", "raw")
    val got = df.groupBy("k")
      .agg(vec_sum_dec(expr("transform(raw, x -> cast(x as decimal(18,0)))")).as("s"))
      .select(expr("cast(s[0] as string)"), expr("cast(s[1] as string)"))
      .head()
    assert(got.getString(0) == "21600000000000000000", got.toString)
    assert(got.getString(1) == "-21600000000000000000", got.toString)
  }

  test("top_k_by agrees with the window row_number formulation") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sf("sf0.001"))
    val agg = Relational.topEventsPerUser(ev, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val win = ev.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("user_id", "rnk", "event_id")
      .orderBy("user_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(agg.toSeq == win.toSeq)
  }

  test("containment dominates jaccard on every candidate pair") {
    import graft.text.Dedup
    val docs = Tables.documents(spark, sf("sf0.001"))
    val jac = Dedup.jaccardPairs(docs, threshold = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val con = Dedup.containmentPairs(docs, threshold = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(jac.keySet == con.keySet, "same candidate pairs")
    assert(jac.nonEmpty)
    jac.foreach { case (k, j) =>
      val c = con(k)
      assert(c >= j && c <= 1.0 && j > 0.0, s"pair $k j=$j c=$c")
    }
  }

  test("current_user resolves to the session user and stamps provenance (F9)") {
    // the reference's exact access pattern, 01_Configuration.py:42
    val user = spark.sql("select current_user() as user")
      .collect()(0).getString(0)
    assert(user != null && user.nonEmpty, "current_user() must resolve")
    assert(user == System.getProperty("user.name"), s"session user $user")
    val r = Relational.sessionProvenance(
      Tables.orders(spark, sf("sf0.001"))).collect()(0)
    assert(r.getLong(0) == 1L, "user_ok")
    assert(r.getLong(1) == "/users//images".length.toLong, "fixed mount shape")
    assert(r.getLong(2) > 0L, "order count present")
  }

  test("base64 round-trip is identity on documents") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val bad = Relational.base64Codec(docs).filter(col("roundtrip_ok") =!= 1L).count()
    assert(bad == 0)
  }

  test("sessionize: session bounds ordered, counts positive") {
    val s = Relational.sessionize(Tables.events(spark, sf("sf0.001")))
    assert(s.filter(col("session_start") > col("session_end")).count() == 0)
    assert(s.filter(col("n_events") < 1).count() == 0)
  }

  test("hll sketches: per-group estimates within 5% of exact, union covers whole table") {
    val ev = Tables.events(spark, sf("sf0.01"))
    val rows = Relational.hllSketchDistinct(ev).collect()
    val (all, per) = rows.partition(_.getString(0) == "ALL")
    assert(per.nonEmpty && all.length == 1)
    per.foreach { r =>
      val est = r.getLong(1); val exact = r.getLong(2)
      assert(math.abs(est - exact).toDouble / exact < 0.05,
        s"${r.getString(0)}: est $est vs exact $exact")
    }
    val exactAll = ev.select("user_id").distinct().count()
    assert(math.abs(all(0).getLong(1) - exactAll).toDouble / exactAll < 0.05,
      s"union estimate ${all(0).getLong(1)} vs exact $exactAll")
  }

  test("approx quantiles land within the accuracy parameter's rank-error bound") {
    import org.apache.spark.sql.functions.expr
    val li = Tables.lineitem(spark, sf("sf0.01"))
    val approx = Funcs.approxQuantiles(li).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val pcts = Seq(0.25, 0.5, 0.75, 0.95)
    // approx_percentile(acc=10000) guarantees rank error <= n/acc: the
    // estimate must sit between the exact (p - eps) and (p + eps) ranks
    approx.foreach { case (flag, est) =>
      val vals = li.filter(expr(s"l_returnflag = '$flag'"))
        .select("l_extendedprice").collect().map(_.getDouble(0)).sorted
      // rank error <= 1/accuracy of n; +/-1 index slack for the
      // floor/ceil conventions at the rank boundaries
      val eps = 1.0 / 10000.0
      pcts.zip(est).foreach { case (p, e) =>
        val lo = vals(math.max(0, math.floor((p - eps) * vals.length).toInt - 2))
        val hi = vals(math.min(vals.length - 1, math.ceil((p + eps) * vals.length).toInt + 1))
        assert(e >= lo && e <= hi, s"$flag p$p: $e outside [$lo, $hi]")
      }
    }
  }
}
