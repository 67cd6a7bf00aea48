package graft.ops

import graft.{SparkSpec, Tables}

/** Laws for the curation-selection operators: PageRank mass
  * conservation, influence decomposition, greedy coverage monotonicity,
  * LRS exactness on a planted repeat.
  */
class CurateSpec extends SparkSpec {
  import spark.implicits._

  test("pagerankFixed: scores positive, total mass ~1e6 micro-units (minus truncation)") {
    val r = Curate.pagerankFixed(
      Tables.lineitem(spark, sf("sf0.001")), Tables.orders(spark, sf("sf0.001")),
      Tables.supplier(spark, sf("sf0.001")), Tables.customer(spark, sf("sf0.001")))
      .collect()
    assert(r.nonEmpty)
    val total = r.map(_.getAs[Long]("pr_micro")).sum
    // truncating division loses < 1 micro-unit per edge+node term
    assert(total <= 1000000L && total > 900000L,
      s"PageRank mass must be ~1 (got $total micro)")
    assert(r.forall(_.getAs[Long]("pr_micro") > 0))
  }

  test("sourceInfluence: influences sum to ~0 weighted by ablated mass; sign tracks size") {
    val r = Curate.sourceInfluence(Tables.documents(spark, sf("sf0.01"))).collect()
    val mw = r.head.getAs[Double]("mean_with")
    r.foreach { x =>
      // a source of above-average docs pulls the mean up: influence > 0
      val without = x.getAs[Double]("mean_without")
      val inf = x.getAs[Double]("influence")
      assert(math.abs((mw - without) - inf) < 2e-6)
    }
  }

  test("coverageSelection: gains non-increasing, coverage cumulative and <= 1") {
    val r = Curate.coverageSelection(spark, Tables.documents(spark, sf("sf0.001")))
      .collect().sortBy(_.getAs[Long]("round"))
    assert(r.length == 4)
    val gains = r.map(_.getAs[Long]("new_words"))
    assert(gains.sameElements(gains.sortBy(-(_: Long))),
      "greedy gains are non-increasing (submodularity)")
    assert(r.map(_.getAs[Long]("new_words")).sum ==
      r.last.getAs[Long]("covered_words"))
    assert(r.last.getAs[Double]("coverage_frac") <= 1.0)
    // distinct picks
    assert(r.map(_.getAs[Long]("doc_id")).distinct.length == 4)
  }

  test("longestRepeat finds a planted 15-char repeat exactly") {
    // repeat "zqxjkvbwpyfghmn" (15 chars, unique letters not in other text)
    val rep = "zqxjkvbwpyfghmn"
    val docs = Seq(
      (1L, s"aaa $rep bbb ccc ddd $rep eee", "en", "s0", 60L),
      (2L, "one two three four five six", "en", "s1", 27L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Curate.longestRepeat(docs).collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    // LRS of doc 1 >= 15 (the planted repeat; the space before it may extend it)
    assert(r("s0").getAs[Long]("max_lrs") >= 15L)
    assert(r("s0").getAs[Double]("share_repeat10") == 1.0)
    // doc 2 has no 10+ char repeat
    assert(r("s1").getAs[Long]("max_lrs") < 10L)
    assert(r("s1").getAs[Double]("share_repeat10") == 0.0)
  }

  test("longestRepeat caps at 20 and stays within doc boundaries") {
    val docs = Seq(
      (1L, ("abcdefghijklmnopqrstuvwxyz" * 3), "en", "s0", 78L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Curate.longestRepeat(docs).collect()(0)
    assert(r.getAs[Long]("max_lrs") == 20L, "26-char repeat reports the 20 cap")
  }
}
