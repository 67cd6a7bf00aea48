package graft.ops

import graft.SparkSpec

/** Laws for the blocking, session-gap and tail-risk sweeps. */
class Batch16Spec extends SparkSpec {
  import spark.implicits._

  test("blockingSweep: recall is monotone in window and hits 1 for adjacent dups") {
    // duplicate texts share n_chars so they sort adjacent: window 2
    // must already catch every pair
    val docs = ((1 to 20).map(i => (i.toLong, s"unique text $i", 100L + i)) ++
      Seq((101L, "dup dup dup", 50L), (102L, "dup dup dup", 50L)))
      .map { case (id, t, c) => (id, t, "en", "web", c) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Tuning.blockingSweep(docs).collect()
      .map(x => x.getAs[Long]("win") -> x).toMap
    assert(r(2L).getAs[Long]("true_pairs") == 1L)
    assert(r(2L).getAs[Long]("recall_ppm") == 1000000L)
    assert(r(5L).getAs[Long]("candidates") > r(2L).getAs[Long]("candidates"))
    assert(r(10L).getAs[Long]("caught") >= r(2L).getAs[Long]("caught"))
  }

  test("sessionGapSweep: smaller gaps can only create more sessions") {
    val r = Tuning.sessionGapSweep(
      graft.Tables.events(spark, sf("sf0.001"))).collect()
      .sortBy(_.getAs[Long]("gap_minutes"))
    val sess = r.map(_.getAs[Long]("n_sessions"))
    assert(sess(0) >= sess(1) && sess(1) >= sess(2),
      s"session counts must fall as the gap grows: ${sess.toSeq}")
  }

  test("varCvar: CVaR dominates VaR; tail is ~5% of the group") {
    val r = Tuning.varCvar(
      graft.Tables.events(spark, sf("sf0.01"))).collect()
    r.foreach { x =>
      assert(x.getAs[Double]("cvar95") >= x.getAs[Double]("var95"))
      val frac = x.getAs[Long]("tail_n").toDouble / x.getAs[Long]("n")
      assert(frac > 0.03 && frac < 0.12, s"tail share: $frac")
    }
  }
}
