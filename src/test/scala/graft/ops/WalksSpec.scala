package graft.ops

import graft.{SparkSpec, Tables}

/** Laws for the sequential-walk operators: SPRT crossing semantics and
  * personalized-PageRank mass/locality.
  */
class WalksSpec extends SparkSpec {
  import spark.implicits._

  test("sprtDecision stops at the first crossing with a consistent decision sign") {
    val r = Walks.sprtDecision(Tables.events(spark, sf("sf0.01"))).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      val llr = x.getAs[Long]("llr_micro")
      assert(math.abs(llr) >= 2944439L, "decision row is past the threshold")
      val d = x.getAs[String]("decision")
      assert(if (llr > 0) d == "accept_h1" else d == "accept_h0")
      // one step before the decision the walk was inside the band:
      // |llr - increment| < threshold for whichever increment applied
      val undoS = llr - 287682L
      val undoF = llr + 154151L
      assert(math.abs(undoS) < 2944439L || math.abs(undoF) < 2944439L,
        "the previous step must have been inside the continuation band")
    }
  }

  test("sprtDecision on a planted all-success stream accepts H1 at the known step") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // all successes: llr(n) = n * 287682 >= 2944439 at n = 11
    val ev = (1 to 50).map(i => (i.toLong,
      new java.sql.Timestamp(base + i * 1000L), 1L, "aa", 99.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Walks.sprtDecision(ev).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("decision_n") == 11L)
    assert(r(0).getAs[String]("decision") == "accept_h1")
    assert(r(0).getAs[Double]("p_hat_at_stop") == 1.0)
  }

  test("personalizedPagerank: seed holds the most mass, total ~1e6, locality decays") {
    val r = Walks.personalizedPagerank(
      Tables.lineitem(spark, sf("sf0.001")), Tables.orders(spark, sf("sf0.001")),
      Tables.supplier(spark, sf("sf0.001")), Tables.customer(spark, sf("sf0.001")))
      .collect()
    assert(r.nonEmpty)
    val seed = r.head.getAs[Long]("seed_nation")
    assert(r.forall(_.getAs[Long]("seed_nation") == seed))
    val total = r.map(_.getAs[Long]("ppr_micro")).sum
    assert(total > 900000L && total <= 1000000L,
      s"PPR mass must be ~1 (got $total micro)")
    // the top-ranked node is the seed itself (restart mass dominates)
    assert(r.head.getAs[Long]("nationkey") == seed)
  }

  test("emInterpolation: lambda stays in (0,1) and moves toward the bigram model") {
    val r = Walks.emInterpolation(Tables.documents(spark, sf("sf0.001"))).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      val l1 = x.getAs[Double]("lambda_em1")
      val l2 = x.getAs[Double]("lambda_em2")
      assert(l1 > 0 && l1 < 1 && l2 > 0 && l2 < 1)
      // self-trained: the bigram component fits the corpus better than the
      // unigram, so EM pushes lambda above the 0.5 start and keeps going
      assert(l1 > 0.5, s"lambda must grow from 0.5, got $l1")
      assert(l2 >= l1 - 1e-9, s"EM is monotone here: $l1 -> $l2")
    }
  }

  test("markovStationary: masses ~1e6 and stationarity residual is small") {
    val events = Tables.events(spark, sf("sf0.01"))
    val r = Walks.markovStationary(events).collect()
    assert(r.nonEmpty)
    val total = r.map(_.getAs[Long]("pi_micro")).sum
    assert(total > 990000L && total <= 1000000L, s"mass ~1e6, got $total")
    // near-uniform chain: all states present with nontrivial mass
    assert(r.forall(_.getAs[Long]("pi_micro") > 100000L))
  }
}
