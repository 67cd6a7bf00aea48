package graft.ops

import graft.SparkSpec

/** Laws for the privacy/governance audits: entropy-l on a planted
  * single-sensitive group, zero EMD for a group matching the global
  * distribution, and the Bloom filter's no-false-negative guarantee.
  */
class GovernanceSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: Seq[(Long, String, Long, String)]) =
    rows.map { case (id, ts, u, t) =>
      (id, java.sql.Timestamp.valueOf(ts), u, t, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("lDiversity: a group with one sensitive value has l=1, entropy_l=1") {
    // all users = 10 (sens bucket 0) on one weekday/type; another group mixed
    val rows = (1 to 8).map(i => (i.toLong, "2024-01-01 10:00:00", 10L, "view")) ++
      Seq((20L, "2024-01-02 10:00:00", 3L, "click"),
          (21L, "2024-01-02 11:00:00", 7L, "click"))
    val r = Governance.lDiversity(ev(rows)).collect()
      .map(x => (x.getString(0), x.getAs[Long]("l_distinct"),
        x.getAs[Double]("entropy_l"), x.getAs[Long]("pass_l3"))).toMap2
    assert(r("view") == ((1L, 1.0, 0L)))
    assert(r("click")._1 == 2L && math.abs(r("click")._2 - 2.0) < 1e-9)
  }

  implicit class Map2[A, B, C, D](xs: Array[(A, B, C, D)]) {
    def toMap2: Map[A, (B, C, D)] = xs.map(x => x._1 -> ((x._2, x._3, x._4))).toMap
  }

  test("tCloseness: a group mirroring the global distribution has EMD 0") {
    // two groups with identical bucket distributions -> both match global
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 0L, "view"),
      (2L, "2024-01-01 11:00:00", 5L, "view"),
      (3L, "2024-01-02 10:00:00", 10L, "click"), // bucket 0
      (4L, "2024-01-02 11:00:00", 15L, "click")) // bucket 5
    val r = Governance.tCloseness(ev(rows)).collect()
    assert(r.forall(_.getAs[Long]("emd_ppm") == 0L))
    assert(r.forall(_.getAs[Long]("t_fail") == 0L))
  }

  test("bloomBlocklist: zero false negatives; bits bounded by 3 per key") {
    val cust = (1L to 200L).map(k => (k, s"c$k")).toDF("c_custkey", "c_name")
    val r = Governance.bloomBlocklist(cust).collect()(0)
    assert(r.getAs[Long]("n_false_neg") == 0L)
    assert(r.getAs[Long]("bits_set") <= 3L * r.getAs[Long]("n_blocked"))
    assert(r.getAs[Long]("n_positive") ==
      r.getAs[Long]("n_blocked") + r.getAs[Long]("n_false_pos"))
  }

  test("uniquenessRisk: counts reconcile and precision is a valid rate") {
    val r = Governance.uniquenessRisk(
      graft.Tables.customer(spark, sf("sf0.001"))).collect()(0)
    assert(r.getAs[Long]("n_pop") == 150L)
    assert(r.getAs[Long]("true_unique_hits") <= r.getAs[Long]("sample_uniques"))
    assert(r.getAs[Long]("true_unique_hits") <= r.getAs[Long]("pop_uniques"))
    assert(r.getAs[Long]("naive_pop_uniques_est") ==
      2L * r.getAs[Long]("sample_uniques"))
    val p = r.getAs[Double]("disclosure_precision_pct")
    assert(p >= 0.0 && p <= 100.0)
  }
}
