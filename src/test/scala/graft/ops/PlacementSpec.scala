package graft.ops

import graft.{SparkSpec, Tables}

/** Laws for placement/coverage audits: the HRW minimal-movement
  * property and interval-union accounting on a hand geometry.
  */
class PlacementSpec extends SparkSpec {
  import spark.implicits._

  test("rendezvousAudit: zero HRW violations and ~1/9 expected movement") {
    val r = Placement.rendezvousAudit(Tables.documents(spark, sf("sf0.01"))).collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getAs[Long]("hrw_violations") == 0L),
      "HRW guarantees movement only into the new shard")
    val total = r.map(_.getAs[Long]("n_docs_8")).sum
    val moved = r.map(_.getAs[Long]("moved_out")).sum
    val frac = moved.toDouble / total
    assert(frac > 0.03 && frac < 0.25, s"expected ~1/9 movement, got $frac")
    assert(r.length == 8, "all 8 original shards occupied")
  }

  test("intervalCoverage on a planted geometry: union, depth and gaps exact") {
    // supplier 1 in nation 1; two overlapping intervals + one distant one.
    // qty 5 => len 7 (a..a+7); qty 12 => len 14 exclusive-end 16? b = a + qty%14 + 2
    val li = Seq(
      // a=0, b=9: days 0-8
      (1L, 1L, java.sql.Date.valueOf("1992-01-01"), BigDecimal(7)),
      // a=5, b=10: days 5-9 (overlaps) => union 0..9 = 10 days, depth 2
      (2L, 1L, java.sql.Date.valueOf("1992-01-06"), BigDecimal(3)),
      // a=100, b=103: 3 days after a gap
      (3L, 1L, java.sql.Date.valueOf("1992-04-10"), BigDecimal(1)))
      .toDF("l_orderkey", "l_suppkey", "l_shipdate", "l_quantity")
    val supp = Seq((1L, 1L)).toDF("s_suppkey", "s_nationkey")
    val nation = Seq((1L, "ALPHA")).toDF("n_nationkey", "n_name")
    val r = Placement.intervalCoverage(li, supp, nation).collect()(0)
    assert(r.getAs[String]("n_name") == "ALPHA")
    assert(r.getAs[Long]("covered_days") == 10L + 3L)
    assert(r.getAs[Long]("max_depth") == 2L)
    assert(r.getAs[Long]("n_gaps") == 1L, "one idle gap between the two bursts")
  }

  test("intervalCoverage on the corpus: covered <= span, depth >= 1, exact recompute") {
    val rows = Placement.intervalCoverage(
      Tables.lineitem(spark, sf("sf0.001")), Tables.supplier(spark, sf("sf0.001")),
      Tables.nation(spark, sf("sf0.001"))).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("covered_days") > 0)
      assert(r.getAs[Long]("max_depth") >= 1)
    }
  }
}
