package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.Num.{osum, sortedBy}

/** `Num.osum` / `Num.sortedBy` are the key-ordered reductions behind
  * every transcendental-term sum that must match the DuckDB oracle bit
  * for bit: the result may depend on the keys, never on how rows reach
  * the aggregate.
  */
class NumSpec extends SparkSpec {
  import spark.implicits._

  private def bits(d: Double) = java.lang.Double.doubleToLongBits(d)

  // per group: an order-sensitive head (1e16 + 1.0 rounds the 1.0 away
  // unless -1e16 comes first) plus irrational-ish tails
  private val rows: Seq[(Int, Int, Double)] = (0 until 5).flatMap { g =>
    Seq((g, 0, 1e16), (g, 1, 1.0), (g, 2, -1e16), (g, 3, 0.1)) ++
      (4 until 60).map(k => (g, (k * 37) % 101 + 4, math.log(k + g + 2.0) / 3.0))
  }

  test("osum is bit-identical under any partitioning and equals the key-ordered foldLeft") {
    val df = rows.toDF("g", "k", "v")
    def sums(parts: Int) = df.repartition(parts)
      .groupBy("g").agg(osum(col("v"), col("k")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val one = sums(1)
    val seven = sums(7)
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.sortBy(r => (r._2, r._3)).map(_._3).foldLeft(0.0)(_ + _)
    }
    assert(one.keySet == expected.keySet)
    expected.foreach { case (g, s) =>
      assert(bits(one(g)) == bits(s), s"g=$g one partition ${one(g)} vs fold $s")
      assert(bits(seven(g)) == bits(s), s"g=$g shuffled ${seven(g)} vs fold $s")
    }
    // the data is order-sensitive: another order gives another sum
    val head = Seq(1e16, -1e16, 1.0, 0.1)
    assert(head.foldLeft(0.0)(_ + _) != Seq(1e16, 1.0, -1e16, 0.1).foldLeft(0.0)(_ + _))
  }

  test("osum equals an explicit subtraction fold when the value is negated") {
    val df = rows.toDF("g", "k", "v")
    val got = df.groupBy("g").agg(osum(-col("v"), col("k")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val sub = rs.sortBy(r => (r._2, -r._3)).map(_._3).foldLeft(0.0)(_ - _)
      assert(bits(got(g)) == bits(sub), s"g=$g ${got(g)} vs $sub")
    }
  }

  test("a NULL value makes the osum NULL") {
    val df = Seq[(Int, Option[Double])]((1, Some(1.5)), (2, None), (3, Some(2.5)))
      .toDF("k", "v")
    val r = df.agg(osum(col("v"), col("k"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("sortedBy: a NULL key sorts first, key ties break by value") {
    val df = Seq[(Option[Int], String)](
      (Some(2), "c"), (None, "a"), (Some(1), "z"), (Some(1), "b"))
      .toDF("k", "v")
    val got = df.repartition(3).agg(sortedBy(col("v"), col("k"))).collect()(0)
      .getSeq[String](0)
    assert(got == Seq("a", "b", "z", "c"))
    // the sum takes the same order: the NULL-keyed 1.0 comes first and
    // is absorbed by 1e16 (NULL last would give 1.0)
    val sum = Seq[(Option[Int], Double)]((Some(1), 1e16), (Some(2), -1e16), (None, 1.0))
      .toDF("k", "v").agg(osum(col("v"), col("k"))).collect()(0).getDouble(0)
    assert(sum == 0.0)
  }

  test("a key column named v does not shadow the value") {
    val df = Seq((3, 10.0), (1, 30.0), (2, 20.0)).toDF("v", "x")
    val r = df.agg(sortedBy(col("x"), col("v")), osum(col("x"), col("v"))).collect()(0)
    assert(r == Row(Seq(30.0, 20.0, 10.0), 60.0))
  }
}
