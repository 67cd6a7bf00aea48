package cvbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Generator for the tables the SQL workload reads (part, orders,
  * lineitem): the column names and physical types of the
  * engine's graded corpus (FIXTURES.md section B), at the row counts of
  * its sf0.01 scale, with the same value domains (uniform keys, the same
  * category sets and ranges). One parquet file of one row group per
  * table, like the graded corpus.
  *
  * The corpus seed is fixed, not the run's seed, so the expected digest
  * of every SQL operation can be stored with the benchmark.
  */
object Corpus {
  val Seed = 42L

  private val adjectives = Seq("small", "new", "hot", "large", "cold", "blue", "old", "red")
  private val nouns = Seq("widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear")
  private val partTypes = Seq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  final case class Sizes(customer: Int, supplier: Int, part: Int, orders: Int, lineitem: Int)
  val sf001 = Sizes(customer = 1500, supplier = 100, part = 2000, orders = 15000, lineitem = 60000)

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.length))
  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def day(r: SplittableRandom, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusDays(r.nextInt(days).toLong)

  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)

  /** Table name -> (schema, rows), all drawn from one seeded stream per table. */
  def tables(s: Sizes): Seq[(String, StructType, Seq[Row])] = {
    def rnd(table: Int) = new SplittableRandom(Seed * 1000 + table)
    val d1995 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val part = {
      val r = rnd(5)
      (StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
          f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
          f("p_retailprice", DoubleType))),
        (0 until s.part).map(i => Row(i.toLong, pick(r, adjectives) + " " + pick(r, nouns),
          s"Brand#${1 + r.nextInt(25)}", pick(r, partTypes), 1 + r.nextInt(50),
          math.round(9000 + i % 1000) / 10.0)))
    }
    val orders = {
      val r = rnd(6)
      (StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
          f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
          f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
        (0 until s.orders).map(i => Row(i.toLong, r.nextInt(s.customer).toLong,
          pick(r, Seq("F", "O", "P")), money(r, 1000, 500000), day(r, d1995, 2404),
          pick(r, priorities))))
    }
    val lineitem = {
      val r = rnd(7)
      (StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
          f("l_suppkey", LongType), f("l_linenumber", IntegerType),
          f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
          f("l_discount", DoubleType), f("l_tax", DoubleType),
          f("l_returnflag", StringType), f("l_linestatus", StringType),
          f("l_shipdate", TimestampNTZType))),
        (0 until s.lineitem).map { _ =>
          val qty = 1 + r.nextInt(50)
          Row(r.nextInt(s.orders).toLong, r.nextInt(s.part).toLong,
            r.nextInt(s.supplier).toLong, 1 + r.nextInt(7), qty.toDouble,
            math.round(qty * (900 + r.nextDouble() * 1200) * 100) / 100.0,
            r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, Seq("A", "N", "R")),
            pick(r, Seq("F", "O")), day(r, d1995.plusDays(1), 2499))
        })
    }
    Seq("part" -> part, "orders" -> orders, "lineitem" -> lineitem)
      .map { case (n, (schema, rows)) => (n, schema, rows) }
  }

  /** Write every table as `<dir>/<table>.parquet` (one file, one row group). */
  def write(spark: SparkSession, dir: String): Unit =
    tables(sf001).foreach { case (name, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
