package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed equivalents of corpus-wide global windows: ONE two-level
  * prefix scan ([[prefixScan]], Blelloch's reduce / scan / local-scan
  * decomposition) shared by every operator that needs an exact global
  * rank or running aggregate without funneling the corpus through one
  * partition.
  *
  *  1. Rows are grouped into coarse buckets keyed by a monotone function
  *     of the leading sort key, and each bucket is reduced to one row.
  *  2. An exclusive window over that bucket table (one row per bucket,
  *     one task) gives every bucket the aggregate of all prior buckets.
  *  3. The bucket table is broadcast back to the rows (null-safe join).
  *  4. A running window WITHIN each bucket, partitioned by bucket, is
  *     stitched to its bucket's prefix by the scan's combiner: a sum
  *     adds (`coalesce(prefix, 0) + running`), a min/max takes the
  *     NULL-skipping `least`/`greatest`.
  *
  * One flag picks the frame for every scan of a call: inclusive
  * (UNBOUNDED PRECEDING..CURRENT ROW) or exclusive (..1 PRECEDING). The
  * result equals the flat global-window form the DuckDB oracles keep,
  * row for row.
  *
  * Scale bound on level 1: the bucket table has one row per (partition,
  * bucket), is broadcast, and its prefix window runs in one task — so
  * callers must size the bucket width to keep the bucket COUNT at
  * metadata scale (≤ ~10M rows; at ~1e12 corpus rows that means buckets
  * of ≥ ~1e5 rows). Every in-repo call site uses a fixed-arity or
  * width-bounded bucket key, far inside the bound.
  *
  * NULL keys: the prefix join is null-safe (`<=>`), so rows whose bucket
  * or partition expression evaluates to NULL are RANKED, not dropped —
  * the NULL bucket groups together and sorts first (Spark's default
  * ASC NULLS FIRST), matching the flat form for an ascending leading
  * key. For a DESCENDING leading key (negated bucket) flat desc ranks
  * NULLs last; pre-coalesce the bucket to a sentinel that preserves your
  * intended NULL placement in that case.
  */
object Dist {

  /** A scan combiner: `agg` reduces a bucket or a window frame, `stitch`
    * folds a bucket's prefix into a within-bucket running value. */
  private[ops] sealed abstract class Op(
      val agg: Column => Column, val stitch: (Column, Column) => Column)
  /** Running sum; a NULL prefix (first bucket) or an empty frame counts
    * as 0. Values must be integral (the zero is 0L). */
  private[ops] case object Sum
      extends Op(sum(_), (p, r) => coalesce(p, lit(0L)) + coalesce(r, lit(0L)))
  /** Running min / max; NULL for an empty prefix and frame. */
  private[ops] case object Min extends Op(min(_), least(_, _))
  private[ops] case object Max extends Op(max(_), greatest(_, _))

  /** One running aggregate: `op` of `value`, appended as `out`; `total`
    * also appends `op` over the row's whole partition group. */
  private[ops] final case class Scan(
      value: Column, op: Op, out: String, total: Option[String] = None)

  /** Appends every scan's running aggregate over `order` (globally, or
    * within each `partition` group when given), with the frame chosen by
    * `exclusive`, via the decomposition in the object doc.
    *
    * `bucket` MUST be monotone non-decreasing with respect to the total
    * order induced by `order` (for a descending leading key pass a
    * negated bucket). Ties across the remaining order columns are broken
    * inside buckets, so the widest window ever opened over the rows is
    * one bucket.
    */
  private[ops] def prefixScan(
      df: DataFrame,
      bucket: Column,
      order: Seq[Column],
      scans: Seq[Scan],
      exclusive: Boolean = false,
      partition: Seq[String] = Nil): DataFrame = {
    val keys = partition :+ "__bkt"
    val vs = scans.indices.map(i => s"__v$i")
    val sv = scans.zip(vs)
    val b = sv.foldLeft(df.withColumn("__bkt", bucket)) {
      case (d, (s, v)) => d.withColumn(v, s.value)
    }
    val bucketAggs = sv.map { case (s, v) => s.op.agg(col(v)).as(v) }
    val wBkt = Window.partitionBy(partition.map(col): _*).orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(partition.map(col): _*)
    val pre = b.groupBy(keys.map(col): _*).agg(bucketAggs.head, bucketAggs.tail: _*)
      .select(keys.map(col) ++ sv.flatMap { case (s, v) =>
        s.op.agg(col(v)).over(wBkt).as(s"__p$v") +:
          s.total.map(_ => s.op.agg(col(v)).over(wAll).as(s"__t$v")).toSeq
      }: _*)
    val renamed = keys.foldLeft(pre)((d, k) => d.withColumnRenamed(k, "__p_" + k))
    val joined = b.join(broadcast(renamed),
      keys.map(k => col(k) <=> col("__p_" + k)).reduce(_ && _))
    val wIn = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding,
        if (exclusive) -1L else Window.currentRow)
    sv.foldLeft(joined) { case (d, (s, v)) =>
      val scanned =
        d.withColumn(s.out, s.op.stitch(col(s"__p$v"), s.op.agg(col(v)).over(wIn)))
      s.total.fold(scanned)(t => scanned.withColumn(t, col(s"__t$v")))
    }.drop(keys.map("__p_" + _) ++ ("__bkt" +: vs) ++
      vs.flatMap(v => Seq(s"__p$v", s"__t$v")): _*)
  }

  /** Appends `rn` = exact row_number over `order` (globally, or within
    * each `partition` group when given), and optionally `total` = the
    * matching row count: an inclusive [[prefixScan]] counting rows. Equal
    * to `row_number().over(Window.partitionBy(partition: _*).orderBy(order: _*))`
    * row for row under the same `bucket` contract.
    */
  def withRowNumber(
      df: DataFrame,
      bucket: Column,
      order: Seq[Column],
      rn: String = "rn",
      total: Option[String] = None,
      partition: Seq[String] = Nil): DataFrame =
    prefixScan(df, bucket, order, Seq(Scan(lit(1L), Sum, rn, total)),
      partition = partition)

  /** Appends `out` = exact running sum of `value` over `order`
    * (UNBOUNDED PRECEDING..CURRENT ROW). `value` must be integral. */
  def withRunningSum(
      df: DataFrame,
      bucket: Column,
      order: Seq[Column],
      value: Column,
      out: String): DataFrame =
    withRunningSums(df, bucket, order, Seq(value -> out))

  /** [[withRunningSum]] for several value columns at once: one bucket
    * aggregation, one prefix window, one join. `values` maps each value
    * expression to its output column name.
    */
  def withRunningSums(
      df: DataFrame,
      bucket: Column,
      order: Seq[Column],
      values: Seq[(Column, String)]): DataFrame =
    prefixScan(df, bucket, order, values.map { case (v, o) => Scan(v, Sum, o) })

  /** Appends `out` = exact running MIN of `value` over `order`,
    * EXCLUSIVE of the current row (UNBOUNDED PRECEDING..1 PRECEDING;
    * NULL for the first row) — the prefix-min sweep behind one-pass
    * dominance/skyline tests.
    */
  def withRunningMinExcl(
      df: DataFrame,
      bucket: Column,
      order: Seq[Column],
      value: Column,
      out: String): DataFrame =
    prefixScan(df, bucket, order, Seq(Scan(value, Min, out)), exclusive = true)

  /** Appends `bin` = exact `ntile(bins)` over `order` (SQL NTILE tiling:
    * the first N mod bins tiles get one extra row), via the distributed
    * row_number above. Same `bucket` monotonicity contract. The
    * `greatest(..., 1)` guards the n < bins divide (the THEN branch
    * covers every row in that regime, but the ELSE divisor must still be
    * non-zero for the codegen'd expression to be total).
    */
  def withNtile(
      df: DataFrame,
      bucket: Column,
      order: Seq[Column],
      bins: Int,
      bin: String = "bin"): DataFrame =
    withRowNumber(df, bucket, order, "__rn", Some("__n"))
      .withColumn(bin, expr(
        s"""CASE WHEN __rn <= (__n % $bins) * (__n DIV $bins + 1)
           | THEN (__rn - 1) DIV (__n DIV $bins + 1) + 1
           | ELSE (__n % $bins)
           |   + (__rn - (__n % $bins) * (__n DIV $bins + 1) - 1)
           |     DIV greatest(__n DIV $bins, 1) + 1 END""".stripMargin))
      .drop("__rn", "__n")
}
