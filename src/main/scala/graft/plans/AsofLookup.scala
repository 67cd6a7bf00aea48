package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Native AS-OF lookup join: whole-operator custom Catalyst surface —
  * LogicalPlan + Strategy + SparkPlan — per SURVEY.md §2.9's preference
  * order (compose builtins → custom Expression → custom operator). The
  * compositional form (q110: intervalize with lead() + broadcast range
  * join) proves the semantics; this operator exists because the
  * composition probes an interval LIST per row (O(|eras|) via
  * BroadcastNestedLoopJoin) while the dedicated operator binary-searches
  * a sorted broadcast array (O(log |eras|)) — the difference matters
  * when the dimension has 10^4+ eras and the fact side has 10^11 rows.
  *
  * Semantics = DuckDB `ASOF JOIN` (backward, inner): each left row pairs
  * with the LAST right row whose `rightOn` <= `leftOn`; left rows with
  * no era (or a null `leftOn`) are dropped.
  *
  * Scale shape: the right side is collected + broadcast ONCE (a
  * point-in-time dimension — eras/rates/config epochs — is small by
  * construction); the fact side NEVER shuffles or sorts — the operator
  * is a narrow map over whatever partitioning the left child already
  * has, so it composes with upstream pruning/pushdown untouched.
  */
final case class AsofLookup(
    left: LogicalPlan, right: LogicalPlan,
    leftOn: Expression, rightOn: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofLookup =
    copy(left = newLeft, right = newRight)
}

object AsofStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofLookup(l, r, lo, ro) =>
      AsofLookupExec(planLater(l), planLater(r), lo, ro) :: Nil
    case _ => Nil
  }
}

final case class AsofLookupExec(
    left: SparkPlan, right: SparkPlan,
    leftOn: Expression, rightOn: Expression) extends SparkPlan {

  override def children: Seq[SparkPlan] = Seq(left, right)
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): SparkPlan =
    copy(left = newChildren(0), right = newChildren(1))

  override protected def doExecute(): RDD[InternalRow] = {
    val ord = TypeUtils.getInterpretedOrdering(rightOn.dataType)
      .asInstanceOf[Ordering[Any]]
    val boundRight = BindReferences.bindReference(rightOn, right.output)
    // point-in-time dimension: bounded collect (executeTake stops pulling
    // partitions once the cap is exceeded, so an accidentally-huge right
    // side fails fast instead of OOMing the driver)
    val maxRows = AsofLookup.MaxRightRows
    val taken = right.executeTake(maxRows + 1)
    require(taken.length <= maxRows,
      s"AsofLookup right side exceeds $maxRows rows; the operator " +
        "broadcasts the full dimension. Shrink it (pre-aggregate eras).")
    // drop null-keyed eras; sort by (key, row bytes): with duplicate
    // rightOn keys the byte-wise secondary sort makes the surviving era
    // (the LAST in sort order) identical across partitionings/arrival
    // orders — partitioning-independence discipline for a general-
    // purpose operator
    val toUnsafe = UnsafeProjection.create(right.output, right.output)
    val eras = taken
      .map(r => (boundRight.eval(r), toUnsafe(r).copy()))
      .filter(_._1 != null)
      .sortWith { case ((k1, r1), (k2, r2)) =>
        val c = ord.compare(k1, k2)
        if (c != 0) c < 0
        else AsofLookup.compareBytes(r1.getBytes, r2.getBytes) < 0
      }
    val keys = eras.map(_._1)
    val rows: Array[InternalRow] = eras.map(x => (x._2: InternalRow))
    val bcKeys = sparkContext.broadcast(keys)
    val bcRows = sparkContext.broadcast(rows)
    val boundLeft = BindReferences.bindReference(leftOn, left.output)
    val attrs = left.output ++ right.output.map(_.withNullability(true))
    left.execute().mapPartitions { iter =>
      val ks = bcKeys.value
      val rs = bcRows.value
      val proj = UnsafeProjection.create(attrs, attrs)
      val joined = new JoinedRow
      // find index of the LAST key <= k (binary search, -1 if none)
      def floorIdx(k: Any): Int = {
        var lo = 0; var hi = ks.length - 1; var res = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (ord.compare(ks(mid), k) <= 0) {
            res = mid; lo = mid + 1
          } else hi = mid - 1
        }
        res
      }
      iter.flatMap { lrow =>
        val k = boundLeft.eval(lrow)
        if (k == null) Iterator.empty
        else {
          val i = floorIdx(k)
          if (i < 0) Iterator.empty // inner asof: no era yet => drop
          else Iterator.single(proj(joined(lrow, rs(i))))
        }
      }
    }
  }
}

object AsofLookup {
  /** The most dimension rows the operator broadcasts; a larger dimension
    * takes the distributed merge.
    */
  private[plans] val MaxRightRows = 5000000

  /** Unsigned byte-wise lexicographic compare (shorter prefix first) —
    * the deterministic secondary sort key for duplicate-key eras.
    */
  private[plans] def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** DataFrame-level entry: `asofLookup(facts, dim, on, dimOn)`.
    * Registers the planner strategy in the session's
    * `experimental.extraStrategies` once; the check-then-append is
    * synchronized so concurrent first calls on a bare session cannot
    * race a registration away.
    */
  def asofLookup(leftDf: DataFrame, rightDf: DataFrame,
      leftOn: Column, rightOn: Column): DataFrame =
    asofLookup(leftDf, rightDf, leftOn, rightOn, MaxRightRows)

  /** The entry with an explicit broadcast cap: a dimension of more than
    * `cap` rows takes the merge. Tests lower it to reach that path.
    */
  private[graft] def asofLookup(leftDf: DataFrame, rightDf: DataFrame,
      leftOn: Column, rightOn: Column, cap: Int): DataFrame = {
    val spark = leftDf.sparkSession
    // graceful degradation: a dimension too big to broadcast routes to
    // the distributed range-partitioned merge ([[AsofMerge]]) instead of
    // erroring. The probe is bounded — limit(cap+1) stops each scan task
    // at cap+1 rows, so the planning-time count never materializes an
    // oversized dimension. doExecute keeps its own fail-fast require as
    // the safety net for directly-constructed plans.
    if (rightDf.limit(cap + 1).count() > cap)
      return AsofMerge.asofMergeJoin(leftDf, rightDf, leftOn, rightOn)
    AsofLookup.synchronized {
      if (!spark.experimental.extraStrategies.contains(AsofStrategy)) {
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ AsofStrategy
      }
    }
    // materialize the `on` expressions as analyzed columns on each side:
    // the custom node's expressions must be RESOLVED AttributeReferences
    // (the analyzer's generic resolution does not reach into foreign
    // nodes whose lazily-bridged Column expressions claim resolution)
    val lp = GraftBridge.logicalPlan(leftDf.withColumn("__asof_l", leftOn))
    val rp = GraftBridge.logicalPlan(rightDf.withColumn("__asof_r", rightOn))
    val la = lp.output.find(_.name == "__asof_l").get
    val ra = rp.output.find(_.name == "__asof_r").get
    GraftBridge.ofRows(spark, AsofLookup(lp, rp, la, ra))
      .drop("__asof_l", "__asof_r")
  }
}
