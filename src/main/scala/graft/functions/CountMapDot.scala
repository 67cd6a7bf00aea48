package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Exact decimal dot product of a per-row count list
  * (array&lt;struct&lt;f string, c bigint&gt;&gt;, the CharNGramCounts /
  * WordNGrams shape) against a FOLDABLE feature-weight map
  * (map&lt;string, decimal(18,6)&gt;) — the DSIR-style importance-score
  * kernel: Σ_f c_f·w_f at scale 6, returned as DECIMAL(38,6).
  *
  * Why native: the declarative form — explode + broadcast join +
  * groupBy(doc), or an `aggregate` fold with `element_at(map_literal)`
  * — either shuffles a |docs|×features frame or pays a LINEAR scan per
  * lookup (Catalyst map literals are array-backed, so element_at is
  * O(|map|); at 4.7M lookups × 385 features that scan was the whole
  * query). Here the weight map is hashed ONCE per task (the child must
  * be foldable) and each row is a single in-task pass over its counts.
  *
  * Exactness: every term c·w is exact at scale 6 (integer × scale-6
  * decimal), so accumulating unscaled micros in a checked long is
  * bit-identical to the decimal-sum form, order-independent. Features
  * missing from the map contribute nothing — the semantics of the
  * equi-join formulation this replaces (unreachable when the map covers
  * the corpus vocabulary, as in DSIR where it is built from the same
  * corpus). Overflow throws (Math.addExact/multiplyExact), never wraps.
  */
case class CountMapDot(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DecimalType(38, 6)
  override def prettyName: String = "count_map_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    val countsOk = left.dataType match {
      case ArrayType(StructType(Array(
        StructField(_, StringType, _, _), StructField(_, LongType, _, _))), _) => true
      case _ => false
    }
    val mapOk = right.dataType match {
      case MapType(StringType, d: DecimalType, _) if d.scale == 6 => true
      case _ => false
    }
    if (!right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable weight map (it is hashed once per task)")
    else if (countsOk && mapOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<struct<string,bigint>>, map<string,decimal(p,6)>), got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private lazy val weightScale: Int =
    right.dataType.asInstanceOf[MapType].valueType.asInstanceOf[DecimalType].scale
  private lazy val weightPrec: Int =
    right.dataType.asInstanceOf[MapType].valueType.asInstanceOf[DecimalType].precision

  // hashed once per task from the foldable map child
  @transient private lazy val table: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = right.eval(null).asInstanceOf[MapData]
    val t = new java.util.HashMap[UTF8String, java.lang.Long](m.numElements() * 2)
    val ks = m.keyArray(); val vs = m.valueArray()
    var i = 0
    while (i < m.numElements()) {
      t.put(ks.getUTF8String(i).clone(),
        vs.getDecimal(i, weightPrec, weightScale).toUnscaledLong)
      i += 1
    }
    t
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val arr = l.asInstanceOf[ArrayData]
    var acc = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val row = arr.getStruct(i, 2)
        val w = table.get(row.getUTF8String(0))
        if (w != null)
          acc = Math.addExact(acc, Math.multiplyExact(row.getLong(1), w.longValue()))
      }
      i += 1
    }
    Decimal(acc, 38, weightScale)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CountMapDot =
    copy(left = newLeft, right = newRight)
}

object CountMapDot {
  /** Column-API entry point; `weights` must be a literal/foldable map. */
  def count_map_dot(counts: Column, weights: Column): Column =
    GraftBridge.toColumn(
      CountMapDot(GraftBridge.toExpr(counts), GraftBridge.toExpr(weights)))
}
