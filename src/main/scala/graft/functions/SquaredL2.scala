package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Squared-L2 distance between two float/double array columns as a
  * native codegen'd expression — the whole-stage-codegen replacement
  * for the interpreted `aggregate(zip_with(...))` double fold
  * (VecDist.d2Fold) on anchor-distance hot paths. The accumulation is
  * the identical left-to-right IEEE double add sequence in array (dim)
  * order, so values are bit-identical to the fold and to the DuckDB
  * `list_reduce(list(term ORDER BY dim))` oracle twin; only the
  * evaluation engine changes (interpreted HOF → generated loop).
  * Mirrors CosineSimilarity's analysis contract and null handling.
  */
case class SquaredL2(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "squared_l2"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float>/array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val af = elemIsFloat(left); val bf = elemIsFloat(right)
    val n = math.min(a.numElements(), b.numElements())
    var d2 = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
        val d = x - y
        d2 += d * d
      }
      i += 1
    }
    d2
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val bGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val d2 = ctx.freshName("d2"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val d = ctx.freshName("d")
      s"""
        double $d2 = 0.0;
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        for (int $i = 0; $i < $n; $i++) {
          if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
            double $d = ((double) $a.$aGet($i)) - ((double) $b.$bGet($i));
            $d2 += $d * $d;
          }
        }
        ${ev.value} = $d2;
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredL2 =
    copy(left = newLeft, right = newRight)
}

object SquaredL2 {
  /** Column-API entry point. */
  def squared_l2(a: Column, b: Column): Column =
    GraftBridge.toColumn(
      SquaredL2(GraftBridge.toExpr(a), GraftBridge.toExpr(b)))
}
