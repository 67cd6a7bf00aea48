package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL registration for the engine's custom Catalyst expressions into an
  * already-built session. After registration the names work inside any
  * `expr("...")` / `spark.sql("...")` string.
  */
object GraftFunctions {

  /** Arity check with the standard analysis error instead of a raw
    * IndexOutOfBounds from positional access in the builder.
    */
  private[functions] def arity(name: String, n: Int)(es: Seq[Expression]): Seq[Expression] = {
    if (es.length != n)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name, "expectedNum" -> n.toString,
          "actualNum" -> es.length.toString, "docroot" -> "-"))
    es
  }

  /** Runtime registration into an existing session's function registry. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("cosine_sim",
      (es: Seq[Expression]) => { val a = arity("cosine_sim", 2)(es); CosineSimilarity(a(0), a(1)) },
      "scala_udf")
    reg.createOrReplaceTempFunction("vec_sum",
      (es: Seq[Expression]) => { val a = arity("vec_sum", 1)(es); VectorSumAgg(a.head).toAggregateExpression() },
      "scala_udf")
  }
}
