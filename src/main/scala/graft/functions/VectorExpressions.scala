package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the vector hot path: a sequential
  * left-to-right dot product over two `array<double>` columns.
  *
  * Why a custom Expression instead of `aggregate(zip_with(...))`: the
  * built-in higher-order functions are CodegenFallback — every element
  * evaluation is an interpreted lambda call, which dominates the runtime
  * of O(n²) similarity joins. This expression participates in whole-stage
  * codegen (`doGenCode` emits a tight primitive loop), turning the
  * per-pair cost into a vectorizable 64-iteration double loop.
  *
  * Determinism contract: strict left-to-right accumulation, identical to
  * the DuckDB oracle's `list_sum(list_transform(...))` fold, so results
  * are bit-reproducible across engines.
  */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = children.forall(c => c.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product_d expects array<double> inputs, got " +
        s"${children.map(_.dataType.simpleString).mkString(", ")}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product_d"
}

object VectorExpressions {
  /** Column-API entry point; casts inputs to array<double> so callers can
    * pass `array<float>` embedding columns directly. */
  def dotd(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProductD(
      GraftSqlBridge.expression(a.cast("array<double>")),
      GraftSqlBridge.expression(b.cast("array<double>"))))
}
