package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression for the INTEGER-array dot product — the
  * quantized-ANN scoring kernel ([[graft.sim.Similarity.quantizedTopK]]).
  * Same motivation as [[DotProductExpr]]: a higher-order
  * `aggregate(zip_with(...))` interprets its lambdas per row outside
  * whole-stage codegen, and quantized scoring evaluates a 64-element
  * fold per (query, candidate) pair. This compiles to a tight primitive
  * loop in generated code.
  *
  * Exact by construction: int×int products accumulated in a long — no
  * ordering or rounding semantics to preserve, so parity with the fold
  * form (and DuckDB's `list_reduce`) is trivial. Overflow needs
  * |q| ≤ 127 components and ~2^48 dimensions to reach — unreachable.
  */
case class IntDotProductExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"IntDotProduct expects two array<int> arguments, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getInt(i).toLong * y.getInt(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (long) $a.getInt($i) * (long) $b.getInt($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDotProductExpr =
    copy(left = newLeft, right = newRight)
}

object IntDotProduct {
  def apply(a: Column, b: Column): Column =
    column(IntDotProductExpr(expression(a), expression(b)))
}
