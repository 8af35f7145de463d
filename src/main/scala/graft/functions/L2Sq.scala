package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the float-array squared L2 distance —
  * the PQ codebook assignment kernel: training and encoding evaluate a
  * w-element fold per (vector, sub, codebook entry), i.e. |corpus| ×
  * pqM × pqK folds per build sweep, which a higher-order
  * `aggregate(zip_with(...))` interprets per row outside whole-stage
  * codegen. Same motivation and fold discipline as [[DotProductExpr]].
  *
  * Semantics are IDENTICAL to the fold it replaces (and to DuckDB's
  * `list_reduce` of `(a[k]-b[k])²`): per element, the difference is
  * taken in double, squared, and accumulated left-to-right — so PQ code
  * assignment stays bit-deterministic cross-engine. That identity
  * includes the degenerate inputs (round-11 ADVICE): `zip_with` null-pads
  * the shorter array and a null element poisons the fold, so
  * length-mismatched arrays and null elements return NULL here too —
  * not a silent min-length accumulation.
  */
case class L2SqExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"L2Sq expects two array<float> arguments, got ${left.dataType} / ${right.dataType}")
  }

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null // zip_with null-pads → null fold
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null // null element poisons
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SqExpr =
    copy(left = newLeft, right = newRight)
}

object L2Sq {
  def apply(a: Column, b: Column): Column =
    column(L2SqExpr(expression(a), expression(b)))
}
