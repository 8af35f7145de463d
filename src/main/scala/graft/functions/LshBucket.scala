package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native hyperplane-LSH bucket id: `planes` sign bits of dot products
  * with deterministic pseudo-random hyperplanes (components from the
  * shared `Similarity.planeComp` LCG — no stored matrix, recomputable on
  * any executor and mirrored in the oracle SQL generator).
  *
  * The column-expression formulation unrolls planes × dim multiply-adds
  * into one giant expression tree; this evaluates the same left-to-right
  * accumulation as a loop over a constant plane matrix inside codegen.
  * Bit-identical results, including the per-plane summation order.
  */
case class LshBucketExpr(child: Expression, dim: Int, planes: Int)
  extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"LshBucket expects array<float>, got $t")
  }

  /** Plane matrix, row-major [plane][dim] — same LCG as the oracle. */
  @transient private lazy val comps: Array[Array[Double]] =
    Array.tabulate(planes, dim) { (p, d) =>
      val h = (1103515245L * (p * dim + d + 1) + 12345L) % 2147483647L
      h.toDouble / 2147483647.0 - 0.5
    }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(dim, v.numElements())
    var bucket = 0L
    var p = 0
    while (p < planes) {
      val row = comps(p)
      var acc = 0.0
      var d = 0
      while (d < n) { acc += v.getFloat(d).toDouble * row(d); d += 1 }
      if (acc > 0) bucket += (1L << p)
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val mat = ctx.addReferenceObj("lshPlanes", comps, "double[][]")
      val p = ctx.freshName("p"); val d = ctx.freshName("d")
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val bucket = ctx.freshName("bucket"); val row = ctx.freshName("row")
      s"""
         |int $n = java.lang.Math.min($dim, $v.numElements());
         |long $bucket = 0L;
         |for (int $p = 0; $p < $planes; $p++) {
         |  double[] $row = $mat[$p];
         |  double $acc = 0.0;
         |  for (int $d = 0; $d < $n; $d++) {
         |    $acc += (double) $v.getFloat($d) * $row[$d];
         |  }
         |  if ($acc > 0) $bucket += (1L << $p);
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): LshBucketExpr =
    copy(child = newChild)
}

object LshBucket {
  def apply(vec: Column, dim: Int, planes: Int): Column =
    column(LshBucketExpr(expression(vec), dim, planes))
}
