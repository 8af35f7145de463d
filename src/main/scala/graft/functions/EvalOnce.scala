package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumns.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** Pass-through identity whose ONLY job is `deterministic = false` — the
  * guide's "mark the expensive expression non-deterministic so the
  * optimizer stops duplicating it" applied to a native kernel. Value,
  * nullability and codegen are the child's verbatim; what changes is that
  * Catalyst may no longer push a filter through the projection by
  * substituting the child expression into the predicate (the
  * derived-column double-eval: the kernel runs once below the filter and
  * again in the projection), nor inline it into several consumers via
  * CollapseProject.
  *
  * The BATCH operators solve this with materialization barriers
  * (`localCheckpoint`) or provably non-nullable sentinel keys; a STREAMING
  * plan can do neither (no checkpoint inside a micro-batch plan), so the
  * ingest gates ([[graft.dedup.Dedup.nearDupStream]] /
  * `minhashNearDupStream`) wrap their signature kernel here and the
  * `isNotNull` gate filter stays ABOVE the projection — one kernel pass
  * per document per trigger instead of two.
  *
  * The wrapped child must be genuinely deterministic (replays and task
  * retries recompute identical values — the flag is an optimizer fence,
  * not a semantics change); do not wrap actually-random expressions.
  * Trade-off per the guide: the fence also blocks legitimate reorderings
  * (e.g. pushing OTHER cheap filters past the projection), so it belongs
  * on expensive kernels only.
  */
case class EvalOnceExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override lazy val deterministic: Boolean = false

  override def eval(input: InternalRow): Any = child.eval(input)

  override def genCode(ctx: CodegenContext): ExprCode = child.genCode(ctx)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    throw new IllegalStateException("EvalOnceExpr.genCode delegates to the child")

  override protected def withNewChildInternal(newChild: Expression): EvalOnceExpr =
    copy(child = newChild)
}

object EvalOnce {
  def apply(c: Column): Column = column(EvalOnceExpr(expression(c)))
}
