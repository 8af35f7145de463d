package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Catalyst expression bridge for graft's native kernels: the
  * classic conversions are `private[sql]`, so this object lives in Spark's
  * package and re-exports them. A kernel's `Column` is its expression,
  * bound to its own tables; nothing is written to the session.
  */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
