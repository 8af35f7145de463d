package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Exact (decimal-routed) floating-point aggregation.
  *
  * Summing doubles is order-dependent, and Spark's partial aggregation order
  * is nondeterministic — so a double `sum` can differ between runs and
  * between engines (the DuckDB correctness oracle hash-compares values).
  * Routing through decimal makes the aggregation exact and therefore
  * order-independent: cast each double to a fixed-scale decimal, sum
  * exactly, cast the exact result back to double. Identical bits on any
  * engine, any partitioning, any row order — which is also what makes
  * these aggregations safe on a 1000-executor cluster, not just in local
  * mode.
  *
  * CAVEAT: the double→decimal cast itself can land on an exact round-half
  * tie (e.g. k/2^p whose decimal expansion terminates at the rounding
  * digit), and engines break ties differently (observed: a 1-ulp stddev
  * divergence at sf0.1). Inputs with few decimal digits (money values) are
  * tie-free under `Money`, but DERIVED doubles (quotients, squares) are
  * not — avoid casting those; restructure so the decimal value is computed
  * exactly instead (see the lcm-scaling trick in
  * EventAnalytics.a7AnomalyStats, which keeps per-key means as exact
  * integer multiples of the decimal sum).
  */
object Exact {
  /** For money-like inputs with <=2 decimal digits (TPC-H prices). */
  val Money: DecimalType = DecimalType(18, 2)
  /** For derived products / ratios needing more scale. */
  val Fine: DecimalType = DecimalType(28, 6)
  /** For float products (embeddings dot products). */
  val Micro: DecimalType = DecimalType(38, 12)

  /** Exact sum of a double column, returned as double. */
  def dsum(c: Column, dt: DecimalType = Money): Column =
    sum(c.cast(dt)).cast(DoubleType)

  /** Exact mean of a double column (null-skipping), returned as double. */
  def davg(c: Column, dt: DecimalType = Money): Column =
    sum(c.cast(dt)).cast(DoubleType) / count(c)

  /** Exact windowed mean, at [[Money]] scale. */
  def davgOver(c: Column, w: WindowSpec): Column =
    sum(c.cast(Money)).over(w).cast(DoubleType) / count(c).over(w)
}
