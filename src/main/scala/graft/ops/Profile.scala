package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-pass, long-format column profiling — the census a pipeline runs
  * before trusting a new 100 TB drop.
  *
  * For each requested column: row count, null count, approximate
  * distinct cardinality (HLL++, constant memory), and min/max rendered
  * as strings so heterogeneous column types coexist in one result
  * frame. Everything folds into a SINGLE aggregation over a single scan
  * (partial-aggregated, codegen'd) and the per-column melt happens on
  * the one-row result — profiling cost is one pass regardless of how
  * many columns are profiled.
  *
  * For per-value frequency (top-k values of one column), use
  * [[Skew.profile]] — that is a per-column aggregation by value and
  * deliberately not bundled here.
  */
object Profile {

  /** Profile `cols` (default: every column) of `df`. Returns one row per
    * column: (column, n_rows, n_null, distinct_est, min, max), the
    * distinct estimate at 5% relative error.
    */
  def columns(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val names = if (cols.nonEmpty) cols else df.columns.toSeq
    require(names.nonEmpty, "no columns to profile")
    val aggs = count(lit(1)).as("__n") +: names.flatMap { c =>
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        approx_count_distinct(col(c), 0.05).as(s"__dst_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = names.map { c =>
      struct(lit(c).as("column"), col("__n").as("n_rows"),
        (col("__n") - col(s"__cnt_$c")).as("n_null"),
        col(s"__dst_$c").as("distinct_est"),
        col(s"__min_$c").as("min"), col(s"__max_$c").as("max"))
    }
    one.select(explode(array(stacked: _*)).as("p")).select("p.*")
  }
}
