package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate, MERGEABLE aggregates — the constant-memory census tools
  * for a 100 TB corpus.
  *
  * Exact distinct counts and exact quantiles need state proportional to
  * the value set (the [[Skew.distinctCount]] rewrite bounds the per-task
  * set but still shuffles every distinct value once). The sketches here
  * trade a documented error bound for O(1) state per group, and — the
  * property that matters operationally — they MERGE: sketch each
  * partition / day / shard independently, union the sketches, and the
  * estimate over the union equals sketching the whole (SketchesSpec
  * asserts exactly that). That turns "distinct users last quarter" from
  * a quarter-long reshuffle into a union of 90 daily 4 KB blobs.
  *
  * All of these are Spark built-ins (HLL++ for `approx_count_distinct`,
  * the DataSketches HLL for the binary sketch columns, GK for
  * `percentile_approx`) running inside codegen'd partial aggregation —
  * no UDFs, no driver-side state.
  */
object Sketches {

  /** Per-key approximate distinct count (HLL++), `rsd` relative error. */
  def approxDistinct(df: DataFrame, keys: Seq[String], value: Column,
                     rsd: Double = 0.05, out: String = "approx_distinct")
      : DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(approx_count_distinct(value, rsd).as(out))

  /** Per-key BINARY DataSketches-HLL sketch of `value` — the persistable
    * partial: write these per shard/day, merge later with [[hllUnion]].
    * 2^12 buckets (lgK 12: ~3% error, 4 KB).
    */
  def hllSketch(df: DataFrame, keys: Seq[String], value: Column,
                out: String = "hll"): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(value, lit(12)).as(out))

  /** Merge sketch blobs (column `sketch`) across rows per `keys` and
    * estimate the distinct count of the union.
    */
  def hllUnion(sketches: DataFrame, keys: Seq[String], sketch: Column,
               out: String = "distinct_est"): DataFrame =
    sketches.groupBy(keys.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(sketch)).as(out))

  /** Per-key approximate quantiles at `probs`. `accuracy` bounds the
    * RANK error at 1/accuracy (10000 → ±0.01% of rows), with memory
    * O(accuracy), independent of group size.
    */
  def approxQuantiles(df: DataFrame, keys: Seq[String], value: Column,
                      probs: Seq[Double], accuracy: Int = 10000,
                      out: String = "quantiles"): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(percentile_approx(value,
        array(probs.map(lit): _*), lit(accuracy)).as(out))
}
