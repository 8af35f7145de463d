package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-provided deterministic test tables
  * (`/root/testdata/sf*`, see TESTDATA.md). At 100 TB these would be
  * partitioned/bucketed parquet or an open table format; the reader layer
  * keeps call sites source-agnostic so only this file changes.
  *
  * All readers return plain scans — filters and projections are applied by
  * callers so Catalyst pushes them into the parquet reader
  * (PushedFilters/ReadSchema), never materialized here.
  */
object Tables {
  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Cast listed columns to their expected type ONLY where the physical
    * file disagrees — a no-op projection (zero plan change, pushdown
    * intact) when the schema already matches, which is the steady state.
    * This is the round-6 lesson generalized: the testdata's physical
    * encodings drift between driver generations (events.ts micros↔nanos
    * was the first instance), and every operator with a typed contract —
    * the native dot/LSH kernels in `graft.functions` require array<float>, typed
    * Datasets require long ids — dies at analysis when they do. Types are
    * compared by `catalogString` so nullability differences don't force
    * spurious casts.
    */
  private def conform(df: DataFrame, wanted: (String, String)*): DataFrame =
    wanted.foldLeft(df) { case (d, (name, typ)) =>
      if (d.schema.fieldNames.contains(name) &&
          d.schema(name).dataType.catalogString != typ)
        d.withColumn(name, col(name).cast(typ))
      else d
    }

  def region(s: SparkSession, d: String): DataFrame   = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame =
    conform(read(s, d, "documents"), "doc_id" -> "bigint", "n_chars" -> "bigint")
  def embeddings(s: SparkSession, d: String): DataFrame =
    conform(read(s, d, "embeddings"),
      "vec_id" -> "bigint", "embedding" -> "array<float>")

  /** The events table's `ts` has shipped under two physical parquet
    * encodings across driver runs: TIMESTAMP(NANOS) — which Spark only
    * reads as a raw long via `spark.sql.legacy.parquet.nanosAsLong` — and
    * plain TIMESTAMP(MICROS). The reader dispatches on the decoded Spark
    * type rather than assuming either, mirroring the reference's defensive
    * per-field access (ryu/src/deployed_controller/DIPA_Controller.py:468).
    * Either way callers see the same logical schema:
    *   - `ts_ns`: LongType epoch nanoseconds, exact — matches the DuckDB
    *     oracle's `epoch_ns(ts)` on both encodings;
    *   - `ts`: TimestampType at microsecond precision.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the MICROS-NTZ branch's cast interprets wall-clock in the session
    // tz — pin UTC here too (not only in GraftSession.tune) so a caller
    // reading through an untuned session on a non-UTC host still gets
    // oracle-identical instants
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = conform(read(s, d, "events"),
      "event_id" -> "bigint", "user_id" -> "bigint", "value" -> "double")
    raw.schema("ts").dataType match {
      case LongType => // NANOS file read as long
        raw
          .withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ => // TIMESTAMP(MICROS), tz-adjusted or NTZ. The NTZ→LTZ cast
        // interprets wall-clock in the session tz, pinned UTC by
        // GraftSession.tune — same instants DuckDB's epoch_ns(ts) sees.
        raw
          .withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }
}
