package graft.fixtures

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-cliff probe data: an N× replication (default 10×, 100× for the
  * century probe) of a source SF's `documents` and `embeddings` tables,
  * built so per-query OUTPUT grows linearly — which is what makes
  * superlinear RUNTIME growth attributable to the plan, not the
  * workload:
  *
  *  - documents: replica r > 0 suffixes every token with `~r`, so token
  *    and shingle vocabularies of different replicas are DISJOINT — each
  *    replica reproduces the source corpus's near-dup structure exactly,
  *    and no cross-replica near-dup pairs exist (a plain copy would add
  *    ~45 bogus pairs per source doc and grow pair output quadratically).
  *  - embeddings: replica r rotates the vector by r mod 64 positions
  *    (norms and within-replica cosines preserved) and, for r >= 64,
  *    REVERSES it first (also norm/cosine-preserving) so replicas past
  *    one full rotation cycle stay distinct from their mod-64 twins;
  *    the block label offsets per replica, so blocked-pair output is
  *    exactly N× and ANN queries (vec_id < 8, replica 0 only) search a
  *    genuinely N× corpus.
  *  - events: ids and user ids offset per replica but event_type KEPT — the
  *    5 hot keys each grow N×, which is exactly the regime the skew
  *    rewrites (k-queries) must stay linear in; user populations are
  *    replica-DISJOINT, so the keyed temporal/session probes (z1/z3/p1)
  *    see constant per-key density and exactly N× output. `withEvents =
  *    false` remains for tiers whose probe set reads no events.
  */
object ScaleProbe {

  val Replicas = 10
  val IdStride = 10000000L

  /** Generate into `outDir` unless already generated from this `srcDir`
    * at this replica count. (The events check upgrades probe dirs
    * generated before events were part of the probe; the legacy marker
    * format — bare srcDir — is honored for the default tier so existing
    * sf1 dirs are not regenerated.)
    */
  def ensure(spark: SparkSession, srcDir: String, outDir: String,
             replicas: Int = Replicas, withEvents: Boolean = true): Unit = {
    require(replicas >= 1 && replicas.toLong * IdStride <= Long.MaxValue / 64,
      "replica id offsets must stay well inside long range")
    val marker = Paths.get(outDir, "_PROBE_SRC")
    val stamp = s"$srcDir#x$replicas"
    val markerOk = Files.exists(marker) && {
      val m = new String(Files.readAllBytes(marker))
      m == stamp || (m == srcDir && replicas == Replicas)
    }
    // gate on the COMMIT marker, not bare dir existence: Spark creates the
    // output dir before the job commits, so a crash mid-writeEvents would
    // otherwise leave a torn events table that every later ensure()
    // permanently accepts, silently feeding a partial corpus into the
    // z1/z3/p1 tiers and breaking their exactly-N× linearity premise
    val eventsOk =
      Files.exists(Paths.get(outDir, "events.parquet", "_SUCCESS"))
    if (markerOk && (!withEvents || eventsOk)) return
    val reps = spark.range(replicas).select(col("id").cast("int").as("r"))

    if (markerOk && withEvents && !eventsOk) {
      // upgrade path: the dir was generated before events joined this
      // tier's probe set — add ONLY the missing table; re-running the
      // 100x documents/embeddings generation (the bulk of the ~10 min
      // century cost) to add the cheapest table would be absurd
      writeEvents(spark, srcDir, outDir, reps)
      return
    }

    spark.read.parquet(s"$srcDir/documents.parquet")
      .crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("r") * IdStride).as("doc_id"),
        when(col("r") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1~"), col("r").cast("string"))))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      // multi-file output like any real corpus: a single small parquet
      // file is one row group, i.e. a 1-task scan
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val rot = col("r") % 64
    val base = when(col("r") < 64, col("embedding"))
      .otherwise(reverse(col("embedding")))
    spark.read.parquet(s"$srcDir/embeddings.parquet")
      .crossJoin(broadcast(reps))
      .select(
        (col("vec_id") + col("r") * IdStride).as("vec_id"),
        concat(
          slice(base, rot + 1, lit(64) - rot),
          slice(base, lit(1), rot)).as("embedding"),
        (col("label") + col("r") * 1000).as("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    if (withEvents) writeEvents(spark, srcDir, outDir, reps)

    Files.write(marker, stamp.getBytes)
    ()
  }

  private def writeEvents(spark: SparkSession, srcDir: String, outDir: String,
                          reps: org.apache.spark.sql.DataFrame): Unit =
    spark.read.parquet(s"$srcDir/events.parquet")
      .crossJoin(broadcast(reps))
      .select(
        (col("event_id") + col("r") * IdStride).as("event_id"),
        col("ts"),
        (col("user_id") + col("r") * 1000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
}
