package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Defaults are sized for `local[N]` single-JVM runs but every choice is
  * cluster-safe: AQE on (runtime re-planning, skew-join splitting at scale),
  * shuffle partitions pinned low for local mode (a real cluster would size
  * this to ~2-3x total cores or rely on AQE coalescing), UTC session time
  * zone for deterministic timestamp semantics against the DuckDB oracle.
  */
object GraftSession {
  def local(
      cores: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    tune(spark)
    spark
  }

  /** Runtime confs the engine needs regardless of who built the session
    * (the driver harness builds its own `SparkSession` for `SparkEntry`).
    * All of these are safe to set post-construction: dynamic SQL confs and
    * the `file:` binding on the SparkContext's Hadoop conf. A second call
    * changes nothing.
    */
  def tune(spark: SparkSession): SparkSession = {
    // events.parquet has shipped as both TIMESTAMP(NANOS) and
    // TIMESTAMP(MICROS) across driver runs; this conf lets the NANOS
    // encoding decode (as raw longs) and is a no-op on MICROS files.
    // Tables.events dispatches on the decoded type.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Deterministic timestamp semantics against the DuckDB oracle: NTZ
    // wall-clocks must read as UTC instants whoever built the session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Bind the `file:` scheme of both Hadoop APIs to the local filesystem
    // that writes the same files without forking chmod/readlink (see
    // ForkFreeLocalFs). Streaming checkpoints (offsets, commits, source
    // logs, state-store deltas) go through FileContext on a conf that
    // SessionState copies from these session confs, on the driver and in
    // state-store tasks. Parquet and text writes go through the FileSystem
    // API, whose `file:` instance is cached per JVM: bind sets it on the
    // SparkContext's conf, which newHadoopConf and every task conf copy,
    // and evicts the stock instance cached before this call.
    spark.conf.set("fs.AbstractFileSystem.file.impl", classOf[graft.io.ForkFreeLocalFs].getName)
    graft.io.ForkFreeLocalFileSystem.bind(spark.sparkContext.hadoopConfiguration)
    spark
  }

  /** Large-state streaming: back the state store with RocksDB instead of
    * the default in-heap HDFS-backed map. The default provider holds every
    * key in executor heap — fine for the detection plane's per-domain
    * state, an OOM for 100 TB-scale keyed state (billions of dedup
    * fingerprints in `Dedup.exactStream`, per-flow machines in
    * StateMachines). RocksDB spills to local SSD with bounded heap, and
    * changelog checkpointing ships per-batch deltas instead of re-uploading
    * full SST files.
    *
    * Session-wide conf, captured by each streaming query at start — set it
    * before `writeStream.start()`. Existing checkpoints are provider-bound:
    * never flip this under a query's existing checkpoint dir.
    */
  def useRocksDbState(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    spark
  }
}
