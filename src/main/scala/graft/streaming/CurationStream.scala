package graft.streaming

import graft.dedup.Dedup
import graft.text.Text
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The corpus-curation gates COMPOSED as chained checkpointed streaming
  * queries — the at-ingest form of the batch `u1` pipeline's front half
  * (quality filter → exact dedup → near-dup dedup). The reference's
  * equivalent is a continuous loop, not a batch
  * (`ryu/src/deployed_controller/DIPA_Controller.py:308-320`); here each
  * stage is its own Structured Streaming query with its own checkpoint,
  * chained through parquet file batches:
  *
  *   stage 1 (one query): quality gate (stateless projection predicate) →
  *     exact-digest dedup (one keyed-state entry per distinct content
  *     digest) → per-micro-batch parquet.
  *   stage 2 (second query): file-stream over stage 1's output → MinHash
  *     banded near-dup gate (per-bucket keyed state; flags an arriving
  *     doc whose est-Jaccard vs any previously seen bucket occupant
  *     clears the threshold) → flagged (dup_id, of_id, est) parquet.
  *   keepers = stage 1 survivors ANTI-JOIN stage 2 flags — the curated
  *     corpus a consumer materializes.
  *
  * Restart recovery rides the checkpoints: each query resumes from its
  * committed source offsets, and the per-micro-batch output dirs are
  * written with `overwrite`, so a replayed batch id is idempotent FOR
  * THE SAME QUERY'S SINK — stage 2 restarts replay cleanly
  * (CurationStreamSpec pins it). A STAGE-1 replay is weaker: the
  * overwrite rewrites `batch=N` with fresh part-file names, and stage
  * 2's file-stream source tracks files by path, so it re-ingests the
  * replayed docs as duplicate rows. The near-dup gate defends in depth:
  * an id its bucket ALREADY HOLDS emits nothing and changes nothing
  * (see `minhashNearDupStream` — matching a replayed doc against reps
  * registered after its original arrival would invert the original
  * verdict and dedup away a legitimate keeper), and [[keepers]] drops
  * any residual self-flags as belt-and-braces — so a re-ingested doc
  * produces NO new verdicts at all. A production deployment chains
  * through a transactional table format and gets exactly-once between
  * stages outright.
  *
  * Semantics vs batch `u1`: the exact stage keeps the MIN doc_id per
  * digest under ordered arrival (the state machine replays each
  * micro-batch in doc_id order, so this holds exactly, not just
  * first-seen-wins); the near-dup stage is the GREEDY ordered gate — a
  * doc is flagged iff it matches some EARLIER doc (flagged docs still
  * register as representatives, so the flag set equals the batch banding
  * pair rule's right-hand sides). Batch `u1` instead runs min-label
  * transitive-closure clustering: on a "bridge" topology (doc x's only
  * near-neighbor arrives AFTER x yet connects x to an earlier
  * component), closure drops x but the greedy gate keeps it — inherent
  * to at-ingest decisions, which cannot retract an already-admitted doc.
  * [[compactedKeepers]] / [[startCompactionStage]] close that gap
  * periodically: a compaction pass clusters the accumulated flag graph
  * (transitive closure) and writes the closure's DROPPED-id set per
  * epoch — O(flagged docs), never a corpus rewrite — which
  * [[compactedView]] composes with the stage-1 survivors at read time,
  * so the streamed corpus CONVERGES to `u1`'s front-half semantics at
  * each compaction epoch while the greedy view stays the low-latency
  * answer in between. CurationStreamSpec pins composed-keeper parity
  * against the batch composition of the same three gate rules, closure
  * parity of the compaction pass on a bridge fixture (composed view AND
  * opt-in full snapshot), plus restart recovery and bounded state in
  * both stateful stages.
  */
object CurationStream {

  /** The curation row: the columns `u1`'s downstream stages consume. */
  final case class CurationDoc(doc_id: Long, lang: String, n_chars: Long, text: String)

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def md5hex(s: String): String =
    digest.get().digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Quality gate + deterministic exact-digest dedup as one streaming
    * transform. The state entry is a digest key + one boolean — 16-ish
    * bytes per distinct document ever seen, never the text. Works on a
    * streaming or batch frame (state starts empty).
    */
  def qualityExactGate(docs: DataFrame, qualityTh: Double): Dataset[CurationDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qs = Text.qualityMetrics(col("text")).toMap.apply("quality_score")
    val typed = docs.filter(qs >= qualityTh)
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("n_chars").cast("long").as("n_chars"), col("text"))
      .as[CurationDoc]
    StateMachines.runMachine[String, CurationDoc, Boolean, CurationDoc](
      typed, key = d => md5hex(d.text), order = _.doc_id, init = false) {
      case (seen, d) => if (seen) (true, Nil) else (true, Seq(d))
    }
  }

  /** Start stage 1: quality + exact-digest gate over `docs` (a streaming
    * frame), sinking each micro-batch to `outDir/batch=<id>` (overwrite =
    * replay-idempotent). Caller owns the checkpoint dir lifecycle.
    */
  def startQualityExactStage(docs: DataFrame, qualityTh: Double,
                             outDir: String, checkpointDir: String): StreamingQuery =
    qualityExactGate(docs, qualityTh).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[CurationDoc], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()

  /** Start stage 2: the MinHash near-dup flag gate as a second
    * checkpointed query, file-streaming stage 1's output. Emits flagged
    * (dup_id, of_id, est) rows to `outDir/batch=<id>`.
    */
  def startNearDupStage(spark: SparkSession, stage1Dir: String,
                        outDir: String, checkpointDir: String,
                        k: Int = 3, numPerms: Int = 16, bands: Int = 4,
                        threshold: Double = 0.5): StreamingQuery = {
    val in = spark.readStream
      .schema(Encoders.product[CurationDoc].schema)
      .parquet(s"$stage1Dir/batch=*")
    Dedup.minhashNearDupStream(in, k = k, numPerms = numPerms,
        bands = bands, threshold = threshold)
      .toDF("dup_id", "of_id", "est")
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
  }

  /** Materialize the curated corpus: stage 1 survivors minus stage 2
    * flags. A stateless anti-join any consumer (batch or a third
    * streaming stage) applies at read time.
    */
  def keepers(spark: SparkSession, stage1Dir: String, stage2Dir: String): DataFrame = {
    val kept = spark.read.parquet(stage1Dir).drop("batch")
    // dup_id =!= of_id: belt-and-braces against self-flags from an
    // upstream replay (see the class doc) — a doc is never dropped for
    // matching itself
    val flagged = spark.read.parquet(stage2Dir).drop("batch")
      .filter(col("dup_id") =!= col("of_id"))
      .select(col("dup_id").as("doc_id")).distinct()
    kept.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** The TRANSITIVE-CLOSURE keeper set over the accumulated stream: run
    * [[graft.dedup.Dedup.dupClusters]] on the flag graph stage 2 has
    * emitted so far and keep the MINIMUM doc_id of each connected
    * component (plus every unflagged survivor) — the batch `u1` keeper
    * rule applied to the streamed corpus.
    *
    * This is the compaction answer to the greedy gate's documented
    * bridge divergence (class doc): at ingest a doc is flagged only
    * against EARLIER docs, so a component whose bridge doc arrives last
    * keeps one doc per pre-bridge fragment; the closure keeps exactly
    * one. Because flagged docs still REGISTER as representatives, the
    * accumulated flag set equals the batch banding pair rule's edge
    * set — so clustering those edges converges the streamed corpus to
    * the same keeper set the batch closure pipeline computes
    * (CurationStreamSpec pins the parity on a bridge fixture).
    *
    * Cost shape: one [[Dedup.dupClusters]] run over the flag graph —
    * edges ~ O(near-dup pairs), not corpus size — plus one distributed
    * anti-join against the survivors (the non-keeper side is NEVER
    * collected: at scale a high dup rate makes it corpus-order big).
    * The returned plan references dupClusters' checkpoint blocks — the
    * same caller-unpersist discipline as [[Dedup.dedupByClusters]];
    * [[startCompactionStage]] releases them after each epoch write via
    * the handle-returning form.
    */
  def compactedKeepers(spark: SparkSession, stage1Dir: String,
                       stage2Dir: String): DataFrame =
    compactedWithHandle(spark, stage1Dir, stage2Dir)._1

  /** [[compactedKeepers]] plus the closure frame backing it (None when
    * no flags exist yet) — lets a caller that materializes the keeper
    * set release the checkpoint blocks precisely.
    */
  private def compactedWithHandle(spark: SparkSession, stage1Dir: String,
                                  stage2Dir: String): (DataFrame, Option[DataFrame]) = {
    val kept = spark.read.parquet(stage1Dir).drop("batch")
    val (dropped, handle) = closureDropsWithHandle(spark, stage2Dir)
    (kept.join(dropped, Seq("doc_id"), "left_anti"), handle)
  }

  /** The closure's DROPPED-id set over the flag graph accumulated in
    * `stage2Dir` — every non-minimum member of each connected component
    * — plus the closure frame backing it (None when no flags exist yet;
    * the drop set is then empty). O(flagged docs), NOT corpus-sized:
    * this is the epoch artifact [[startCompactionStage]] materializes.
    */
  private def closureDropsWithHandle(spark: SparkSession, stage2Dir: String)
      : (DataFrame, Option[DataFrame]) = {
    val noDrops = spark.range(0).select(col("id").as("doc_id"))
    // stage 2 lags stage 1 (it streams stage 1's files); before its first
    // batch lands there is nothing to cluster. Probe through the Hadoop
    // filesystem of the PATH (not java.nio, which silently reads an
    // hdfs:// or s3a:// URI as a relative local path and would disable
    // compaction forever on any non-local deployment).
    val s2Path = new org.apache.hadoop.fs.Path(stage2Dir)
    val s2Fs = s2Path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!s2Fs.exists(s2Path)) return (noDrops, None)
    val flags = spark.read.parquet(stage2Dir).drop("batch")
      .filter(col("dup_id") =!= col("of_id")) // replay self-flag guard
      .select(col("dup_id"), col("of_id"))
    if (flags.isEmpty) return (noDrops, None)
    val clusters = Dedup.dupClusters(flags, iCol = "dup_id", jCol = "of_id")
    (clusters.filter(col("doc_id") =!= col("cluster")).select(col("doc_id")),
      Some(clusters))
  }

  /** The closure-compacted corpus COMPOSED lazily from the latest epoch:
    * stage 1 survivors ANTI-JOIN the newest `epoch=<id>` dropped-id set
    * under `epochDir` (the artifact [[startCompactionStage]] writes in
    * its default drops-only mode). Same read-time shape as [[keepers]]
    * — no snapshot is ever materialized; consumers pay one anti-join
    * against a drop set that is O(flagged docs). Falls back to the raw
    * stage 1 survivors while no epoch exists yet.
    */
  def compactedView(spark: SparkSession, stage1Dir: String,
                    epochDir: String): DataFrame = {
    val kept = spark.read.parquet(stage1Dir).drop("batch")
    val p = new org.apache.hadoop.fs.Path(epochDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // newest COMMITTED epoch only: a compaction crash mid-write leaves a
    // torn `epoch=<id>` dir with no _SUCCESS marker, and composing
    // against a partial drop set would silently resurrect duplicates
    // until the replayed batch overwrites it — fall back to the previous
    // complete epoch instead
    val epochs = committedEpochs(fs, p)
    if (epochs.isEmpty) return kept
    val drops = spark.read.parquet(s"$epochDir/epoch=${epochs.max}")
    kept.join(drops, Seq("doc_id"), "left_anti")
  }

  /** The committed-epoch definition the reader ([[compactedView]]), the
    * pruner ([[pruneEpochs]]) and the ANN index's curation hook
    * ([[graft.sim.Similarity.deleteCurationDropsFromIvfIndex]]) all rely
    * on — one place, so they can never disagree about what "committed"
    * means: an `epoch=<id>` dir under `p` whose parquet job finished
    * (`_SUCCESS` present), ascending; none when `p` is missing.
    */
  private[graft] def committedEpochs(fs: org.apache.hadoop.fs.FileSystem,
                                     p: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("epoch="))
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(p, s"$d/_SUCCESS")))
      .map(_.stripPrefix("epoch=").toLong).sorted.toSeq

  /** Prune superseded compaction epochs. Each epoch is self-contained
    * (the FULL current drop set, not a delta) and [[compactedView]]
    * reads only the newest COMMITTED one, so older `epoch=<id>` dirs
    * are pure retention cost — this is the invariant-preserving cleanup
    * a deployment would otherwise hand-roll. Deletes only
    * `_SUCCESS`-committed epochs older than the newest `keep`:
    *   - the newest `keep` committed epochs are never touched, so a
    *     [[compactedView]] plan RESOLVED after the latest commit keeps
    *     its target (see the reader-concurrency caveat below for plans
    *     resolved before it);
    *   - TORN epochs (no `_SUCCESS`) are never touched — one may be
    *     mid-write by the live compaction query RIGHT NOW, and a torn
    *     id is replayed (overwritten in place) on restart, so deleting
    *     it would race the writer for nothing;
    *   - opt-in `snapshot/epoch=<id>` dirs are NOT pruned: snapshots
    *     are frozen corpora handed to consumers (e.g. a training run)
    *     and their retention is the consumer's call, not a cache
    *     policy.
    * Returns the pruned epoch ids. Safe to run on any schedule and
    * concurrently with the compaction query. Concurrency with READERS
    * has one caveat inherent to lazy plans: a [[compactedView]] plan
    * that resolved its epoch BEFORE a newer one committed can still be
    * executing (a long export job) when that epoch ages out of the
    * retained set — the scan then fails on missing files (or, with
    * `spark.sql.files.ignoreMissingFiles`, silently reads an empty
    * drop set). Size `keep` to cover the longest reader overlapping a
    * compaction interval, or materialize the view before pruning. The
    * DEFAULT is `keep = 2` precisely for that race: a plan resolved any
    * time after the previous commit survives one full compaction
    * interval of pruning (the newest-but-one epoch is always retained),
    * so a reader is only at risk after TWO full epochs elapse mid-job.
    * `keep = 1` (minimum retention) is still accepted for deployments
    * that materialize before pruning — but it makes the sharp edge the
    * caller's explicit choice instead of the path of least resistance.
    */
  def pruneEpochs(spark: SparkSession, epochDir: String, keep: Int = 2): Seq[Long] = {
    require(keep >= 1, "must retain at least the newest committed epoch")
    val p = new org.apache.hadoop.fs.Path(epochDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val prune = committedEpochs(fs, p).dropRight(keep)
    prune.foreach(id =>
      fs.delete(new org.apache.hadoop.fs.Path(p, s"epoch=$id"), true))
    prune
  }

  /** Periodic COMPACTION as a third chained query: file-stream STAGE 2's
    * output (so each epoch runs strictly AFTER the flags it folds in are
    * on disk — triggering off stage 1 would race the near-dup gate and
    * snapshot stale flag graphs) and, every `every`-th micro-batch,
    * materialize the closure's DROPPED-id set to `outDir/epoch=<batchId>`
    * — each epoch is a complete, idempotent recompute over everything
    * both stages have emitted, so a replayed batch id overwrites with
    * identical content. Between compactions the greedy [[keepers]] view
    * stays the low-latency answer; each epoch converges
    * [[compactedView]] — the lazy `stage1 ANTI-JOIN latest-epoch drops`
    * composition — to the batch closure semantics. The
    * recompute-from-accumulated-output shape (rather than incremental
    * state) is deliberate: connected components is a global fixpoint —
    * a new bridge edge can merge ANY two existing components, so no
    * bounded per-key state can maintain it; the flag graph it rescans
    * is O(near-dup pairs), not corpus size.
    *
    * The epoch artifact is O(flagged docs), NEVER the corpus: at 100 TB
    * a full keeper snapshot per epoch would re-write ~the entire
    * surviving corpus every compaction (write amplification
    * O(corpus × epochs)), while the drop set is proportional to the
    * near-dup graph. A consumer that genuinely wants a materialized
    * snapshot per epoch (e.g. to hand a frozen corpus to a training
    * run) opts into `fullSnapshot = true`, which additionally writes
    * the composed keeper rows to `outDir/snapshot/epoch=<batchId>` —
    * the cost is then explicit and chosen, not the default.
    *
    * Epoch retention: each epoch is self-contained (the FULL current
    * drop set, not a delta), so only the newest committed epoch is ever
    * read — older `epoch=<id>` dirs are safe to prune on any schedule
    * the deployment likes; nothing here depends on them.
    * [[pruneEpochs]] is that cleanup, shipped against the exact
    * invariant (committed-only, never the newest, torn dirs left to
    * their replaying writer); `retainEpochs = Some(k)` runs it inline
    * after each epoch commit, so the artifact dir stays bounded at k
    * committed epochs with no external scheduler. Pick k ≥ 2 (the
    * [[pruneEpochs]] default) unless every reader materializes before
    * the next compaction — k = 1 re-exposes the reader race
    * [[pruneEpochs]]'s default exists to blunt.
    */
  /** Optional LIVE consistency hook (`annIndexPath`): after each epoch
    * commits, its dropped-id set is tombstoned into the given persisted
    * ANN index ([[graft.sim.Similarity.deleteCurationDropsFromIvfIndex]])
    * — so a document the closure drops stops being RETRIEVABLE from the
    * vector index within the same compaction interval that dropped it
    * from the corpus, with no external scheduler. Idempotent under epoch
    * replay (the index state records a curation watermark with the
    * tombstones it covers, and an already-applied epoch is a pure
    * no-op), and DELTA-disciplined:
    * although each curation epoch artifact is cumulative, only the drops
    * new since the last applied epoch are tombstoned — so the index's
    * live tombstone set stays bounded by deletes since ITS last
    * compaction (the broadcast-class contract its query anti-join
    * depends on) instead of growing to O(all drops ever) as retired sets
    * get re-added. O(flagged docs) per epoch, physically reclaimed
    * whenever the index's own compaction next runs —
    * `annCompactEvery = Some(k)` schedules exactly that with no external
    * scheduler: every k-th curation epoch this query (the index's single
    * maintenance writer) runs the reader-safe
    * [[graft.sim.Similarity.compactIvfIndex]], reclaiming the
    * accumulated tombstones and retiring the applied set — which is what
    * keeps the live tombstone epoch broadcast-class between reclaims.
    * The single-maintenance-writer contract is otherwise the caller's to
    * keep: don't run a concurrent append/compact of the SAME index
    * inside the epoch commit window.
    */
  def startCompactionStage(spark: SparkSession, stage1Dir: String,
                           stage2Dir: String, outDir: String,
                           checkpointDir: String, every: Int = 1,
                           fullSnapshot: Boolean = false,
                           retainEpochs: Option[Int] = None,
                           annIndexPath: Option[String] = None,
                           annCompactEvery: Option[Int] = None): StreamingQuery = {
    require(every >= 1, "compaction period must be >= 1 batch")
    retainEpochs.foreach(k => require(k >= 1,
      "must retain at least the newest committed epoch"))
    annCompactEvery.foreach { k =>
      require(k >= 1, "ANN compaction cadence must be >= 1 epoch")
      require(annIndexPath.isDefined,
        "annCompactEvery needs annIndexPath — there is no index to compact")
    }
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("dup_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("of_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("est",
          org.apache.spark.sql.types.DoubleType))))
      .parquet(s"$stage2Dir/batch=*")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (batchId % every == 0) {
          val (drops, handle) = closureDropsWithHandle(spark, stage2Dir)
          drops.write.mode("overwrite").parquet(s"$outDir/epoch=$batchId")
          if (fullSnapshot)
            spark.read.parquet(s"$stage1Dir").drop("batch")
              .join(spark.read.parquet(s"$outDir/epoch=$batchId"),
                Seq("doc_id"), "left_anti")
              .write.mode("overwrite").parquet(s"$outDir/snapshot/epoch=$batchId")
          // the epoch is materialized — release this compaction's closure
          // checkpoint blocks instead of accumulating one set per epoch
          // until driver GC (Dataset.unpersist would be a CacheManager
          // no-op on checkpoint-backed frames)
          handle.foreach(Dedup.releaseCheckpoint)
          // opt-in self-pruning: runs AFTER this epoch's _SUCCESS lands,
          // so the just-written epoch is always in the retained set;
          // pruneEpochs' own invariant (committed-older-only, torn dirs
          // untouched) makes this safe against concurrent readers
          retainEpochs.foreach(k => pruneEpochs(spark, outDir, k))
          // opt-in LIVE index consistency: tombstone this epoch's drops
          // into the ANN index (after the epoch is committed and pruned,
          // so the read side of the composition always sees a complete
          // drop set)
          annIndexPath.foreach(p =>
            graft.sim.Similarity.deleteCurationDropsFromIvfIndex(spark, p, outDir))
          // opt-in index MAINTENANCE cadence, completing the loop with no
          // external scheduler: every annCompactEvery-th curation epoch,
          // physically reclaim the tombstones the hook accumulated (and
          // retire the applied set — the contract that keeps the live
          // tombstone epoch broadcast-class between reclaims). This query
          // is the index's single maintenance writer, so the serialize-
          // writers contract holds by construction; readers are safe
          // across the generation swap. Idempotent under batch replay.
          annIndexPath.foreach { p =>
            annCompactEvery.foreach { k =>
              if ((batchId / every + 1) % k == 0)
                graft.sim.Similarity.compactIvfIndex(spark, p)
            }
          }
        }
      }
      .start()
  }
}
