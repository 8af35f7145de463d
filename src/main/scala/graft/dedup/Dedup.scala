package graft.dedup

import graft.text.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.storage.StorageLevel

/** Document deduplication for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. All pure DataFrame transforms.
  *
  * Engine-portability note: shingle/token ids are a 60-bit prefix of
  * `md5(s)` reduced mod 2^31-1 — a map-only projection computable
  * identically in DuckDB (`('0x' || substring(md5(s),1,15))::BIGINT % P`),
  * so the LSH candidate sets (not just the verified pairs) are
  * oracle-checkable. No dictionary, no global sort, no shuffle anywhere in
  * id assignment — the id path costs the same at 100 TB as at 100 MB.
  */
object Dedup {

  val P: Long = 2147483647L // 2^31-1, Mersenne prime
  def hashA(i: Int): Long = (1103515245L * (i + 1)) % P
  def hashB(i: Int): Long = (12345L + 7919L * i) % P

  /** Linear-congruential permutation of an id in [0, P). */
  def perm(i: Int, id: Column): Column = (lit(hashA(i)) * id + lit(hashB(i))) % P

  /** Portable map-only string id in [0, P): first 15 hex chars of md5 as a
    * 60-bit long, mod P. Same value in DuckDB; keeps `perm`'s products
    * inside 63 bits.
    */
  def strId(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long") % P

  /** Exact dedup: group identical texts, keep the lowest doc_id as the
    * survivor. One hash shuffle on the text (production: on xxhash64(text)
    * with a residual equality check — same plan shape).
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** Spread a compute-dense map stage across the cluster when the scan
    * under-parallelizes. Parquet splits by BYTES (and only at row-group
    * boundaries), so a small-but-heavy text corpus — e.g. one 15 MB file —
    * lands in ONE task and serializes the whole tokenize/shingle stage on
    * a single core. No-op when the scan already has >= default-parallelism
    * partitions, which is every real multi-file corpus — so at 100 TB this
    * adds nothing, and on pathological inputs it costs one small shuffle
    * of raw text to unlock N-way parallelism for the expensive part.
    */
  private[graft] def widen(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batches are already split
    val sess = df.sparkSession
    val p = sess.sparkContext.defaultParallelism
    // estimate the scan's parallelism from ANALYZED-plan leaf stats (file
    // sizes) instead of df.rdd.getNumPartitions — the latter forces a full
    // plan-to-RDD conversion per call just to read a count. Spark splits
    // files at ~maxPartitionBytes, so a scan under p×maxPartitionBytes
    // cannot fill p tasks → widen; anything bigger (every real corpus)
    // already parallelizes and this is a no-op. Non-file leaves report
    // huge default stats and correctly skip the widen.
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val bytes = leaves.map(_.stats.sizeInBytes).sum
    val files = leaves.map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.inputFiles.length
          case _ => 0
        }
      case _ => 0
    }.sum
    val maxPart = BigInt(sess.sessionState.conf.filesMaxPartitionBytes)
    if (bytes < maxPart * p && files < p) df.repartition(p) else df
  }

  /** Streaming exact dedup — dedup-at-ingest: first-seen documents pass,
    * later exact copies are dropped across micro-batches via keyed state
    * on a content hash. The 100 TB ingest shape: new corpus slices dedup
    * incrementally as they arrive instead of re-scanning everything seen
    * so far; the state entry is a 16-byte digest per distinct document,
    * not the text, checkpointed and sharded by Spark's state store. Works
    * identically on a batch frame (state starts empty).
    *
    * STATE GROWS WITHOUT BOUND on an unbounded stream: `dropDuplicates`
    * state only expires when the event-time column is part of the dedup
    * subset — a watermark alone does NOT evict it. That is the correct
    * semantics for global corpus dedup over a finite backfill; for an
    * unbounded stream use [[exactStreamWithinWatermark]], which bounds
    * the state at the price of a bounded suppression window.
    */
  def exactStream(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("__fp", md5(col(textCol)))
      .dropDuplicates("__fp")
      .drop("__fp")

  /** Streaming exact dedup with BOUNDED state for unbounded streams:
    * `dropDuplicatesWithinWatermark` keeps a fingerprint's state only
    * until the event-time watermark passes its last sighting + `delay`,
    * then evicts it. Consequence (documented, inherent to bounded state):
    * a duplicate whose first sighting has already expired is RE-ADMITTED —
    * dedup is exact within the watermark window and best-effort beyond
    * it. DedupStreamSpec pins both properties (bounded state-store rows
    * across advancing micro-batches; the expired-key re-admission).
    */
  def exactStreamWithinWatermark(docs: DataFrame, eventTimeCol: String,
                                 delay: String, textCol: String = "text"): DataFrame =
    docs.withColumn("__fp", md5(col(textCol)))
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming NEAR-dup candidate gate (SimHash): emits (dup_id, of_id,
    * hamming) for every arriving document within `maxHamming` bits of a
    * previously seen one — the approximate counterpart of
    * [[exactStream]], entirely at ingest.
    *
    * Shape: [[withSimhash]] is a map-only projection (no pre-state
    * shuffle), the 64-bit signature splits into `Bands` 16-bit blocks
    * (pigeonhole: Hamming ≤ 3 ⇒ some block identical, so the gate has NO
    * false negatives at maxHamming ≤ 3, like the batch
    * [[simhashPairs]]), and each (band, block-value) bucket is one keyed
    * state entry holding the (id, simhash) of the docs seen in it — the
    * arriving doc checks EXACT Hamming distance against those 8-byte
    * sketches, never the texts. First-wins within a micro-batch by id
    * order; a doc that is itself flagged still registers as a
    * representative (pair emission mirrors the batch form — keeper
    * resolution is the caller's greedy pass, as in [[embedDedup]]).
    * State per bucket grows with the distinct non-colliding docs that
    * hash there (the banding spreads a corpus across `Bands` × 2^16
    * buckets); `idleTimeoutMs` evicts cold buckets. Emitted pairs can
    * repeat across bands — `.distinct()` them per batch if consumed as a
    * set (the spec does).
    */
  def nearDupStream(docs: DataFrame, maxHamming: Int = 3,
                    idCol: String = "doc_id", textCol: String = "text",
                    idleTimeoutMs: Option[Long] = None)
      : org.apache.spark.sql.Dataset[(Long, Long, Int)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val Bands = 4
    val banded = withSimhash(docs.select(col(idCol).cast("long").as("id"),
        col(textCol)), textCol, evalOnce = true)
      // token-less docs carry a null signature (see withSimhash): they are
      // neither flagged nor registered, matching simhashSignatures' omission.
      // evalOnce above keeps this filter from substituting the kernel into
      // a pushed-down Filter — one signature pass per doc per trigger
      .filter(col("simhash").isNotNull)
      .select(col("id"), col("simhash"),
        explode(sequence(lit(0), lit(Bands - 1))).as("band"))
      .withColumn("bucket",
        col("band").cast("long") * (1L << 16) +
          expr("shiftrightunsigned(simhash, band * 16) & 65535"))
      .select("bucket", "id", "simhash").as[(Long, Long, Long)]
    graft.streaming.StateMachines
      .runMachine[Long, (Long, Long, Long), Seq[(Long, Long)], (Long, Long, Int)](
        banded, key = _._1, order = _._2, init = Seq.empty,
        idleTimeoutMs = idleTimeoutMs) { case (reps, (_, id, sig)) =>
        // replay guard: an already-registered id emits nothing — see the
        // minhashNearDupStream comment (a replayed doc would otherwise
        // self-match at Hamming 0 and flag itself away)
        if (reps.exists(_._1 == id)) (reps, Nil)
        else {
          val hits = reps.collect {
            case (rid, rsig) if java.lang.Long.bitCount(rsig ^ sig) <= maxHamming =>
              (id, rid, java.lang.Long.bitCount(rsig ^ sig))
          }
          (reps :+ ((id, sig)), hits)
        }
      }
  }

  /** (doc_id, shingle) pairs, distinct per document. */
  def docShingles(docs: DataFrame, k: Int,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    widen(docs).select(col(idCol).as("doc_id"),
        explode(array_distinct(Text.shingles(Text.tokens(col(textCol)), k))).as("sh"))

  /** Benchmark decontamination: drop every corpus document sharing at
    * least one word k-gram with the benchmark set — the training-data
    * hygiene step of GPT-3 (Brown et al. 2020, §4/Appendix C, 13-gram)
    * and PaLM (Chowdhery et al. 2022, §6.6, 8-gram); default k = 8.
    * Benchmark documents present in the corpus remove themselves (full
    * self-overlap), which is the desired semantics — test rows must not
    * be trained on.
    *
    * Distributed shape: distinct benchmark k-grams (small by nature —
    * eval sets are thousands of rows) are explicitly `broadcast()` into a
    * semi-join over the corpus gram stream for contaminated ids, then one
    * anti-join restores full rows. No similarity math, no candidate
    * blowup: cost is one pass over corpus grams. The broadcast is pinned
    * rather than left to AQE: the benchmark side is an exploded+distinct
    * plan whose size estimate Catalyst routinely overshoots, and a miss
    * would shuffle the ENTIRE corpus gram stream on `sh` — the hint makes
    * the one-pass claim plan-enforced (asserted in a
    * RepetitionDecontamSpec plan test). The pin is also a SIZE
    * assumption: distinct bench grams are O(benchmark tokens), and a
    * pinned broadcast past the 8 GB broadcast limit fails the job
    * outright where AQE could have degraded to a shuffle join. Eval
    * suites are thousands of docs — far inside the limit — but a caller
    * decontaminating against something benchmark-shaped yet corpus-SIZED
    * passes `broadcastBench = false` and gets the planner's choice back.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, k: Int = 8,
                    idCol: String = "doc_id", textCol: String = "text",
                    broadcastBench: Boolean = true): DataFrame = {
    val benchGrams = docShingles(benchmark, k, idCol, textCol)
      .select("sh").distinct()
    val contaminated = docShingles(corpus, k, idCol, textCol)
      .join(if (broadcastBench) broadcast(benchGrams) else benchGrams, "sh")
      .select(col("doc_id").as(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Drop shingles whose document frequency exceeds `dfCap` (0 = keep all).
    * The standard guard against the inverted-index skew blowup: one
    * stop-shingle shared by 1M docs would otherwise emit ~5*10^11 pairs.
    * Trades recall (pairs similar ONLY through ubiquitous shingles are
    * missed) for a hard bound of dfCap^2/2 pairs per shingle group.
    */
  def capDf(shingles: DataFrame, dfCap: Int): DataFrame =
    capDfWithHandle(shingles, dfCap)._1

  /** [[capDf]] plus the materialized over-cap exclusion list (None when no
    * barrier was taken): internal callers that fully materialize their
    * output ([[jaccardPairs]]) release the barrier's checkpoint blocks via
    * [[releaseCheckpoint]] once done instead of leaking them to the
    * ContextCleaner's weak-reference sweep (one small block set per call,
    * but a long-lived session runs many calls).
    */
  private[dedup] def capDfWithHandle(shingles: DataFrame, dfCap: Int)
      : (DataFrame, Option[DataFrame]) =
    if (dfCap <= 0) (shingles, None)
    else {
      // anti-join against the OVER-cap vocabulary: few ubiquitous shingles
      // by construction, so the exclusion list is broadcast-sized even at
      // corpus scale (joining against the huge under-cap list would shuffle
      // the whole vocabulary instead)
      val over = shingles.groupBy(col("sh"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > dfCap)
        .select(col("sh"))
      // materialize the (tiny) exclusion list ONCE: the capped relation is
      // consumed by several downstream subtrees (sizes + both self-join
      // sides in jaccardPairs), and the df-cap groupBy is a full shuffle
      // of the shingle stream — without the barrier each consumer re-runs
      // that shuffle (measured 3× at sf1; AQE exchange reuse does not
      // reach across the aliased consumers). Batch-only: the returned
      // frame is broadcast downstream either way.
      val overM =
        if (over.isStreaming) over else over.localCheckpoint(true)
      (shingles.join(broadcast(overM), Seq("sh"), "left_anti"),
        if (overM eq over) None else Some(overM))
    }

  /** Exact n-gram Jaccard near-dup pairs: block on shared shingles (the
    * inverted-index join — only pairs sharing >= 1 shingle are scored, never
    * the full cross product), count common shingles per pair, Jaccard =
    * common / (|a| + |b| - common). Emits (i, j, jc) with i < j.
    *
    * With `dfCap > 0`, Jaccard is computed over the capped shingle sets
    * (sizes counted after the cap), keeping the score internally exact for
    * the retained vocabulary.
    *
    * The shingle relation has 3-4 consumers (the df-cap pass, the per-doc
    * sizes, and both sides of the inverted-index self-join), so it is
    * persisted memory-and-disk: tokenize+shingle runs ONCE per corpus scan
    * instead of once per consumer. At 100 TB the same persist spills the
    * (doc_id, shingle) projection to local executor disk — still far
    * cheaper than re-tokenizing the raw text four times.
    *
    * The RESULT is persisted and eagerly materialized, and the heavyweight
    * shingle intermediate is released before returning (disk-backed blocks
    * are not LRU-evicted, so a never-unpersisted intermediate accumulates
    * executor disk across calls in a long-lived session). Call
    * `.unpersist()` on the returned frame when done with it — it is
    * near-dup pairs, orders of magnitude smaller than the corpus.
    *
    * SINGLE-MATERIALIZATION contract (here and in [[minhashLsh]]): the
    * internal barriers (`sizes`, the df-cap list; `cands` /
    * `candShingleSets` in minhashLsh) are checkpoint blocks released
    * before returning, and they remain in the returned frame's truncated
    * lineage — so the persisted result can be read any number of times,
    * but after `.unpersist()` (or executor block loss) it cannot be
    * RECOMPUTED ("checkpoint block not found" instead of a silent
    * recompute). Collect or write the pairs before unpersisting; a caller
    * that needs recomputability re-runs the operator (CurationStream's
    * hook discipline).
    */
  def jaccardPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.3,
                   dfCap: Int = 0): DataFrame = {
    val s0 = docShingles(docs, k).persist(StorageLevel.MEMORY_AND_DISK)
    val (s, overHandle) = capDfWithHandle(s0, dfCap)
    // per-doc capped set sizes: REFERENCED TWICE below (na and nb sides).
    // Materialized once — the relation is one row per doc (tiny next to
    // the shingle stream), and without the barrier each reference re-runs
    // the groupBy shuffle over the full shingle stream (exchange reuse
    // does not span the two aliased join inputs under AQE; measured 2×).
    val sizes = s.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val common = s.as("a").join(s.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("common"))
    val out = common
      .join(sizes.withColumnRenamed("doc_id", "i").withColumnRenamed("n", "na"), "i")
      .join(sizes.withColumnRenamed("doc_id", "j").withColumnRenamed("n", "nb"), "j")
      .withColumn("jc",
        col("common").cast(DoubleType) / (col("na") + col("nb") - col("common")))
      .filter(col("jc") >= threshold)
      .select(col("i"), col("j"), col("jc"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize while the shingle frame is still pinned
    releaseCheckpoint(sizes)
    overHandle.foreach(releaseCheckpoint)
    s0.unpersist(false)
    out
  }

  /** MinHash signatures: for each doc, `numPerms` minima of the permuted
    * shingle ids. Computed as `numPerms` min-aggregates in ONE groupBy (no
    * row explosion, map-side partial min) — the plan is a single shuffle on
    * doc_id regardless of the permutation count, and id assignment is a
    * map-only md5 projection (no dictionary join).
    */
  def minhashSignatures(docs: DataFrame, k: Int, numPerms: Int): DataFrame =
    minhashSignaturesFrom(docShingles(docs, k), numPerms)

  /** Signature aggregation over an existing (doc_id, sh) relation — lets
    * callers that also need the shingles for verification (minhashLsh)
    * share one persisted frame instead of re-tokenizing the corpus.
    */
  def minhashSignaturesFrom(shingles: DataFrame, numPerms: Int): DataFrame = {
    val s = shingles.withColumn("sid", strId(col("sh")))
    val aggs = (0 until numPerms).map(i => min(perm(i, col("sid"))).as(s"mh$i"))
    s.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** [[minhashSignaturesFrom]] as a PURE PROJECTION — no explode, no
    * groupBy, no shuffle: all `numPerms` signature minima in one pass
    * over the (distinct) shingle array via the NATIVE kernel
    * [[graft.functions.MinhashSig]] (a higher-order fold here
    * interpreted its lambdas per element — measured ~8× slower than the
    * aggregation PLAN, inverting the point of the shuffle-free form).
    * Bit-identical to the aggregation form on every doc that HAS
    * shingles (DedupStreamSpec asserts it); docs with fewer than `k`
    * tokens get a NULL signature — the analog of the aggregation form
    * omitting them. Usable where a shuffle is not: per-row enrichment
    * and STREAMING ingest ([[minhashNearDupStream]]).
    */
  def withMinhash(docs0: DataFrame, textCol: String = "text",
                  out: String = "minhash", k: Int = 3,
                  numPerms: Int = 16, evalOnce: Boolean = false): DataFrame = {
    // compute-dense per-row kernels under-parallelize on few-file corpora
    // exactly like the shingle explode does — widen first (no-op on
    // streaming inputs and on any corpus that already has enough splits);
    // without this a single parquet file serializes the whole projection
    // on ONE task
    val docs = widen(docs0)
    val sig = graft.functions.MinhashSig(
      array_distinct(Text.shingles(Text.tokens(col(textCol)), k)), numPerms)
    // evalOnce: nondeterministic fence for callers whose downstream filter
    // on the signature would otherwise substitute the kernel into a pushed
    // Filter (one extra full kernel pass) — the STREAMING gates, where the
    // batch operators' barrier/sentinel fixes are unavailable
    docs.withColumn(out, if (evalOnce) graft.functions.EvalOnce(sig) else sig)
  }


  /** Streaming NEAR-dup gate (MinHash/Jaccard) — the Jaccard-threshold
    * sibling of [[nearDupStream]], matching the at-ingest posture of the
    * reference's per-poll detection loop
    * (ryu/src/deployed_controller/DIPA_Controller.py:452-501 runs per
    * poll, not per corpus): emits (dup_id, of_id, est_jaccard) for every
    * arriving document whose signature-estimated Jaccard against a
    * previously seen document reaches `threshold`.
    *
    * Shape: [[withMinhash]] is the map-only signature projection (no
    * pre-state shuffle — a pre-state aggregation would make the query
    * multi-stateful); the signature splits into `bands` bands of
    * `numPerms/bands` rows, and each (band, band-signature) bucket is one
    * keyed state entry holding the (id, full signature) of docs seen
    * there. An arriving doc verifies est-Jaccard (matching-component
    * fraction — the standard unbiased MinHash estimator) against ONLY its
    * bucket's occupants, never the corpus and never the texts. Banding
    * semantics mirror [[minhashLsh]]: a pair is a candidate iff some band
    * signature matches exactly (false-negative probability (1-s^r)^b);
    * the verify differs — the batch form re-scores candidates with EXACT
    * shingle Jaccard, while at ingest the signatures ARE the stored
    * evidence, so the estimate (±1/sqrt(numPerms) st.dev.) is the
    * documented trade for never touching stored text. First-wins within a
    * micro-batch by id order; a flagged doc still registers as a
    * representative; pairs can repeat across bands — `.distinct()` per
    * batch if consumed as a set. State per doc is `bands` entries of
    * `numPerms` longs; `idleTimeoutMs` evicts cold buckets.
    */
  def minhashNearDupStream(docs: DataFrame, k: Int = 3, numPerms: Int = 16,
                           bands: Int = 4, threshold: Double = 0.5,
                           idCol: String = "doc_id", textCol: String = "text",
                           idleTimeoutMs: Option[Long] = None)
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val r = numPerms / bands
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = withMinhash(docs.select(col(idCol).cast("long").as("id"),
        col(textCol)), textCol, "minhash", k, numPerms, evalOnce = true)
      // token-less docs: neither flagged nor stored; evalOnce keeps the
      // filter from re-running the kernel below the projection
      .filter(col("minhash").isNotNull)
      .select(col("id"), col("minhash"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      // bucket key = band + its signature rows, the string twin of
      // minhashLsh's (band, concat_ws sig) equi-join key
      .withColumn("bucket", concat_ws(",", col("band").cast("string"),
        slice(col("minhash"), col("band") * r + 1, lit(r)).cast("array<string>")))
      .select(col("bucket"), col("id"), col("minhash")).as[(String, Long, Seq[Long])]
    graft.streaming.StateMachines
      .runMachine[String, (String, Long, Seq[Long]), Seq[(Long, Seq[Long])],
        (Long, Long, Double)](
        banded, key = _._1, order = _._2, init = Seq.empty,
        idleTimeoutMs = idleTimeoutMs) { case (reps, (_, id, sig)) =>
        // REPLAY GUARD: an upstream-stage replay can re-deliver a doc
        // that already registered in this bucket (file-stream sources
        // track files by PATH, and a replayed overwrite batch gets fresh
        // part file names). An id the bucket already holds has already
        // delivered its verdict — emit NOTHING and change nothing.
        // Matching it against reps registered AFTER its original arrival
        // would emit a flag the original pass never produced and dedup
        // away a legitimate keeper (its own near-dups flagged AGAINST it
        // originally; on replay the roles would invert).
        if (reps.exists(_._1 == id)) (reps, Nil)
        else {
          val hits = reps.flatMap { case (rid, rsig) =>
            val est = rsig.iterator.zip(sig.iterator)
              .count { case (a, b) => a == b }.toDouble / numPerms
            if (est >= threshold && rid != id) Some((id, rid, est)) else None
          }
          (reps :+ ((id, sig)), hits)
        }
      }
  }

  /** MinHash + LSH banding: split the signature into `bands` bands of
    * `numPerms/bands` rows; docs sharing any band signature become candidate
    * pairs; candidates are verified with exact Jaccard >= threshold.
    *
    * Scale shape: candidates ~ O(near-dups), not O(n^2), and the verify
    * stage touches ONLY candidate docs — per-doc shingle sets are collected
    * for the candidate universe and each pair is scored by one
    * array_intersect, so no all-pairs-sharing-a-shingle join ever runs.
    * Emits (i, j, jc) with i < j — identical rows to `jaccardPairs` minus
    * LSH false negatives (probability (1-s^r)^b for true similarity s).
    */
  def minhashLsh(docs: DataFrame, k: Int = 3, numPerms: Int = 32,
                 bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val r = numPerms / bands
    // one tokenize+shingle pass shared by signature build AND verify;
    // released before returning (same discipline as jaccardPairs — the
    // returned pairs frame is persisted+materialized, caller unpersists)
    val s0 = docShingles(docs, k).persist(StorageLevel.MEMORY_AND_DISK)
    val sig = minhashSignaturesFrom(s0, numPerms)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until r).map(j => col(s"mh${b * r + j}")): _*).as("sig"))
    }
    val banded = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    // the candidate pair set is O(near-dups) — TINY next to the corpus —
    // and it feeds THREE downstream subtrees (the verify join plus both
    // sides of the shingle-set lookup). Materialized once: without the
    // barrier each consumer re-ran the ENTIRE signature+banding pipeline
    // (measured: the 32-perm signature map stage executed 6× per
    // minhashLsh call at sf1 — exchange reuse does not reach across the
    // aliased verify subtrees under AQE).
    val cands = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
      .localCheckpoint(true)

    // verify: shingle sets for candidate docs only, one array_intersect per
    // candidate pair (LSH banding's work reduction actually reaches the
    // verify stage — no full inverted-index self-join)
    val candDocs = cands
      .select(explode(array(col("i"), col("j"))).as("doc_id"))
      .distinct() // one pass over cands for both pair sides (no union re-read)
    // same barrier logic: one row per candidate DOC, referenced by both
    // pair sides — one semi-join pass over the shingle frame instead of two
    val candShingleSets = s0
      .join(candDocs, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(collect_set(col("sh")).as("shs"))
      .localCheckpoint(true)
    val out = cands
      .join(candShingleSets.select(col("doc_id").as("i"), col("shs").as("sa")), "i")
      .join(candShingleSets.select(col("doc_id").as("j"), col("shs").as("sb")), "j")
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jc", col("common").cast(DoubleType) /
        (size(col("sa")) + size(col("sb")) - col("common")))
      .filter(col("jc") >= threshold)
      .select(col("i"), col("j"), col("jc"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize while the shingle frame is still pinned
    releaseCheckpoint(cands)
    releaseCheckpoint(candShingleSets)
    s0.unpersist(false)
    out
  }

  /** SimHash (64-bit): per distinct token, each bit's hash contributes +/-1;
    * the signature bit is 1 iff the sum is positive. Computed as `bits`
    * sum-aggregates in one groupBy (map-side partial sums, one shuffle on
    * doc_id), then OR-packed into a long — bit 63 lands in the sign bit,
    * which every downstream op (xor, bit_count, shift+mask) treats as a
    * plain bit in both engines.
    *
    * Since round 8 this aggregation plan is the REFERENCE implementation:
    * the production path is the shuffle-free native-kernel projection
    * ([[withSimhash]]), and DedupStreamSpec pins the two bit-identical —
    * a meaningful cross-implementation check precisely because they
    * compute the same signature through entirely different plans.
    */
  def simhashSignatures(docs: DataFrame, bits: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 64, "signature is packed into one long")
    val t = widen(docs).select(col("doc_id"),
        explode(array_distinct(Text.tokens(col("text")))).as("tok"))
      .withColumn("tid", strId(col("tok")))
    val aggs = (0 until bits).map { j =>
      sum(when(perm(j, col("tid")) % 2 === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val sums = t.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val packed = (0 until bits).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ bitwiseOR _)
    sums.select(col("doc_id"), packed.as("simhash"))
  }

  /** [[simhashSignatures]] as a PURE PROJECTION — no explode, no groupBy,
    * no shuffle: all `bits` vote counters accumulate in a single pass
    * over the (distinct) token array via the NATIVE kernel
    * [[graft.functions.SimhashSig]] (a higher-order fold here
    * interpreted its lambdas per token × per bit, which made the
    * map-only form slower than the aggregation plan it replaced — the
    * same inversion [[withMinhash]] hit, fixed the same way).
    * Bit-identical to the aggregation form (DedupStreamSpec asserts
    * kernel == aggregation plan), and now the fast BATCH path too:
    * [[simhashPairs]] builds its signatures here, dropping the
    * token-explode shuffle entirely. Usable where a shuffle is not:
    * per-row enrichment, and STREAMING ingest ([[nearDupStream]]) where
    * a pre-state aggregation would make the query multi-stateful.
    *
    * Zero-token docs (empty or punctuation-only text) get a NULL
    * signature — the exact analog of [[simhashSignatures]] omitting them
    * (explode of an empty token array emits no row), so the parity with
    * the aggregation form is total: null here ⟺ absent there. A packed
    * 0 would instead make every token-less doc a Hamming-0 "near-dup" of
    * every other token-less doc downstream.
    */
  def withSimhash(docs0: DataFrame, textCol: String = "text",
                  out: String = "simhash", bits: Int = 64,
                  evalOnce: Boolean = false): DataFrame = {
    require(bits >= 1 && bits <= 64, "signature is packed into one long")
    val docs = widen(docs0) // see withMinhash — no-op on streaming inputs
    val sig = graft.functions.SimhashSig(
      array_distinct(Text.tokens(col(textCol))), bits)
    // evalOnce: see withMinhash — the streaming gates' anti-double-eval fence
    docs.withColumn(out, if (evalOnce) graft.functions.EvalOnce(sig) else sig)
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, found via
    * block banding: the 64 bits split into 4 blocks of 16; by pigeonhole any
    * pair within Hamming 3 shares at least one identical block, so the
    * banded join is EXACT for maxHamming <= 3 (no false negatives) while
    * avoiding the O(n^2) cross product. 16-bit blocks keep band-collision
    * floods away at corpus scale (2^16 buckets per block vs 16 for the old
    * 4-bit layout).
    */
  /** PRECONDITION: doc_id >= 0 (every graft id source guarantees it — the
    * order-packing contract bounds ids to [0, 2^42)). The null-signature
    * band sentinel below is `-doc_id - 2`, provably outside the 0..65535
    * block range ONLY for non-negative ids; a token-less doc with doc_id
    * in [-65537, -2] would otherwise alias a real block value and could
    * emit a spurious pair. Enforced at run time on exactly the rows that
    * depend on it (null-signature rows pay one extra comparison; the hot
    * path pays nothing).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-block banding is exact only for hamming <= 3")
    // projection-form signatures (native kernel): the whole signature
    // stage is map-only — the banded self-join below is the query's ONLY
    // shuffle. The aggregation form (simhashSignatures) is retained as
    // the independent reference implementation the spec cross-checks.
    //
    // NO isNotNull(simhash) filter, and a NON-NULLABLE band key (round
    // 13): any predicate referencing the signature alias — written here
    // or inferred by constraint propagation from the band-join key —
    // substitutes into a pushed-down Filter BELOW the widen exchange, so
    // the signature kernel (a full tokenize of the text) ran once per
    // row on the PRE-shuffle side (a single task on a one-file corpus)
    // and again in the projection, on BOTH self-join sides: up to 4
    // kernel passes over the corpus where one per side suffices — the
    // guide's §4.4 derived-column duplication, with a native kernel.
    // Dropping the filter alone does not help (the optimizer re-infers
    // isnotnull(v) from `a.v === b.v` and pushes the substituted kernel
    // right back down), so the band key handles nulls itself AND is
    // provably non-nullable, which constant-folds the inferred filter
    // away: a null signature (token-less doc) gets a PER-DOC negative
    // sentinel (-doc_id - 2, never in the 0..65535 block range and never
    // shared by two docs, so such rows join nothing — row-identical
    // output to the old explicit filter), and the outer coalesce(-1)
    // arm is reachable only for null doc_ids, which the a.doc_id <
    // b.doc_id join condition already excludes. DedupStreamSpec pins
    // both the pair rows and the kernel-free pre-exchange plan.
    val sig = withSimhash(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("simhash"))
    val blocks = (0 until 4).map { b =>
      struct(lit(b).as("blk"),
        coalesce(
          when(col("simhash").isNull,
            // sentinel precondition check (see scaladoc): evaluated only
            // on null-signature rows, so the guard is free on real docs
            when(col("doc_id") < 0, raise_error(concat(
              lit("simhashPairs requires doc_id >= 0 (null-signature band " +
                "sentinel would alias a block value); got "),
              col("doc_id").cast("string"))).cast("long"))
              .otherwise(-col("doc_id") - 2))
            .otherwise(shiftright(col("simhash"), 16 * b).bitwiseAND(lit(65535L))),
          lit(-1L)).as("v"))
    }
    val banded = sig.select(col("doc_id"), col("simhash"),
        explode(array(blocks: _*)).as("bs"))
      .select(col("doc_id"), col("simhash"),
        col("bs.blk").as("blk"), col("bs.v").as("v"))
    banded.as("a").join(banded.as("b"),
        col("a.blk") === col("b.blk") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        // coalesce(…, 0) is identity on every row that can reach here
        // (null-signature docs never join — per-doc block sentinels
        // above), but it makes `hamming` provably NON-nullable, so the
        // isnotnull the optimizer infers from the <= filter folds away
        // instead of substituting the signature kernel into a Filter
        // below the widen exchange (see the sig comment above)
        bit_count(coalesce(col("a.simhash"), lit(0L))
          .bitwiseXOR(coalesce(col("b.simhash"), lit(0L)))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Transitive duplicate CLUSTERS from a near-dup pair list
    * ((i, j) + anything): every doc that appears in a pair is labelled
    * with the MINIMUM doc id reachable through the pair graph — connected
    * components, the closure the pairwise operators above deliberately
    * stop short of (their greedy keeper rules are one-pass; a chain
    * a~b~c dedups fully only under the closure).
    *
    * Implementation: iterative min-label propagation with pointer
    * jumping FUSED into the propagation join. Labels start as self; each
    * sweep unions the (symmetric) id↔label pointer links into the edge
    * list and takes one min-aggregate of neighbor labels over that
    * augmented graph — so a single join+aggregate simultaneously moves
    * each chain's min one hop (neighbor-min) AND shortcuts every node to
    * its label's label (pointer jumping, O(log diameter) sweeps).
    * Pointer rows stay inside the component (labels only ever hold
    * reachable ids) and labels decrease monotonically toward the
    * component min, so the augmentation accelerates but cannot change
    * the fixpoint: at convergence every real edge has equal labels on
    * both endpoints — true connected components. The loop stops at a
    * fixpoint, detected by a per-sweep changed-count. The driver-side
    * loop is the legitimate iterative-algorithm shape (same as
    * [[graft.sim.Similarity.refineCentroids]]'s sweep loop): each
    * iteration is a full distributed pass, the driver only compares a
    * count; `maxIters` bounds pathological chains, and hitting it throws
    * rather than silently returning half-merged clusters.
    *
    * Cost shape (round-8 fusion): each sweep is ONE materialization
    * barrier — the propagate+jump frame is built in a single plan
    * (carrying the previous label as `old`), eagerly `localCheckpoint`ed,
    * and the fixpoint count is then a shuffle-free local scan of the
    * checkpointed blocks. Round 7 paid 3 barriers per sweep (neighbor-min
    * checkpoint, jump checkpoint, change-count join job); fusing them
    * roughly halves per-sweep wall time at equal sweep counts. Eager
    * checkpointing stays mandatory: without lineage truncation the
    * logical plan doubles per sweep (labels feed both join sides) and an
    * iterative query compounds to an exponentially large plan — the
    * standard Spark iterative-algorithm trap. A SECOND iterative trap
    * hides inside the first's standard fix: `localCheckpoint` preserves
    * origin Catalyst STATISTICS, and the sweep plan's join products
    * compound that BigInt ~4x in bit length per sweep until driver-side
    * stats arithmetic dominates (minutes per sweep by sweep ~10 at the
    * 100x probe) — so the loop-carried frame is rebuilt from the
    * checkpointed RDD each sweep, resetting stats to the bounded
    * default (see `statsReset` in the body). localCheckpoint is
    * executor-local (fast, no DFS write); a production run that must
    * survive executor loss mid-computation sets
    * `spark.graft.cc.reliableCheckpoint=true` (plus
    * `sparkContext.setCheckpointDir`) and every barrier becomes a
    * reliable `checkpoint()` — same shape, same results
    * (DupClustersSpec pins it), checkpoint files live under the
    * checkpoint dir until cleaned per Spark's cleaner conf.
    *
    * Emits (doc_id, cluster). Docs in no pair are singletons — trivially
    * their own cluster — and are omitted; union them back from the
    * corpus if a total assignment is needed ([[dedupByClusters]] does).
    *
    * The result is a `localCheckpoint`-backed DataFrame: its blocks
    * live until the driver GC's the backing RDD (ContextCleaner) or the
    * caller releases them explicitly with [[releaseCheckpoint]] —
    * `Dataset.unpersist` does NOT free checkpoint blocks (it only
    * uncaches `persist()`'d plans). Call sites that run many closures
    * in one session (the compaction stage does) should release each
    * result once consumed.
    */
  /** Explicitly release the materialized blocks behind a
    * `localCheckpoint`-backed frame. `Dataset.unpersist` only uncaches
    * CacheManager entries (plans cached via `persist()`) — a
    * checkpoint's blocks belong to the underlying RDD and are otherwise
    * freed only when the driver GC's the RDD reference (ContextCleaner's
    * weak-reference sweep), which an iterative loop or a long-lived
    * compaction query should not wait for. Walks the analyzed plan and
    * unpersists every checkpoint-scan RDD it holds (no-op on frames
    * with no checkpoint behind them; reliable `checkpoint()` FILES are
    * cleaned per Spark's cleaner conf, not here).
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Sweep count of the most recent [[dupClusters]] convergence on this
    * JVM — bench telemetry only (the `sf1_d7_sweeps` row attributes a d7
    * wall-time regression to sweep count vs per-sweep cost without a
    * debug rerun). Driver-side, single-writer; not part of any result.
    */
  @volatile var lastSweeps: Int = -1

  def dupClusters(pairs: DataFrame, maxIters: Int = 25,
                  iCol: String = "i", jCol: String = "j"): DataFrame = {
    // localCheckpoint, NOT persist: each sweep embeds `edges` inside a
    // fresh union (the pointer links below), and Dataset.union flattens
    // nested unions EAGERLY (CombineUnions at Dataset construction) — so
    // the cached Union(i→a, j→b) subtree never reappears in the sweep
    // plan and a persist() is silently bypassed, recomputing the whole
    // upstream pair pipeline (SimHash/MinHash joins) once per sweep.
    // Measured at sf1: pair recompute dominated every sweep. A
    // checkpointed RDD is immune to plan rewrites: the pair graph is
    // computed exactly once, every sweep scans the materialized blocks.
    // (checkpoint the PAIRS, half the rows; the symmetric edge view is
    // two free projections of the materialized blocks)
    // barrier flavor: executor-local by default; reliable (DFS-backed,
    // survives executor loss mid-computation) behind one conf
    val reliable = pairs.sparkSession.conf
      .getOption("spark.graft.cc.reliableCheckpoint").contains("true")
    def barrier(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    val p0 = barrier(
      pairs.select(col(iCol).cast("long").as("i"), col(jCol).cast("long").as("j")))
    // LOCAL SOLVE under a size gate (round 14): the pair list is already
    // materialized, so its row count is one cheap scan — and a pair set
    // under conf `spark.graft.cc.localSolveMaxPairs` (default 4M pairs)
    // solves exactly in milliseconds with a min-root union-find instead
    // of paying 5+ distributed sweeps of ~0.5-1 s fixed cost each. This
    // is size-adaptive, not core-count adaptive: on a 1000-executor
    // cluster a 1M-pair closure is STILL communication-bound, and above
    // the gate the sweep loop below runs unchanged (DupClustersSpec pins
    // local == distributed on randomized graphs). A null id anywhere
    // falls back to the distributed path so the degenerate-input
    // semantics stay byte-identical.
    // Driver heap (measured on a 64-bit JVM with compressed oops): each
    // partition ships its pairs as two primitive long arrays, 16 B per
    // pair (32 B while the per-partition arrays are concatenated); the
    // solve adds a 16 B-per-pair id copy that is sorted and deduplicated
    // into 8 B per node, and an Int parent array (4 B per node). The
    // labels go back as the id array and an Int root array (12 B per
    // node) in one broadcast; with the broadcast's compressed pieces the
    // driver retains ~20 B per node (measured over 1M nodes: 20 B after
    // the return, 20-25 B after the first action, against 85 B and 154 B for
    // the local relation of tuples this replaced). At the 4M-pair default
    // that is 64 MB of pairs (128 MB at the collect's peak) and ~80 MB of
    // labels at one node per pair, ~160 MB at two nodes per pair.
    val localMaxPairs = pairs.sparkSession.conf
      .getOption("spark.graft.cc.localSolveMaxPairs")
      .map(_.toLong).getOrElse(4000000L)
    if (p0.count() <= localMaxPairs) {
      val parts = p0.rdd.mapPartitions { rows =>
        val is = Array.newBuilder[Long]; val js = Array.newBuilder[Long]
        var clean = true
        rows.foreach { r =>
          if (r.isNullAt(0) || r.isNullAt(1)) clean = false
          else { is += r.getLong(0); js += r.getLong(1) }
        }
        Iterator(if (clean) Some((is.result(), js.result())) else None)
      }.collect()
      if (parts.forall(_.isDefined)) {
        val is = Array.concat(parts.map(_.get._1): _*)
        val js = Array.concat(parts.map(_.get._2): _*)
        val all = is ++ js
        java.util.Arrays.sort(all)
        var n = 0
        all.foreach(id => if (n == 0 || all(n - 1) != id) { all(n) = id; n += 1 })
        val ids = java.util.Arrays.copyOf(all, n)
        // union-find over id RANKS keeping the smaller root as parent:
        // rank order is id order, so every tree's root is its
        // component's minimum id and find(x) at the end IS the min-label
        // the distributed fixpoint converges to
        val parent = Array.range(0, n)
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (c != r) { val next = parent(c); parent(c) = r; c = next }
          r
        }
        var k = 0
        while (k < is.length) {
          val ri = find(java.util.Arrays.binarySearch(ids, is(k)))
          val rj = find(java.util.Arrays.binarySearch(ids, js(k)))
          if (ri < rj) parent(rj) = ri
          else if (rj < ri) parent(ri) = rj
          k += 1
        }
        (0 until n).foreach(x => find(x)) // now parent(x) is x's root
        releaseCheckpoint(p0)
        lastSweeps = 0 // telemetry: the closure was solved locally
        // the labels stay the two primitive arrays: node x is
        // (ids(x), ids(parent(x))), read back by a range over the ranks
        val spark = pairs.sparkSession
        val labels = spark.sparkContext.broadcast((ids, parent))
        val docId = udf((x: Long) => labels.value._1(x.toInt)).asNonNullable()
        val cluster = udf { (x: Long) =>
          val (ids, roots) = labels.value
          ids(roots(x.toInt))
        }.asNonNullable()
        return spark.range(n).select(docId(col("id")).as("doc_id"),
          cluster(col("id")).as("cluster"))
      }
    }
    val edges = p0.select(col("i").as("a"), col("j").as("b"))
      .union(p0.select(col("j").as("a"), col("i").as("b")))
    // statsReset: `localCheckpoint` PRESERVES the origin plan's Catalyst
    // statistics (so broadcast decisions keep working across checkpoints
    // in ordinary code), but in an ITERATIVE loop that preservation
    // compounds: each sweep's plan multiplies its join children's
    // sizeInBytes (BigInt products in SizeInBytesOnlyStatsPlanVisitor),
    // and the self-join below roughly SQUARES the carried value — the
    // stat's BIT LENGTH grows ~4x per sweep, and by sweep ~10 the driver
    // burns minutes per sweep inside BigInteger.multiply (observed at the
    // 100x century probe: sweep 9 = 37 s, sweep 10 = 98 s, sweep 11
    // stuck, all driver-side stats arithmetic at load 1). Rebuilding the
    // loop-carried frame from the checkpointed RDD drops originStats to
    // the bounded default, so every sweep's stats are one product of
    // small constants; the Row<->InternalRow conversion this adds is
    // per-label-row, negligible next to the join it feeds. The RETURNED
    // frame stays checkpoint-backed (callers unpersist it), whose origin
    // stats are computed from reset inputs — also bounded.
    def statsReset(ck: DataFrame): DataFrame =
      ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
    var labelsCk = barrier(edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id")))
    var labels = statsReset(labelsCk)
    // BROADCAST the node-sized relations while they are broadcast-class
    // (round 14): statsReset deliberately resets every loop-carried frame
    // to the DEFAULT size stat, so static planning sees the label side as
    // huge and shuffle-joins the edge list against it — measured 42 MB of
    // shuffle write per sweep at sf1 (the dominant per-sweep stage; AQE's
    // runtime rewrite still pays the map-side write before it can elect a
    // broadcast). The label relation is one row per node in the PAIR
    // graph — known exactly here from the materialized checkpoint — so
    // gate an explicit broadcast hint on the real node count: under the
    // gate every sweep joins the (checkpointed, never reshuffled) edge
    // list against a broadcast and the only exchange left is the
    // map-side-combined neighbor-min aggregate; above the gate (conf
    // `spark.graft.cc.broadcastMaxNodes`, default 4M nodes ≈ 64 MB of
    // packed labels) the previous shuffle shape stands — same results,
    // the hint never risks a query-time broadcast OOM at 100 TB.
    val nodes = labelsCk.count()
    val bGate = pairs.sparkSession.conf
      .getOption("spark.graft.cc.broadcastMaxNodes")
      .map(_.toLong).getOrElse(4000000L)
    def maybeB(df: DataFrame): DataFrame =
      if (nodes <= bGate) broadcast(df) else df
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIters) {
      // pointer links: id↔label rows folded into the edge list make the
      // single neighbor-min aggregate below ALSO perform pointer jumping
      // (label(v) picks up label(label(v)) through the v→label(v) row).
      // Symmetric like the real edges so propagation runs both ways.
      val ptr = labels.filter(col("id") =!= col("label"))
        .select(col("id").as("a"), col("label").as("b"))
      val g = edges
        .union(ptr)
        .union(ptr.select(col("b").as("a"), col("a").as("b")))
      val neighborMin = g
        .join(maybeB(labels.select(col("id").as("b"), col("label").as("nl"))), "b")
        .groupBy(col("a").as("id"))
        .agg(min(col("nl")).as("nl"))
      // m = one fused propagate+jump step against the OLD labels. Lazily
      // persisted, NOT checkpointed: both sides of the second jump below
      // reference it inside the SAME action, so it is computed once into
      // cache mid-job — no extra barrier.
      val m = labels
        .join(maybeB(neighborMin), Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // second, SEQUENTIAL pointer jump through the just-updated m
      // (label(v) := min(m(v), m(m(v)))) — squares the shortcut distance
      // per sweep instead of doubling it, still within one job. (A third
      // jump was measured in round 14: sweep count stayed 8 at sf1 while
      // each sweep got ~10% slower — the convergence constraint is the
      // one-hop-per-sweep neighbor propagation, not pointer-chain depth.)
      // SECOND propagation per sweep (round 14): under the broadcast gate
      // an extra neighbor-min hop costs one more scan of the checkpointed
      // edges + a broadcast-class aggregate — measured at sf1: sweeps
      // 8 → 5, wall 8.4 → 7.7 s, and every sweep saved is one fewer full
      // label-set barrier + fixpoint job (the lever that matters at the
      // 100x tier, where per-sweep fixed cost dominates the loop).
      val ptr2 = m.filter(col("id") =!= col("label"))
        .select(col("id").as("a"), col("label").as("b"))
      val g2 = edges.union(ptr2).union(ptr2.select(col("b").as("a"), col("a").as("b")))
      val nm2 = g2
        .join(maybeB(m.select(col("id").as("b"), col("label").as("nl2"))), "b")
        .groupBy(col("a").as("id"))
        .agg(min(col("nl2")).as("nl2"))
      val m2 = m.join(maybeB(nm2), Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("label"), coalesce(col("nl2"), col("label"))).as("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val pre = m2.as("x")
        .join(maybeB(m2.select(col("id").as("lid"), col("label").as("ll"))),
          col("x.label") === col("lid"), "left")
        .select(col("x.id").as("id"), col("x.old").as("old"),
          least(col("x.label"), coalesce(col("ll"), col("x.label"))).as("label"))
      val next = barrier(pre) // the sweep's ONE barrier (eager: truncates lineage)
      // fixpoint test over the just-checkpointed blocks: no join, no
      // shuffle — a local scan comparing the carried `old` column
      m.unpersist(false)
      m2.unpersist(false)
      changed = next.filter(col("label") =!= col("old")).count()
      releaseCheckpoint(labelsCk) // real block release, not the CacheManager no-op
      labelsCk = next
      labels = statsReset(next).select(col("id"), col("label"))
      it += 1
    }
    releaseCheckpoint(p0) // the pair graph: every sweep has scanned its last
    // bench telemetry (sf1_d7_sweeps): d7's wall time is sweeps ×
    // per-sweep job cost, so attributing a regression needs the sweep
    // count, which nothing else surfaces
    lastSweeps = it
    if (changed != 0) {
      releaseCheckpoint(labelsCk) // don't leak the last sweep's checkpoint blocks
      throw new IllegalArgumentException(
        s"requirement failed: dupClusters did not converge in $maxIters " +
          "sweeps — component diameter exceeds the bound; raise maxIters")
    }
    // checkpoint-backed (NOT the stats-reset view): callers free the
    // label blocks with releaseCheckpoint(result) once consumed —
    // Dataset.unpersist is a CacheManager no-op on checkpoint blocks
    labelsCk.select(col("id").as("doc_id"), col("label").as("cluster"))
  }

  /** Transitive-closure dedup: keep ONE doc per duplicate cluster (the
    * minimum id — deterministic, id-stable) plus every singleton. The
    * closure form of the pairwise keeper rules: a chain a~b~c keeps only
    * `a` here, where the greedy one-pass rule could keep `a` and `c`.
    * One [[dupClusters]] run + one distributed anti-join against the
    * non-keeper set (never collected — at a high dup rate it is
    * corpus-order big).
    *
    * The closure's checkpoint blocks (the FULL label set) are released
    * before returning: the non-keeper ids — a strict subset — are
    * materialized into cache with one count job, then
    * [[releaseCheckpoint]] frees the labels, so the returned plan
    * references only the cached drop set. That cache lives until session
    * cleanup; a session running MANY closures should use
    * [[dedupByClustersWithRelease]] and drop it explicitly per run.
    */
  def dedupByClusters(docs: DataFrame, pairs: DataFrame,
                      idCol: String = "doc_id"): DataFrame =
    dedupByClustersWithRelease(docs, pairs, idCol)._1

  /** [[dedupByClusters]] plus a release thunk for the cached non-keeper
    * id set (the closure label blocks are already freed before this
    * returns). Call the thunk once the result frame is consumed —
    * `Dataset.unpersist` on the RESULT would not reach the drop-set
    * cache entry (it uncaches the result's own plan, which was never
    * cached).
    *
    * Executor-loss recoverability follows the closure's checkpoint
    * flavor, unchanged by the early release: under the default
    * `localCheckpoint`, a lost executor was ALWAYS fatal to an
    * in-flight consumer (its label blocks have no lineage to recompute
    * from — with or without this release); under
    * `spark.graft.cc.reliableCheckpoint=true` the label data lives in
    * DFS checkpoint FILES that [[releaseCheckpoint]] does not touch, so
    * a lost cached drop-set partition recomputes from the files and the
    * consumer survives. Production closures should run reliable —
    * exactly the dupClusters scaladoc's guidance.
    */
  def dedupByClustersWithRelease(docs: DataFrame, pairs: DataFrame,
                                 idCol: String = "doc_id"): (DataFrame, () => Unit) = {
    val clusters = dupClusters(pairs)
    val dropped = clusters.filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id").as(idCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    dropped.count() // copy the drop set off the checkpoint blocks...
    releaseCheckpoint(clusters) // ...then free the full label set NOW
    (docs.join(dropped, Seq(idCol), "left_anti"),
      () => { dropped.unpersist(false); () })
  }

  /** Streaming NEAR-dup gate (embedding cosine) — completes the
    * at-ingest family (exact / SimHash-Hamming / MinHash-Jaccard /
    * embedding-cosine): emits (dup_id, of_id, cos) for every arriving
    * vector whose cosine against a previously seen vector reaches
    * `threshold`, using the SAME multi-table hyperplane index as the
    * batch [[graft.sim.Similarity.cosinePairsLsh]].
    *
    * Shape: the wide bucket is one codegen'd native expression per
    * vector (map-only, no pre-state shuffle), each (table, bucket) is a
    * keyed state entry holding the (id, vector) of docs seen there, and
    * the arriving vector verifies EXACT cosine against only its bucket's
    * occupants — the same left-to-right accumulation as the batch dot,
    * so scores are bit-identical to `cosinePairsLsh`'s
    * (DedupStreamSpec pins candidate-and-score parity on ordered
    * arrival). Recall is banding-carried, as in the batch form: near
    * duplicates agree on almost every sign bit and collide in ≥ 1 of the
    * `tables` tables w.h.p. First-wins in-batch by id; flagged vectors
    * still register; pairs can repeat across tables — `.distinct()` per
    * batch if consumed as a set. State per vector = `tables` entries of
    * `dim` floats; `idleTimeoutMs` evicts cold buckets.
    */
  def embedNearDupStream(vecs: DataFrame, threshold: Double, dim: Int,
                         planes: Int, tables: Int,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         idleTimeoutMs: Option[Long] = None)
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    require(planes * tables <= 63, "wide bucket must fit one long")
    val spark = vecs.sparkSession
    import spark.implicits._
    val mask = (1L << planes) - 1
    val banded = vecs
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("wide", graft.functions.LshBucket(col("v"), dim, planes * tables))
      .select(col("id"), col("v"), col("wide"),
        explode(sequence(lit(0), lit(tables - 1))).as("t"))
      .withColumn("bucket", col("t").cast("long") * (mask + 1) +
        expr(s"shiftrightunsigned(wide, t * $planes) & $mask"))
      .select(col("bucket"), col("id"), col("v"))
      .as[(Long, Long, Array[Float])]
    // exact cosine, the batch accumulation order (left-to-right doubles)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0; var i = 0
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    graft.streaming.StateMachines
      .runMachine[Long, (Long, Long, Array[Float]), Seq[(Long, Array[Float])],
        (Long, Long, Double)](
        banded, key = _._1, order = _._2, init = Seq.empty,
        idleTimeoutMs = idleTimeoutMs) { case (reps, (_, id, v)) =>
        // replay guard: an already-registered id emits nothing — see the
        // minhashNearDupStream comment (matching against later-registered
        // reps would invert the original verdict)
        if (reps.exists(_._1 == id)) (reps, Nil)
        else {
          val n = math.sqrt(dot(v, v))
          val hits = reps.flatMap { case (rid, rv) =>
            val c = dot(v, rv) / (n * math.sqrt(dot(rv, rv)))
            if (c >= threshold && rid != id) Some((id, rid, c)) else None
          }
          (reps :+ ((id, v)), hits)
        }
      }
  }

  /** Sub-document (chunk-level) exact dedup — the distributable shape of
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", §4.1 ExactSubstr; production
    * pipelines like Dolma/CCNet run the same rule at paragraph
    * granularity): the corpus is split into `k`-token chunks (the
    * natural-boundary analog on a corpus without newlines; with real
    * paragraphs, pass the paragraph split instead), every chunk whose
    * text already occurred EARLIER in the corpus — first occurrence =
    * minimum (doc_id, chunk index) — is dropped, and each document is
    * reassembled from its surviving chunks in original order. Documents
    * whose every chunk is a repeat disappear entirely (the whole-doc
    * degenerate case is exactly [[exact]] dedup). Cross-document catches
    * ride shared chunk alignment — true for copied prefixes/suffixes and
    * for natural-boundary splits, the same contract paragraph dedup has.
    *
    * Distributed shape: one posexplode (map-side), ONE hash shuffle on
    * the chunk text for the min-occurrence winner, one semi-join of
    * chunk rows against winners, one groupBy doc_id to reassemble —
    * every stage linear in corpus tokens, no similarity math, no
    * candidate blowup. Emits (doc_id, text) with the deduplicated text.
    */
  /** (doc_id, cidx, chunk) rows: the corpus split into k-token windows —
    * the map-only projection both [[chunkDedup]] and the at-ingest
    * [[chunkDedupStream]] build on.
    */
  private def docChunks(docs: DataFrame, k: Int,
                        idCol: String, textCol: String): DataFrame = {
    require(k >= 1, "chunk width must be positive")
    val toks = Text.tokens(col(textCol))
    widen(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(transform(
          sequence(lit(0),
            ((size(toks) + lit(k - 1)) / lit(k)).cast("int") - 1),
          i => array_join(slice(toks, i * k + lit(1), lit(k)), " ")))
          .as(Seq("cidx", "chunk")))
  }

  def chunkDedup(docs: DataFrame, k: Int = 16,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val chunks = docChunks(docs, k, idCol, textCol)
    // winner per distinct chunk text: the minimum (doc_id, cidx) pair,
    // packed as a struct min — one shuffle, map-side partial min
    val winners = chunks.groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("cidx"))).as("w"))
      .select(col("chunk"), col("w.doc_id").as("doc_id"), col("w.cidx").as("cidx"))
    chunks.join(winners, Seq("chunk", "doc_id", "cidx"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("cidx"), col("chunk")))),
          x => x.getField("chunk")), " ").as(textCol))
  }

  /** Streaming sub-document dedup gate — [[chunkDedup]] at ingest,
    * completing the at-ingest family (exact / SimHash / MinHash /
    * embedding / chunk): emits the SURVIVING (doc_id, cidx, chunk) rows
    * of each arriving document; a chunk whose text was already seen —
    * in an earlier micro-batch, or earlier in this batch by the same
    * min-(doc_id, cidx) rule the batch form uses — is dropped, and
    * first occurrences pass and register.
    *
    * Shape: the chunk projection is map-only (no pre-state shuffle);
    * each distinct chunk digest is ONE keyed-state entry holding the
    * winner's (doc_id, cidx) — ~28 bytes per distinct chunk ever seen,
    * never the text (the digest-per-distinct-content posture of
    * [[exactStream]]'s gate); `idleTimeoutMs` evicts cold chunks.
    * Storing the winner (not a boolean) makes an upstream REPLAY
    * idempotent: a re-delivered winner re-emits its original row, a
    * re-delivered loser stays dropped — never a new verdict (the same
    * replay posture as the near-dup gates' registered-id guard).
    * Because a document's chunks shard across state keys, in-stream
    * reassembly would need a second stateful stage — the caller
    * reassembles per batch instead (groupBy doc_id over the emitted
    * rows, exactly [[chunkDedup]]'s tail), the same
    * chain-through-batches posture as
    * [[graft.streaming.CurationStream]]. Within one batch the rule
    * matches the batch form exactly; ACROSS batches the gate is
    * greedy-by-arrival (an earlier-id doc arriving later loses to the
    * registered copy) — the same inherent at-ingest divergence every
    * gate in this family documents.
    */
  def chunkDedupStream(docs: DataFrame, k: Int = 16,
                       idCol: String = "doc_id", textCol: String = "text",
                       idleTimeoutMs: Option[Long] = None)
      : org.apache.spark.sql.Dataset[(Long, Int, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val chunks = docChunks(docs, k, idCol, textCol)
      .select(col("doc_id"), col("cidx"), col("chunk"), md5(col("chunk")).as("dig"))
      .as[(Long, Int, String, String)]
    // order encodes (doc_id, cidx) so equal chunks WITHIN a doc keep the
    // lowest index (reassembly position matters); 2^21 chunks ≈ a
    // 32M-token document, far above any real row. doc_id must fit the
    // remaining 42 bits and be non-negative: an id >= 2^42 would wrap
    // the packing (corrupting arrival order), and a negative id collides
    // with the (-1, -1) first-occurrence sentinel below
    graft.streaming.StateMachines
      .runMachine[String, (Long, Int, String, String), (Long, Int), (Long, Int, String)](
        chunks, key = _._4,
        order = r => { require(r._2 < (1 << 21), "document exceeds 2^21 chunks")
          require(r._1 >= 0 && r._1 < (1L << 42),
            "doc_id outside [0, 2^42) breaks the order packing")
          (r._1 << 21) | r._2.toLong },
        init = (-1L, -1), idleTimeoutMs = idleTimeoutMs) {
        case (w, (id, cidx, chunk, _)) =>
          if (w._1 < 0) ((id, cidx), Seq((id, cidx, chunk))) // first occurrence wins
          else if (w == ((id, cidx))) (w, Seq((id, cidx, chunk))) // replayed winner: re-emit
          else (w, Nil) // repeat (or replayed loser): stays dropped
      }
  }

  /** Embedding-cosine near-dup dedup: drop every vector that has a
    * more-canonical (lower-id) neighbor with cosine >= `threshold`, keep
    * the rest — the greedy one-pass keeper rule (deterministic, id-stable
    * under re-partitioning; NOT transitive closure — that needs an
    * iterative connected-components pass no single query expresses, which
    * is exactly what [[dupClusters]]/[[dedupByClusters]] provide).
    *
    * Candidate pairs come from the same multi-table hyperplane index as
    * [[graft.sim.Similarity.cosinePairsLsh]] — one shuffle on
    * (table, bucket), quadratic only within buckets — then one left-anti
    * join drops the dominated side. At near-dup thresholds (cos → 1) the
    * banding is near-lossless; at weak thresholds it is a candidate
    * blocker, and the oracle replays the identical index so the gate is
    * exact either way.
    */
  def embedDedup(vecs: DataFrame, threshold: Double, dim: Int,
                 planes: Int, tables: Int): DataFrame = {
    val dominated = graft.sim.Similarity
      .cosinePairsLsh(vecs, threshold, dim, planes, tables)
      .select(col("j").as("vec_id"))
    vecs.join(dominated, Seq("vec_id"), "left_anti")
  }
}
