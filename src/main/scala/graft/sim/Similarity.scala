package graft.sim

import graft.functions.{ArgTopCells, DotProduct, IntDotProduct, LshBucket, PqEncode}
import graft.streaming.CurationStream.committedEpochs
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType,
  LongType, StructField, StructType}

/** Embedding similarity: exact cosine, brute-force top-k ANN baseline, and
  * an LSH-bucketed approximate variant (the 100 TB scale path).
  *
  * Dot products are a sequential left-to-right double fold over the vector.
  * Per-element float→double conversion and multiplication are exact IEEE
  * operations, and both Spark's `aggregate` and DuckDB's `list_reduce` fold
  * arrays in index order, so the summed double is bit-identical across
  * engines — which is what makes cosine scores (and rank orders)
  * oracle-checkable without any decimal detour.
  */
object Similarity {

  /** Deterministic dot product of two float-array columns, as double. A
    * sequential higher-order fold over a zipped array — no explode, no
    * shuffle; index-ordered so the result is engine-independent. This is
    * the session-less fallback; the query paths below use the codegen'd
    * native expression (graft.functions.DotProduct), which computes the
    * identical left-to-right accumulation inside whole-stage codegen.
    */
  def dotExact(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0),
      (acc, x) => acc + x)

  /** Cosine similarity given precomputed norms. */
  def cosine(dot: Column, normA: Column, normB: Column): Column =
    dot / (normA * normB)

  /** Brute-force cosine top-k: every query row scored against the whole
    * corpus. Norms are precomputed per side (once per vector, not per pair);
    * the query side is broadcast (queries << corpus), so the corpus is
    * scanned exactly once with no shuffle — the right baseline plan even at
    * cluster scale when the query set fits in memory.
    * Emits (q_id, c_id, cos, rank<=k), rank ties broken by c_id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
      .withColumn("qn", sqrt(DotProduct(col("qv"), col("qv"))))
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("cv"))
      .withColumn("cn", sqrt(DotProduct(col("cv"), col("cv"))))
    rankTopK(c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cos", cosine(DotProduct(col("qv"), col("cv")), col("qn"), col("cn")))
      .select(col("q_id"), col("c_id"), col("cos")), k)
  }

  /** Near-duplicate embedding pairs above a cosine threshold, blocked on a
    * key column (e.g. a cluster/label/coarse-quantizer id): only same-block
    * pairs are scored — the IVF idea. Exact within blocks; pairs crossing
    * blocks are the accepted approximation (at scale the blocking key comes
    * from a coarse quantizer, making that loss explicit and tunable).
    */
  def cosinePairsBlocked(vecs: DataFrame, blockCol: String, threshold: Double,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // the -2.0 null-cosine sentinel in the filter below is row-identical
    // only while the threshold exceeds it (cosine lives in [-1, 1], so any
    // meaningful threshold does; a threshold <= -2 would let null-cosine
    // rows — e.g. zero-norm vectors — pass)
    require(threshold > -2.0,
      s"threshold must be > -2.0 (cosine is in [-1, 1]); got $threshold")
    val v = vecs.select(col(idCol).as("id"), col(blockCol).as("blk"), col(vecCol).as("v"))
      .withColumn("n", sqrt(DotProduct(col("v"), col("v"))))
    v.as("a").join(v.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("cos",
        cosine(DotProduct(col("a.v"), col("b.v")), col("a.n"), col("b.n")))
      // threshold over a NON-nullable operand (round 13): `cos >= th`
      // makes the optimizer infer isnotnull(cos), which substitutes the
      // norm alias and lands `isnotnull(sqrt(dotproduct(v,v)))` in a
      // Filter on BOTH scan sides — a second full-corpus dot pass per
      // side (the d4 kernel-in-filter disease; plans/r13/s2_*). A null
      // cos (null vector/norm) fails `>= th` either way, so coalescing
      // to a sentinel below every real threshold is row-identical and
      // folds the inferred filter away.
      .filter(coalesce(col("cos"), lit(-2.0d)) >= threshold)
      .select(col("a.id").as("i"), col("b.id").as("j"), col("cos"))
  }

  /** Hyperplane component for (plane, dimension): pseudo-random in
    * [-0.5, 0.5), derived from an LCG of the flat index — shared with the
    * oracle-SQL generator so both engines use bit-identical planes.
    */
  def planeComp(p: Int, d: Int, dim: Int): Double = {
    val h = (1103515245L * (p * dim + d + 1) + 12345L) % 2147483647L
    h.toDouble / 2147483647.0 - 0.5
  }

  /** Random-hyperplane LSH bucket id as an UNROLLED column expression:
    * `planes` sign bits of dot products with the [[planeComp]] hyperplanes.
    * Test-only twin of the codegen'd native expression
    * (graft.functions.LshBucket) — NativeExprSpec pins the native expr
    * against this unrolled form. Every query path uses the native expr:
    * this one builds planes*dim interpreted sub-expressions, which is the
    * shape round 2 flagged as a scale-killer.
    */
  def lshBucket(vec: Column, dim: Int, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val comps = (0 until dim).map(d => planeComp(p, d, dim))
      val dot = (0 until dim).map(d => element_at(vec, d + 1).cast(DoubleType) * lit(comps(d)))
        .reduce(_ + _)
      when(dot > 0, lit(1L << p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Plane count for a hyperplane-LSH table sized to its corpus:
    * ceil(log2(corpusSize / targetBucket)) sign bits put the EXPECTED
    * bucket occupancy near `targetBucket` on a direction-uniform corpus
    * (clustered corpora concentrate mass in few buckets — size against the
    * largest expected cluster instead). This is the knob a 100 TB caller
    * must derive, not pin: at fixed planes, bucket occupancy — and with it
    * the candidate count — grows linearly with the corpus. SimQueries
    * derives its bench geometry through this helper; recall is re-measured
    * per-round against the brute-force ground truth (`s3_recall`).
    * Clamped to [1, 20] — beyond 20 planes (10^6 buckets/table) add tables
    * or shard the corpus rather than sharpening one draw.
    */
  def planesFor(corpusSize: Long, targetBucket: Long = 1): Int = {
    require(corpusSize >= 1 && targetBucket >= 1, "sizes must be positive")
    val p = math.ceil(math.log(corpusSize.toDouble / targetBucket) / math.log(2.0)).toInt
    p.max(1).min(20)
  }

  /** All bucket-offset masks within Hamming `radius` of 0, over `planes`
    * bits — the multi-probe sequence (probe the query's own bucket, then
    * every bucket differing in <= radius sign bits). Generated
    * combinatorially (sum of C(planes, r<=radius) masks), never by
    * scanning 2^planes candidates — planes=32 with radius 2 yields 529
    * masks, not a 4-billion-iteration driver spin.
    */
  def probeMasks(planes: Int, radius: Int): Seq[Long] = {
    require(planes >= 1 && planes <= 62, "planes must fit a positive long")
    require(radius >= 0, "radius must be non-negative")
    def combos(from: Int, left: Int, acc: Long): Vector[Long] =
      if (left == 0) Vector(acc)
      else (from to planes - left).toVector
        .flatMap(b => combos(b + 1, left - 1, acc | (1L << b)))
    (0 to radius.min(planes)).flatMap(r => combos(0, r, 0L))
  }

  /** Multi-table, multi-probe hyperplane-LSH top-k — the configuration that
    * survives corpus growth (the single-table form above keeps its whole
    * recall budget in one bucket draw, so its planes cannot rise past
    * ~log2(corpus/bucket) without recall collapsing).
    *
    * `tables` independent hash tables of `planes` sign bits each are cut
    * from ONE wide native bucket expression (planes*tables <= 63 sign bits,
    * one codegen'd pass per vector); a corpus vector is indexed once per
    * table. On the query side, each table bucket is expanded into every
    * bucket within Hamming `probeRadius` (multi-probe: near-misses of a few
    * sign bits are where near neighbors land). Candidates come from an
    * EQUI-join on (table, bucket) — the corpus side is never theta-joined
    * or rescanned per probe: one broadcast hash join against the hinted
    * probe rows (see [[lshMultiScored]]).
    *
    * Shapes: corpus side = |C| * tables index rows (map-side explode, no
    * shuffle before the join); probe side = |Q| * tables * |masks| slim
    * (q_id, table, bucket) rows; scoring happens pre-dedup (a codegen'd
    * dot per matched index row) so the only wide shuffle carries
    * (q_id, c_id, cos) for the max-dedup + rank.
    */
  def lshTopKMulti(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
                   planes: Int, tables: Int, probeRadius: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   carry: Seq[String] = Nil,
                   candidateFilter: Option[Column] = None): DataFrame =
    rankTopK(lshMultiScored(queries, corpus, dim, planes, tables, probeRadius,
      idCol, vecCol, carry, candidateFilter), k)

  /** The deduped candidate relation behind [[lshTopKMulti]]: one
    * (q_id, c_id, cos) row per scored candidate pair. Exposed so recall
    * gates can also measure the CANDIDATE FRACTION — count / (|Q|·(|C|-1))
    * is the share of the corpus an index actually examined, the honest
    * denominator under any recall number.
    *
    * The probe rows and the query vectors are hinted `broadcast()`: the
    * query set is the driver-small side at every call site (|Q|·tables·
    * |masks| slim rows). Spark honors the hint regardless of size, so a
    * query set that outgrows the driver needs a plain join here.
    *
    * `carry` = metadata columns riding the corpus side of the bucket
    * index; `candidateFilter` = a predicate over them that prunes
    * candidates BEFORE scoring (the filtered-ANN shape on the LSH path,
    * completing `ivfTopKIndexed`'s `candidateFilter` for the corpora the
    * router sends to LSH). Top-k is over qualifying vectors only, and
    * because the filter lands on the corpus relation before the bucket
    * join, Catalyst pushes it into the corpus scan — filtered-out rows
    * are never bucketed, joined, or scored.
    */
  def lshMultiScored(queries: DataFrame, corpus: DataFrame, dim: Int,
                     planes: Int, tables: Int, probeRadius: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     carry: Seq[String] = Nil,
                     candidateFilter: Option[Column] = None): DataFrame = {
    require(planes * tables <= 63, "wide bucket must fit one long")
    val mask = (1L << planes) - 1
    def tableBucket(wide: Column, t: Int): Column =
      shiftright(wide, planes * t).bitwiseAND(lit(mask))
    def banded(wide: Column, as: String): Column =
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), tableBucket(wide, t).as(as))): _*))

    val qv = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
      .withColumn("qn", sqrt(DotProduct(col("qv"), col("qv"))))
      .withColumn("wide", LshBucket(col("qv"), dim, planes * tables))
    // slim probe rows: (q_id, t, bk) only — vectors rejoin after candidates
    val probes = qv
      .select(col("q_id"), banded(col("wide"), "qb").as("tb"))
      .select(col("q_id"), col("tb.t").as("t"), col("tb.qb").as("qb"))
      .select(col("q_id"), col("t"), col("qb"),
        explode(typedLit(probeMasks(planes, probeRadius))).as("m"))
      .select(col("q_id"), col("t"), col("qb").bitwiseXOR(col("m")).as("bk"))

    val cAll = corpus.select(col(idCol).as("c_id") +: col(vecCol).as("cv") +:
      carry.map(col): _*)
    // filter BEFORE bucketing: excluded vectors never enter the index
    // sweep — and on a stored corpus the predicate reaches the scan
    val c = candidateFilter.fold(cAll)(cAll.filter)
      .withColumn("cn", sqrt(DotProduct(col("cv"), col("cv"))))
      .withColumn("wide", LshBucket(col("cv"), dim, planes * tables))
      .select(col("c_id"), col("cv"), col("cn"), banded(col("wide"), "bk").as("tb"))
      .select(col("c_id"), col("cv"), col("cn"),
        col("tb.t").as("t"), col("tb.bk").as("bk"))

    c.join(broadcast(probes), Seq("t", "bk"))
      .filter(col("q_id") =!= col("c_id"))
      .join(broadcast(qv.select(col("q_id"), col("qv"), col("qn"))), Seq("q_id"))
      .withColumn("cos", cosine(DotProduct(col("qv"), col("cv")), col("qn"), col("cn")))
      .groupBy(col("q_id"), col("c_id"))
      .agg(max(col("cos")).as("cos")) // a pair can match in several tables
  }

  /** Rank a (q_id, c_id, cos) relation to per-query top-k, ties broken by
    * c_id — the shared tail of every ANN variant (public so a measured
    * scored relation can be ranked without recomputing the index).
    */
  def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("cos"), col("rank"))
  }

  /** Embedding near-dup PAIRS above a cosine threshold via the same
    * multi-table hyperplane index as `lshTopKMulti` — the self-join form
    * for corpus-wide near-dup sweeps when no blocking key exists
    * (`cosinePairsBlocked` needs one). Candidates are same-(table, bucket)
    * pairs with i < j, scored once per index hit and deduped by max. No
    * probe expansion: near-duplicates (cos ~ 1) agree on almost every
    * sign bit, so they collide in >= 1 of the `tables` tables with high
    * probability — the regime where banding alone carries recall, unlike
    * the weak-similarity top-k setting. One shuffle on (table, bucket),
    * quadratic only within buckets (~corpus/2^planes each at any scale).
    */
  def cosinePairsLsh(vecs: DataFrame, threshold: Double, dim: Int,
                     planes: Int, tables: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(planes * tables <= 63, "wide bucket must fit one long")
    val mask = (1L << planes) - 1
    val v = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("n", sqrt(DotProduct(col("v"), col("v"))))
      .withColumn("wide", LshBucket(col("v"), dim, planes * tables))
      .select(col("id"), col("v"), col("n"),
        explode(array((0 until tables).map(t => struct(lit(t).as("t"),
          shiftright(col("wide"), planes * t).bitwiseAND(lit(mask)).as("bk"))): _*)).as("tb"))
      .select(col("id"), col("v"), col("n"),
        col("tb.t").as("t"), col("tb.bk").as("bk"))
    v.as("a").join(v.as("b"),
        col("a.t") === col("b.t") && col("a.bk") === col("b.bk") &&
          col("a.id") < col("b.id"))
      .withColumn("pcos",
        cosine(DotProduct(col("a.v"), col("b.v")), col("a.n"), col("b.n")))
      .groupBy(col("a.id").as("i"), col("b.id").as("j"))
      .agg(max(col("pcos")).as("cos")) // a pair can collide in several tables
      .filter(col("cos") >= threshold)
  }

  /** IVF-flat ANN: a coarse quantizer of seeded centroids (corpus rows at
    * fixed ids — the sampled-centroid init every IVF build starts from),
    * each corpus vector assigned to its single nearest cell, queries
    * probing their `nprobe` nearest cells. Exact within probed cells; a
    * query touches ~nprobe/C of the corpus.
    *
    * This is [[buildIvfIndex]] then [[ivfTopKIndexed]] over a float32
    * layout that is never written: the same seeding and Lloyd refine
    * ([[trainCentroids]]), the same map-only cell assignment
    * ([[assignCells]]), the same probe ([[probeCells]]) and the same
    * float scorer ([[scoreFloat]]) — so it answers row for row like an
    * index built from the same corpus (IvfIndexSpec pins it). Corpus ids
    * must be unique (each row is its own candidate); query ids must be
    * unique too, and a duplicate fails the probe by name. Complements
    * `lshTopKMulti`: IVF wins when the corpus is clustered (cells match
    * density), LSH when it isn't.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              centroidPred: String, nprobe: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rankTopK(ivfRefinedScored(queries, corpus, centroidPred, nprobe, dim = 0,
      refineIters = 0, idCol = idCol, vecCol = vecCol), k)

  /** IVF-flat with Lloyd-refined centroids: seed cells from `centroidPred`
    * (a sampling predicate — the init every IVF build starts from), run
    * [[BuildRefineIters]] refinement sweeps (the index build's count),
    * then query as [[ivfTopK]]. Each sweep is one corpus pass (map-only
    * assignment, one shuffle for the cell means); one sweep is usually
    * enough to snap sampled seeds onto cluster structure when the corpus
    * has any — see PlantedClusters for the gate fixture.
    */
  def ivfTopKRefined(queries: DataFrame, corpus: DataFrame, k: Int,
                     centroidPred: String, nprobe: Int, dim: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rankTopK(ivfRefinedScored(queries, corpus, centroidPred, nprobe, dim,
      BuildRefineIters, idCol, vecCol), k)

  /** The scored candidate relation behind [[ivfTopK]] and
    * [[ivfTopKRefined]] — one (q_id, c_id, cos) row per (query, corpus
    * vector in a probed cell) pair. Exposed, like [[lshMultiScored]], so
    * recall gates can log the candidate fraction alongside the recall
    * they report. `refineIters = 0` keeps the seeds (`dim` is then
    * unused).
    */
  def ivfRefinedScored(queries: DataFrame, corpus: DataFrame,
                       centroidPred: String, nprobe: Int, dim: Int,
                       refineIters: Int = 1,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = collectCentEntries(trainCentroids(corpus, centroidPred, dim,
      refineIters, idCol, vecCol))
    val (qCells, qLoc, _) = probeCells(queries.sparkSession, queries, cents,
      nprobe, idCol, vecCol)
    scoreFloat(assignCells(corpus, cents, idCol, vecCol, Nil), qCells, qLoc)
  }

  /** Coarse-quantizer training shared by [[buildIvfIndex]] and the
    * in-memory path: seed centroids at the `centroidPred` rows of `train`,
    * then run `refineIters` [[refineCentroids]] sweeps over `train`.
    * Returns the (cid, cv0) relation, unmaterialized.
    */
  private def trainCentroids(train: DataFrame, centroidPred: String, dim: Int,
                             refineIters: Int,
                             idCol: String, vecCol: String): DataFrame = {
    var cents = train.filter(centroidPred)
      .select(col(idCol).as("cid"), col(vecCol).as("cv0"))
    for (_ <- 0 until refineIters)
      cents = refineCentroids(train, cents, dim, idCol, vecCol)
    cents
  }

  /** Build and PERSIST an IVF index: Lloyd-refined centroids plus every
    * corpus vector's cell assignment, written as parquet with the
    * assignments PARTITIONED BY CELL (each cell's files live under a
    * GENERATION subdirectory — see [[compactIvfIndex]] for why). This is
    * the build-once/query-many
    * split every ANN service runs: build pays the same sweeps as
    * [[ivfTopKRefined]] exactly once; each later query set probes its
    * `nprobe` cells and — because cells are parquet partitions — the scan
    * PRUNES to those cells' files (dynamic partition pruning off the
    * broadcast probe join; IvfIndexSpec asserts it in the plan). At
    * 100 TB a query touches nprobe/C of the index FILES, not just
    * nprobe/C of the rows.
    *
    * `trainFraction` < 1 trains the coarse quantizer on a DETERMINISTIC
    * hash sample of the corpus (seeds AND Lloyd sweeps see only the
    * sample; the final assignment sweep always sees every vector — each
    * vector must land in a cell). This is how a production vector store
    * sizes quantizer training: cell centroids are density estimates, and
    * a ~10% sample estimates density at ~10% of the dominant build cost
    * (the refine sweep is corpus × centroids). The sample is
    * [[graft.ops.Sampling.hashUnit]]-addressed — reproducible across
    * clusters, partitionings and engines (the `s12_ivf_sampled` oracle
    * replays the identical md5 cut in DuckDB), retry-safe, and stable
    * under append. At `trainFraction = 1` the build is bit-identical to
    * the untrained-parameter form (the s8 oracle row).
    *
    * `storage = "int8"` stores the SQ8-quantized payload instead of the
    * float vectors (the FAISS `IVF…,SQ8` pairing): centroids, seeding,
    * Lloyd sweeps and cell assignment are all computed on the exact
    * floats, but what lands in the cell files is the `q8` int array +
    * `q8_scale` + integer norm — ~4× less index resident set at 100 TB,
    * and candidate scoring at query time becomes integer-only
    * ([[ivfTopKIndexed]] dispatches on the manifest). The
    * quantization is `floor(x/s + 0.5)` — deterministic and
    * engine-portable, so the quantized index is still exact-oracle
    * checkable (`s14_ivf_q8_indexed`).
    *
    * Contract: corpus ids (`idCol`) are unique. Every row is stored as
    * its own candidate, so a repeated id is returned once per copy; the
    * build does not spend a job checking it.
    */
  def buildIvfIndex(corpus: DataFrame, centroidPred: String, dim: Int,
                    path: String,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    carry: Seq[String] = Nil,
                    trainFraction: Double = 1.0,
                    storage: String = "float32",
                    pqM: Int = 8, pqK: Int = 16): Unit = {
    require(trainFraction > 0 && trainFraction <= 1,
      s"trainFraction must be in (0, 1], got $trainFraction")
    require(Storages(storage),
      s"storage must be one of ${Storages.mkString("/")}, got $storage")
    requireCarryNames(carry)
    val spark = corpus.sparkSession
    val train =
      if (trainFraction >= 1.0) corpus
      else graft.ops.Sampling.sampleFraction(corpus, col(idCol), TrainSalt,
        trainFraction)
    val cents = trainCentroids(train, centroidPred, dim, BuildRefineIters,
      idCol, vecCol)
    // materialize the refinement ONCE (eager local checkpoint of the tiny
    // centroid relation), write the store from the materialized rows, and
    // seed the index handle with the same rows — the assignment sweep
    // below and every later call on this build read the handle, never
    // the just-written parquet (listing + schema inference + scan job).
    val centsCk = cents.localCheckpoint(true)
    centsCk.write.mode("overwrite").parquet(s"$path/centroids")
    val centEntries = collectCentEntries(centsCk)
    graft.dedup.Dedup.releaseCheckpoint(centsCk)
    // PQ codebooks train on the SAME sample as the coarse quantizer and
    // are persisted beside the centroids — appends and queries read the
    // stored codebooks, never retrain (codes stay valid under append).
    // Same discipline: train once into a checkpoint, write the store from
    // it, seed the handle from the identical rows.
    val books: Option[PqBooks] =
      if (storage != "pq") None
      else {
        val cb = trainPqCodebooks(train, dim, pqM, pqK, BuildRefineIters,
          idCol, vecCol).localCheckpoint(true)
        cb.write.mode("overwrite").parquet(s"$path/pq_codebooks")
        val b = pqBooksOf(cb, path)
        graft.dedup.Dedup.releaseCheckpoint(cb)
        Some(b)
      }
    // a REBUILD at the same path (the drift-rebuild lifecycle
    // appendToIvfIndex anticipates) must not inherit the previous
    // index's tombstones: `tombstones/` lives beside `assigned/`, so the
    // Overwrite below clears the rows but would leave a live non-empty
    // epoch silently masking ids legitimately present in the NEW corpus
    // until some compaction retired it. A rebuild starts life
    // delete-free, like a fresh build.
    val fs = hadoopFs(spark, path)
    fs.delete(new Path(s"$path/tombstones"), true)
    // the previous index's states go too (its generations, tombstones and
    // curation watermark): the new corpus has had nothing applied to it
    fs.delete(new Path(s"$path/_meta"), true)
    // and a previous pq build's codebooks are not this build's
    if (books.isEmpty)
      fs.delete(new Path(s"$path/pq_codebooks"), true)
    val rows = indexRows(corpus, centEntries, storage, books.get, Map.empty,
      idCol, vecCol, carry)
    // the manifest's layout is the write's own plan; version 0 commits
    // once every assignment has landed
    val st = IndexState(0L, java.util.UUID.randomUUID().toString,
      IndexManifest(storage, longPartitions(rows.schema)),
      gens = Map.empty, tombs = None, nextEpoch = 0L, tombFloor = 0L,
      curationApplied = None)
    writeIndexRows(rows, path, SaveMode.Overwrite)
    commit(fs, path, st)
    keepOpen(new IndexHandle(path, st.build, centEntries, books))
  }

  /** Refine sweeps a persisted build runs: its coarse quantizer's and,
    * for `storage = "pq"`, its codebooks' (the s8-s17 oracle rows replay
    * one).
    */
  val BuildRefineIters: Int = 1

  /** The hash salt of the `trainFraction` sample — the md5 cut the
    * `s12_ivf_sampled` oracle row replays.
    */
  val TrainSalt: String = "ivf-train"

  /** The hash salt of the pq codebook seed ranks ([[trainPqCodebooks]]),
    * replayed by the `s15`/`s16` oracle rows.
    */
  val PqSeedSalt: String = "pq-seed"

  /** The stored candidate-payload forms a persisted index supports. */
  val Storages: Set[String] = Set("float32", "int8", "pq")

  // ---- the index state: the one commit point of a persisted index ------

  /** The stored form of an index: the candidate payload (`storage`, one
    * of [[Storages]]) and the `assigned/` layout schema (partition columns
    * `cell` and `g` as long), fixed by [[buildIvfIndex]] from the layout
    * of the write's own plan and recorded in every [[IndexState]].
    * Appends encode and queries score by `storage`, scans read with
    * `layout` — nothing infers either from the data files, which deletes
    * can empty and which an append of the wrong form could otherwise
    * corrupt.
    */
  private[graft] final case class IndexManifest(storage: String, layout: StructType)

  /** A tombstone epoch as its writer recorded it: the epoch id and the
    * type of its `c_id` column, so the read infers nothing. (States
    * written before the query path left the broadcast call to Spark also
    * carry the epoch's data bytes; the read ignores them.)
    */
  private[graft] final case class TombEpoch(epoch: Long, idType: DataType)

  /** One version of an index's state, the file `path/_meta/v<version>`:
    *  - `build`: an id per [[buildIvfIndex]] call, by which an open
    *    [[IndexHandle]] knows that a rebuild replaced its centroids;
    *  - `manifest`: the stored form;
    *  - `gens`: each compacted cell's live generation (`cell=N/g=K`); a
    *    cell absent from it lives at generation 0;
    *  - `tombs`: the live tombstone epoch, None when no id is tombstoned;
    *  - `nextEpoch`: the id the next delete writes its epoch under;
    *  - `tombFloor`: [[compactIvfIndex]] drops the tombstone epochs below it;
    *  - `curationApplied`: the newest curation epoch
    *    [[deleteCurationDropsFromIvfIndex]] applied.
    * A writer commits by publishing the next version ([[commit]]), a
    * reader opens the newest ([[readState]]). A version is written once
    * and never changed, so one read is one consistent view of the index.
    */
  private[graft] final case class IndexState(
      version: Long, build: String, manifest: IndexManifest,
      gens: Map[Long, Long], tombs: Option[TombEpoch], nextEpoch: Long,
      tombFloor: Long, curationApplied: Option[Long]) {
    def json: String = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods.{compact, parse, render}
      compact(render(JObject(List(
        "build" -> JString(build),
        "storage" -> JString(manifest.storage),
        "layout" -> parse(manifest.layout.json),
        "gens" -> JArray(gens.toList.sorted.map { case (c, g) => JArray(List(JInt(c), JInt(g))) }),
        "nextEpoch" -> JInt(nextEpoch),
        "tombFloor" -> JInt(tombFloor)) ++
        tombs.map(t => "tombs" -> JObject("epoch" -> JInt(t.epoch),
          "idType" -> parse(t.idType.json))) ++
        curationApplied.map(w => "curationApplied" -> JInt(w)))))
    }
  }

  /** How many state versions `_meta` keeps: the newest and the one before. */
  private val StateVersionsKept = 2

  /** The newest state of the index at `path`: one listing of `_meta` and
    * one read of its newest version. A version pruned between the two
    * (two commits ran in between) is gone because newer ones exist, so
    * the read lists again. Fails by name when there is no state: the
    * directory is not a [[buildIvfIndex]] index, or an older layout wrote
    * it (a `_meta/manifest` file and no state versions).
    */
  private def readState(fs: FileSystem, path: String): IndexState = {
    val meta = new Path(s"$path/_meta")
    val v = numbered(fs, meta, "v").lastOption.getOrElse(throw new IllegalStateException(
      s"$path has no index manifest (no state version under $meta): it is not a " +
        "buildIvfIndex index, or an older layout wrote it (a _meta/manifest file " +
        "and no state versions) — rebuild it with buildIvfIndex"))
    readFile(fs, new Path(meta, s"v$v")).fold(readState(fs, path))(parseState(path, v, _))
  }

  private def parseState(path: String, version: Long, text: String): IndexState = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.{compact, parse, render}
    def bad = new IllegalStateException(s"$path/_meta/v$version is not an index state " +
      s"(storage one of ${Storages.mkString("/")}, a layout schema, generations): $text")
    val j = parse(text)
    def num(v: JValue): Long = v match { case JInt(n) => n.toLong; case _ => throw bad }
    def dataType(v: JValue): DataType = DataType.fromJson(compact(render(v)))
    def opt(field: String): Option[JValue] = Some(j \ field).filter(_ != JNothing)
    val (build, storage, layout) = (j \ "build", j \ "storage", dataType(j \ "layout")) match {
      case (JString(b), JString(s), l: StructType) if Storages(s) => (b, s, l)
      case _ => throw bad
    }
    val gens = j \ "gens" match {
      case JArray(cells) => cells.map {
        case JArray(List(c, g)) => num(c) -> num(g)
        case _ => throw bad
      }.toMap
      case _ => throw bad
    }
    IndexState(version, build, IndexManifest(storage, layout), gens,
      opt("tombs").map(t => TombEpoch(num(t \ "epoch"), dataType(t \ "idType"))),
      num(j \ "nextEpoch"), num(j \ "tombFloor"), opt("curationApplied").map(num))
  }

  /** Commit `st` as `_meta/v<st.version>`: written whole to a temp file
    * of its own, then renamed to that new name, so a reader sees the
    * complete version or none. An existing version is never replaced: a
    * second writer from the same state fails by name instead of undoing
    * the first one's update (the check and the rename are two calls, so
    * this catches overlapping writers; it does not make two safe). Then
    * drops the versions older than the newest [[StateVersionsKept]]: a
    * reader holds the files a state names, never the state file itself.
    */
  private def commit(fs: FileSystem, path: String, st: IndexState): Unit = {
    val meta = new Path(s"$path/_meta")
    val dst = new Path(meta, s"v${st.version}")
    val tmp = new Path(meta, s".v${st.version}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(st.json.getBytes("UTF-8")) finally out.close()
    if (fs.exists(dst)) {
      fs.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(s"$dst already exists: another " +
        s"writer committed it after this one read v${st.version - 1}; retry on the new state")
    }
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"could not commit $dst")
    numbered(fs, meta, "v").filter(_ <= st.version - StateVersionsKept)
      .foreach(v => fs.delete(new Path(meta, s"v$v"), false))
  }

  /** The newest state of the index at `path`. */
  private[graft] def indexState(spark: SparkSession, path: String): IndexState =
    readState(hadoopFs(spark, path), path)

  /** The stored form recorded at build time. */
  private[sim] def readStorageManifest(spark: SparkSession, path: String): String =
    indexState(spark, path).manifest.storage

  /** A pq index's codebooks: per-sub kernel entries `(cid, cv, cn2)` and
    * (pqM, w), plus the (sub, cid, cv) rows the ADC lookup-table build
    * crosses the queries with.
    */
  private final case class PqBooks(
      entries: IndexedSeq[IndexedSeq[(Int, Array[Float], Double)]],
      pqM: Int, w: Int) {
    private val rows: java.util.List[Row] = {
      import scala.jdk.CollectionConverters._
      entries.zipWithIndex.flatMap { case (es, sub) =>
        es.map { case (cid, cv, _) => Row(sub, cid, cv.toSeq) }
      }.asJava
    }
    def local(spark: SparkSession): DataFrame =
      spark.createDataFrame(rows, PqBookSchema)
  }

  private val PqBookSchema = StructType(Seq(StructField("sub", IntegerType),
    StructField("cid", IntegerType), StructField("cv", ArrayType(FloatType))))

  /** What one BUILD of a persisted index fixes, held on the driver so a
    * call pays only for what changes between calls (the state, the
    * probed cells' files): the collected centroid entries and, for a pq
    * index, the codebooks. Appends, deletes and compactions never move
    * them; a rebuild records a new `build` id in its state, which is how
    * [[openIndex]] tells. Holds arrays only — never a DataFrame or
    * cached blocks.
    */
  private final class IndexHandle(
      val path: String,
      val build: String,
      val cents: IndexedSeq[(Long, Array[Float], Double)],
      @volatile private var booksSeen: Option[PqBooks]) {

    def books(spark: SparkSession): PqBooks = booksSeen.getOrElse {
      val b = readPqBooks(spark, path)
      booksSeen = Some(b)
      b
    }
  }

  /** A layout schema with the partition columns last, typed as written
    * (long): cell ids are corpus ids, so an int would not hold them all.
    */
  private def longPartitions(s: StructType): StructType =
    StructType(s.filterNot(f => f.name == "cell" || f.name == "g"))
      .add("cell", LongType).add("g", LongType)

  /** How many index handles stay open; the least recently used is dropped. */
  private val MaxOpenIndexes = 16

  private val openIndexes =
    new java.util.LinkedHashMap[String, IndexHandle](MaxOpenIndexes, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, IndexHandle]): Boolean =
        size() > MaxOpenIndexes
    }

  private def keepOpen(h: IndexHandle): Unit =
    openIndexes.synchronized { openIndexes.put(h.path, h); () }

  /** The handle of the index at `path` in state `st`: the open one while
    * its build id matches, else read from the store (centroids collected).
    */
  private def openIndex(spark: SparkSession, path: String, st: IndexState): IndexHandle =
    openIndexes.synchronized(Option(openIndexes.get(path)))
      .filter(_.build == st.build)
      .getOrElse {
        val h = new IndexHandle(path, st.build,
          collectCentEntries(spark.read.parquet(s"$path/centroids")), None)
        keepOpen(h)
        h
      }

  private def hadoopFs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** A file's whole content, None when it does not exist. */
  private def readFile(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close())
    } catch { case _: java.io.FileNotFoundException => None }

  /** The data files directly under `dir`, none when it is missing —
    * Hadoop's hidden-file rule: `_SUCCESS` and the `.crc` sidecars are
    * not data.
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The numbers `n` of the entries `<prefix><n>` directly under `dir`,
    * ascending; none when it is missing.
    */
  private def numbered(fs: FileSystem, dir: Path, prefix: String): Seq[Long] =
    try fs.listStatus(dir).toSeq.map(_.getPath.getName).filter(_.startsWith(prefix))
      .flatMap(_.stripPrefix(prefix).toLongOption).sorted
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Column names the cell-partitioned layout reserves for its own payload,
    * partitioning and query plumbing. `carry` metadata may not collide with
    * them: the encode would overwrite a carry named like a payload column
    * (`codes` on a pq index, `q8` on an int8 one), and the query join
    * aliases would shadow a carry named `q_id`/`cos` — so the collision
    * fails at BUILD time, by name.
    */
  val ReservedIndexCols: Set[String] = Set(
    "c_id", "v", "n", "cell", "g", "__g", "__pqb", "codes", "rn", "q8",
    "q8_scale", "qn", "cid", "cv0", "cn0", "ccos", "q_id", "cos", "qv",
    "qa", "qan", "qtab", "num", "crn", "rank", "__ac", "__tc")

  private def requireCarryNames(carry: Seq[String]): Unit = {
    val clash = carry.filter(ReservedIndexCols)
    require(clash.isEmpty,
      s"carry column(s) ${clash.mkString(", ")} collide with the index " +
        s"layout's reserved payload/partition columns " +
        s"(${ReservedIndexCols.toSeq.sorted.mkString(", ")}) — rename them " +
        "before building/appending")
  }

  /** Incrementally admit NEW vectors into a persisted [[buildIvfIndex]]
    * index: assign ONLY the delta against the STORED centroids (the same
    * broadcast-assign sweep the build runs, restricted to the delta) and
    * APPEND the result to the cell-partitioned layout — existing files
    * are never touched, new rows land as new files inside their cell's
    * partition directory, and query-time pruning keeps working because
    * the layout is unchanged. This is what makes a growing corpus
    * affordable: the per-batch cost is |delta| × C broadcast scores, not
    * a full rebuild.
    *
    * Because the centroids are FIXED, each vector's cell is a pure
    * function of the vector — so build-on-a-subset + append-the-rest is
    * row-for-row identical to one assignment sweep over the whole corpus
    * against the same centroids (IvfIndexSpec proves it, and the
    * `s10_ivf_append` oracle replays refine-over-initial + assign-all in
    * DuckDB). The trade every IVF service accepts: appended vectors do
    * not move the centroids, so after enough drift the cells stop
    * matching corpus density and a rebuild re-refines — rebuild
    * threshold policy stays with the caller.
    *
    * Contract: delta ids are unique, and new to the index (or tombstoned
    * and reclaimed — see [[deleteFromIvfIndex]]). The append does not
    * check it: an id appended twice is stored, and returned, twice.
    */
  def appendToIvfIndex(delta: DataFrame, path: String,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       carry: Seq[String] = Nil): Unit = {
    requireCarryNames(carry)
    val spark = delta.sparkSession
    val st = indexState(spark, path)
    val h = openIndex(spark, path, st)
    // the stored form is the manifest's, so an append never mixes forms;
    // new rows land in their cell's LIVE generation (compaction bumps it)
    writeIndexRows(indexRows(delta, h.cents, st.manifest.storage, h.books(spark),
      st.gens, idCol, vecCol, carry), path, SaveMode.Append)
  }

  /** Streaming form of [[appendToIvfIndex]]: every micro-batch of
    * arriving vectors is assigned against the stored centroids and
    * appended. `foreachBatch` reuses the batch path verbatim, so the
    * streamed index is row-for-row the batch index of the same rows
    * (IvfIndexSpec pins it); exactly-once lands on the caller's
    * checkpoint + the idempotent cell layout (replayed batches re-append —
    * at-least-once, as the alert log's sink contract).
    *
    * Per-batch floor: the centroids, stored form and (pq) codebooks are
    * fixed for the index build, so every micro-batch is served from the
    * index handle ([[openIndex]], opened here before the first trigger)
    * — one state read per batch, no store re-scan. What remains
    * of the floor is the partitioned write itself — and the century pair
    * (`sf10_s10_stream_*` at 1 vs 4 files/trigger) measured that it is
    * NOT constant: successive appends commit into cell dirs holding
    * progressively more small files, so per-trigger cost grows with
    * accumulated appends. Hence `compactEvery = Some(n)`: the stream —
    * which IS the index's single maintenance writer — runs
    * [[compactIvfIndex]] after every n-th committed batch, bounding
    * per-cell live files at the source with the reader-safe generation
    * swap (concurrent queries never break). Idempotent under batch
    * replay: a replayed append re-lands its rows and the re-run
    * compaction converges to the same one-file-per-cell state.
    */
  def appendToIvfIndexStream(vectors: DataFrame, path: String,
                             checkpoint: String,
                             idCol: String = "vec_id", vecCol: String = "embedding",
                             carry: Seq[String] = Nil,
                             compactEvery: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    compactEvery.foreach(n => require(n >= 1,
      s"compactEvery must be >= 1 batch, got $n"))
    requireCarryNames(carry)
    val spark = vectors.sparkSession
    openIndex(spark, path, indexState(spark, path)) // a missing index fails here, not in a trigger
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendToIvfIndex(batch, path, idCol, vecCol, carry)
        compactEvery.foreach { n =>
          if ((batchId + 1) % n == 0) compactIvfIndex(spark, path)
        }
      }
      .start()
  }

  /** Cell assignment shared by every IVF path (build, append, in-memory
    * query): each vector's nearest cell as (c_id, v, n, carry..., cell).
    * MAP-ONLY — the centroid table (tiny by construction) rides inside the
    * native [[graft.functions.ArgTopCells]] kernel, so the per-vector
    * argmax costs no crossJoin row blowup and no groupBy EXCHANGE of the
    * whole corpus. Ranking semantics are max_by(cid, struct(ccos, -cid))
    * verbatim (see the kernel's scaladoc; the s4/s6/s8/... oracle rows
    * replay them in DuckDB). `carry` = metadata columns kept alongside
    * each vector — what makes FILTERED search answerable from the index
    * alone.
    */
  private def assignCells(vecs: DataFrame,
                          cents: IndexedSeq[(Long, Array[Float], Double)],
                          idCol: String, vecCol: String,
                          carry: Seq[String]): DataFrame = {
    val base = vecs.select(col(idCol).as("c_id") +: col(vecCol).as("v") +:
      carry.map(col): _*)
    val outCols = Seq(col("c_id"), col("v"), col("n")) ++
      carry.map(col) :+ col("cell")
    if (cents.isEmpty)
      // no centroids, no assignable rows — an empty frame, same schema
      base.withColumn("n", lit(0.0d)).withColumn("cell", lit(0L))
        .limit(0).select(outCols: _*)
    else {
      base.withColumn("__ac", ArgTopCells(col("v"), cents, 1))
        .withColumn("n", col("__ac").getField("n"))
        .withColumn("cell", element_at(col("__ac").getField("cells"), 1))
        .select(outCols: _*)
    }
  }

  /** The rows an index write stores: `vecs` assigned against `cents`
    * ([[assignCells]] — what the build stored), encoded in `storage` and
    * stamped with each cell's live generation `g` from `gens` (0 for a
    * cell absent from it). Unexecuted: [[buildIvfIndex]] takes the
    * manifest's layout from this plan's schema before writing it. With
    * `storage = "int8"` the stored payload is the SQ8 form
    * ([[withQuantized]]: `q8` int array + `q8_scale`) plus the integer
    * norm `qn` INSTEAD of the float vector — assignment still scores the
    * float vector (centroids stay float; they are the small side), only
    * the per-vector storage shrinks. `books` is read for pq only.
    */
  private def indexRows(vecs: DataFrame,
                        cents: IndexedSeq[(Long, Array[Float], Double)],
                        storage: String, books: => PqBooks,
                        gens: Map[Long, Long],
                        idCol: String, vecCol: String,
                        carry: Seq[String]): DataFrame = {
    val spark = vecs.sparkSession
    val assigned = assignCells(vecs, cents, idCol, vecCol, carry)
    val stored = storage match {
      case "float32" => assigned
      case "int8" =>
        withQuantized(assigned, "v", "q8")
          .withColumn("qn", sqrt(IntDotProduct(col("q8"), col("q8")).cast(DoubleType)))
          .drop("v", "n")
      case "pq" =>
        // encode against the STORED codebooks (appends reuse the build's
        // training, the same contract as the fixed coarse centroids):
        // per (vector, sub) argmin-L2 entry, packed into one codes array
        // (sub order) plus the reconstruction norm `rn` — precomputable
        // exactly because subspaces are disjoint coordinates, so
        // |x̂|² = Σ_sub |codebook[sub][code]|². Round 14: the codebooks
        // are literal-sized, so the whole encode is a map-only projection
        // FUSED onto the assign sweep's output ([[pqBestEntries]]) — the
        // previous shape re-scanned the input, exploded it ×pqM, blew it
        // up ×pqK through a broadcast join, shuffled it twice ((pid, sub)
        // argmin + per-pid pack) and joined it back onto `assigned`; all
        // of that folds into per-row expressions with identical math
        // (same native L2 fold, same (d2, cid) tie-break, same sub-order
        // left fold for rn — parity-pinned by the s15/s16 oracle rows).
        val b = books
        // one shared `__pqb` struct column: codes and rn both read it, and
        // CollapseProject does not inline a non-cheap alias referenced
        // twice — the kernel runs once per row, not once per consumer
        assigned
          .withColumn("__pqb", PqEncode(col("v"), b.entries, b.w))
          .withColumn("codes", col("__pqb").getField("codes"))
          .withColumn("rn", col("__pqb").getField("rn"))
          .drop("__pqb", "v", "n")
    }
    if (gens.isEmpty) stored.withColumn("g", lit(0L))
    else {
      val genDf = broadcast(
        spark.createDataFrame(gens.toSeq).toDF("cell", "__g"))
      stored.join(genDf, Seq("cell"), "left")
        .withColumn("g", coalesce(col("__g"), lit(0L))).drop("__g")
    }
  }

  /** Write [[indexRows]] into the cell-partitioned layout under `mode`. */
  private def writeIndexRows(rows: DataFrame, path: String, mode: SaveMode): Unit =
    rows
      // cluster by cell BEFORE the partitioned write: the groupBy output
      // is hashed on c_id, so without this every write task holds rows of
      // ~every cell and opens one parquet writer per cell — file count
      // (and writer-buffer memory) scales with writers × cells. After the
      // repartition each cell's rows land in one task: file count is
      // O(cells), independent of write parallelism — the shape a 1000-
      // executor build needs. The partition COUNT is pinned to the
      // session's shuffle width (round 13): a bare repartition(col) is
      // REPARTITION_BY_COL, which AQE freely coalesces — measured down to
      // ONE task, serializing every cell's parquet writer open/close
      // (1.55 s of a 1.67 s write at sf0.1, 0.56 s cpu). With the count
      // pinned the cells spread across min(cells, shuffle width) writer
      // tasks; hashing by cell keeps file count O(cells) either way.
      .repartition(rows.sparkSession.sessionState.conf.numShufflePartitions, col("cell"))
      .write.mode(mode).partitionBy("cell", "g").parquet(s"$path/assigned")

  // ---- generations and tombstones of the persisted layout ----------------

  /** The cell ids present on disk, one listing of `assigned/`: an append
    * creates cell directories without a commit, so no state lists them.
    */
  private def cellsOnDisk(fs: FileSystem, path: String): Seq[Long] =
    numbered(fs, new Path(s"$path/assigned"), "cell=")

  /** The LIVE generation directories in state `st` of `cells` (every
    * on-disk cell when None; a cell not on disk has none), as explicit
    * paths the scan is constructed over.
    */
  private def liveDirs(path: String, st: IndexState, onDisk: Seq[Long],
                       cells: Option[Seq[Long]]): Seq[String] =
    cells.fold(onDisk)(_.filter(onDisk.toSet))
      .map(c => s"$path/assigned/cell=$c/g=${st.gens.getOrElse(c, 0L)}")

  /** The LIVE rows of a persisted index — the one read path every consumer
    * (query, compaction, parity checks) must use: resolves each cell's
    * live generation from the newest state and constructs the scan over
    * exactly those generation directories. A raw recursive read of
    * `path/assigned` is WRONG once any compaction has run: superseded
    * generations are retained one compaction cycle for lagging readers
    * (keep = 2) and a recursive read would double-count their rows.
    * Tombstoned rows ([[deleteFromIvfIndex]]) are NOT filtered here — this
    * is the physical row set; query paths anti-join the live tombstone
    * epoch on top.
    */
  def readIvfAssigned(spark: SparkSession, path: String): DataFrame = {
    val fs = hadoopFs(spark, path)
    val st = readState(fs, path)
    val dirs = liveDirs(path, st, cellsOnDisk(fs, path), None)
    require(dirs.nonEmpty, s"$path/assigned holds no cell directories")
    scanLive(spark, path, st, dirs)
  }

  /** The scan over live generation `dirs`, read with the manifest's
    * layout schema (no footer-inference job; dirs without data files
    * read as zero rows), `g` dropped.
    */
  private def scanLive(spark: SparkSession, path: String, st: IndexState,
                       dirs: Seq[String]): DataFrame =
    spark.read.option("basePath", s"$path/assigned")
      .schema(st.manifest.layout).parquet(dirs: _*)
      .drop("g")

  /** [[scanLive]] when `dirs` hold a data file; None when nothing is
    * stored under them (no cell dir, or every live generation emptied by
    * reclaimed deletes) — semantically zero rows.
    */
  private def liveRows(spark: SparkSession, path: String, st: IndexState,
                       dirs: Seq[String]): Option[DataFrame] =
    if (dirs.isEmpty) None
    else Some(scanLive(spark, path, st, dirs)).filter(_.inputFiles.nonEmpty)

  /** The ids of tombstone epoch `t`, one `c_id` column of the type its
    * writer recorded. Each epoch is SELF-CONTAINED (the full tombstone
    * set, not a delta), so a reader reads exactly the one its state names.
    */
  private def tombIds(spark: SparkSession, path: String, t: TombEpoch): DataFrame =
    spark.read.schema(StructType(Seq(StructField("c_id", t.idType))))
      .parquet(s"$path/tombstones/epoch=${t.epoch}")

  /** DELETE vectors from a persisted index — the way OUT of the store
    * that [[buildIvfIndex]]/[[appendToIvfIndex]] are the way into. Writes
    * a new TOMBSTONE EPOCH (the previous live set plus `ids`, one tiny
    * self-contained parquet — O(live tombstones), the index files are
    * untouched) and then commits it as the live epoch of a new state
    * version: [[ivfTopKIndexed]]/[[ivfTopKReranked]] anti-join the live
    * epoch on the cell-pruned read (a broadcast while the epoch is under
    * Spark's `autoBroadcastJoinThreshold`, a shuffle past it), so deleted
    * vectors stop being retrievable IMMEDIATELY, and the next
    * [[compactIvfIndex]] physically reclaims them (rewrites exactly the
    * cells holding tombstoned rows and commits the index with no live
    * epoch). An epoch written but never committed (a crash between the
    * two) is invisible to readers; the next delete takes its id and
    * overwrites it.
    *
    * This is the dedup-consistency path a 100 TB deployment hits daily:
    * curation drop verdicts arrive AFTER embedding/indexing, and a corpus
    * whose dropped documents remain retrievable from its ANN index is
    * incoherent — see [[deleteCurationDropsFromIvfIndex]] for the
    * one-call composition from a curation drop epoch. Reference tie-in:
    * mitigation's remove side (`ryu/src/deployed_controller/
    * Controller1.py:434-443`) — state must leave as cheaply as it
    * arrived. Returns the epoch id covering the request — a newly
    * written one, or the existing live epoch when every requested id is
    * already tombstoned (the no-op skip; see the hygiene note in the
    * body). Writer coordination: serialize
    * deletes and compactions (single maintenance writer, the standard
    * table-format contract); readers need no coordination.
    *
    * Semantics note (pinned by IvfLifecycleProps): a tombstone masks the
    * ID, not a row version. Appending a row under an id whose tombstone
    * is LIVE leaves the new row masked — and reclaimed at the next
    * compaction; after that compaction the id is insertable again (a
    * delete is not a forever-ban). A pipeline that
    * re-embeds dropped-then-revised documents must therefore append the
    * revision AFTER the compaction that applies the drop, or version its
    * id space — the same id-reuse discipline every tombstone-based store
    * asks for.
    */
  def deleteFromIvfIndex(spark: SparkSession,
                         path: String, ids: DataFrame,
                         idCol: String = "vec_id"): Long = {
    val fs = hadoopFs(spark, path)
    val st = readState(fs, path)
    val (epoch, next) = tombstone(spark, path, st, ids, idCol)
    if (next != st) commit(fs, path, next)
    epoch
  }

  /** Tombstone `ids` on top of state `st`: the epoch covering them and
    * the state that makes it live — `st` itself when the live epoch
    * already covers every id, else the next version with a new epoch
    * written under `st.nextEpoch`.
    */
  private def tombstone(spark: SparkSession, path: String,
                        st: IndexState, ids: DataFrame,
                        idCol: String): (Long, IndexState) = {
    val add = ids.select(col(idCol).as("c_id")).distinct()
    val live = st.tombs.map(t => t -> tombIds(spark, path, t))
    // WRITE-AMPLIFICATION HYGIENE: each epoch is self-contained
    // (previous ∪ new), so a high-frequency caller re-submitting
    // already-live ids — the per-epoch curation hook replaying its drop
    // set is the common case — would rewrite the full set for nothing.
    // When `ids ∖ live = ∅` the live epoch already IS the requested
    // state: skip the write and return its id. Cadence contract for
    // frequent deleters: self-contained epochs cost O(live set) per
    // WRITE, so compaction (which empties the live set) should run at
    // least once per O(tens) of delete calls — see
    // [[deleteCurationDropsFromIvfIndex]] for the hook's own delta
    // discipline, which keeps the live set delta-sized between
    // compactions.
    live.filter { case (_, l) => add.join(l, Seq("c_id"), "left_anti").isEmpty } match {
      case Some((t, _)) => (t.epoch, st)
      case None =>
        // the ids keep their own type (a narrower caller type is widened
        // by the query's anti-join); the state records it
        val full = live.fold(add)(_._2.unionByName(add).distinct())
        val e = st.nextEpoch
        val dir = s"$path/tombstones/epoch=$e"
        // one file: the tombstone set is delete-volume sized, not corpus sized
        full.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
        (e, st.copy(version = st.version + 1,
          tombs = Some(TombEpoch(e, full.schema("c_id").dataType)),
          nextEpoch = e + 1))
    }
  }

  /** Wire a curation COMPACTION EPOCH's dropped-id set
    * ([[graft.streaming.CurationStream.startCompactionStage]]'s
    * `epoch=<id>` artifact) into a persisted index as tombstones — the
    * one-call composition closing the dedup→index consistency gap. Reads
    * the newest committed curation epoch (same `_SUCCESS` rule as
    * `compactedView`); a no-op (returns None) when no epoch is committed
    * yet, or when the newest epoch was already applied to this index.
    *
    * DELTA DISCIPLINE (the convergence contract): curation epochs are
    * CUMULATIVE — each holds the full historical drop set — while the
    * index's live tombstone epoch must stay bounded by deletes since the
    * index's last compaction (it is anti-joined into every query, and
    * Spark broadcasts it only while it stays small). Naively tombstoning
    * each epoch's full set would re-add ids the index's compaction
    * already reclaimed, so the live set
    * would grow to O(all drops ever) and never converge.
    * Instead this call (a) skips entirely when the newest curation epoch
    * id is at or below the curation watermark the index state records
    * (the per-trigger replay fast path — no scan at all); (b) otherwise
    * applies only the NEW drops: the set
    * difference against the last-applied epoch's artifact when it is
    * still on disk (drop-set-sized, no index scan), falling back — when
    * retention pruned that artifact — to the ids still PHYSICALLY
    * present in the index (one column-pruned id scan; reclaimed drops
    * are absent by definition). Either way the live tombstone set stays
    * delta-sized between index compactions. The tombstones and the
    * watermark commit as one state version, so no state records a
    * watermark past drops it does not tombstone.
    *
    * Id discipline (the composition's half of [[deleteFromIvfIndex]]'s
    * id-reuse note): a drop is applied ONCE — re-appending a dropped
    * document's embedding under the same id later is retrievable again
    * (the watermark never re-applies old drops). A pipeline that revises
    * dropped documents must version its id space or re-drop through a
    * new curation epoch — the same discipline the delete API documents.
    */
  def deleteCurationDropsFromIvfIndex(spark: SparkSession,
                                      indexPath: String, epochDir: String,
                                      dropIdCol: String = "doc_id"): Option[Long] = {
    val fs = hadoopFs(spark, epochDir)
    val epochs = committedEpochs(fs, new Path(epochDir))
    if (epochs.isEmpty) return None
    val newest = epochs.max
    val indexFs = hadoopFs(spark, indexPath)
    val st = readState(indexFs, indexPath)
    if (st.curationApplied.exists(_ >= newest)) return None
    val drops = spark.read.parquet(s"$epochDir/epoch=$newest")
      .select(col(dropIdCol)).distinct()
    val priorDir = st.curationApplied.map(a => s"$epochDir/epoch=$a")
      .filter(d => fs.exists(new Path(s"$d/_SUCCESS")))
    val delta = priorDir match {
      case Some(d) =>
        // cheap path: cumulative epochs make "new since last applied" a
        // plain set difference of two drop-set-sized artifacts
        drops.join(spark.read.parquet(d).select(col(dropIdCol)).distinct(),
          Seq(dropIdCol), "left_anti")
      case None =>
        // retention pruned the applied artifact (or nothing was ever
        // applied): keep only drops still physically present — an id the
        // index's compaction reclaimed cannot need masking again
        // (a fully-reclaimed index holds no rows — nothing to mask)
        liveRows(spark, indexPath, st,
            liveDirs(indexPath, st, cellsOnDisk(indexFs, indexPath), None))
          .fold(drops.limit(0))(a => drops.join(
            a.select(col("c_id").as(dropIdCol)).distinct(),
            Seq(dropIdCol), "left_semi"))
    }
    val (epoch, next) = tombstone(spark, indexPath, st, delta, dropIdCol)
    commit(indexFs, indexPath,
      next.copy(version = st.version + 1, curationApplied = Some(newest)))
    Some(epoch)
  }

  /** A cell holding more data files than this in its live generation is
    * rewritten by [[compactIvfIndex]] (to one file).
    */
  val MaxFilesPerCell: Int = 1

  /** Compact the small files a persisted index accumulates under
    * [[appendToIvfIndex]]/[[appendToIvfIndexStream]] and physically
    * reclaim tombstoned rows ([[deleteFromIvfIndex]]): every append lands
    * its delta as NEW files inside each touched cell's live generation
    * (that is what makes the append cheap and idempotent), so a
    * daily-append deployment drifts toward many tiny files per cell — and
    * at 100 TB the per-file open/footer cost starts to rival the row scan
    * itself. Rewrites ONLY (a) the cells holding more than
    * [[MaxFilesPerCell]] data files and (b) the cells holding tombstoned
    * rows, one output file per rewritten cell; untouched cells' files are
    * never read or replaced. Returns the rewritten cell ids.
    *
    * CONCURRENT READERS ARE SAFE — the round-11 "run compaction when the
    * affected cells are quiescent" caveat is retired the way
    * `CurationStream.pruneEpochs` retired its race, by generations
    * instead of in-place swaps. Each cell's files live under a
    * generation subdir (`cell=N/g=K`); readers resolve the live
    * generation from the newest state version. Compaction writes the
    * rewritten cells to staging, renames each in as the NEW generation
    * `g=K+1` (live files are never moved or deleted by the swap), then
    * commits ONE state version holding the new generations and no live
    * tombstone epoch (every tombstoned row is reclaimed by then), and
    * only then prunes generations superseded TWICE (keep = 2) and the
    * tombstone epochs below the floor the previous compaction recorded —
    * so a reader that resolved its plan any time after the previous
    * compaction keeps every file it holds, generations and epoch alike,
    * through one full compaction cycle however many deletes ran in
    * between (IvfIndexSpec pins it with interleaved readers). Crash
    * safety follows from the same shape: the staging dir only ever holds
    * COPIES, so a crashed run's leftovers are garbage (deleted on the
    * next entry), and a renamed-but-never-committed `g=K+1` dir is
    * invisible to readers and replaced on re-run. The commit is the
    * state version, not the dir renames, so the design carries to object
    * stores where rename is copy-not-atomic: the renames just have to
    * COMPLETE before the version lands, and the version file itself
    * appears atomically (written whole, then renamed/PUT). WRITERS still
    * serialize: one build/append/delete/compact at a time (the standard
    * single-writer table-format contract); appends land in the live
    * generation the state names.
    *
    * Pure layout maintenance plus deletes: the surviving row set, schema
    * and query answers are unchanged (IvfIndexSpec pins parity;
    * `s13_ivf_compacted` pins build→append→compact→query to the s10
    * twin, `s17_ivf_deleted` pins the delete lifecycle at both read
    * points).
    */
  def compactIvfIndex(spark: SparkSession, path: String): Seq[Long] = {
    val fs = hadoopFs(spark, path)
    val st = readState(fs, path)
    val assignedRoot = s"$path/assigned"
    val staging = new Path(s"$path/assigned_compacting")
    // staging only ever holds copies (live generations are never moved),
    // so a crashed run's leftover is garbage by construction
    fs.delete(staging, true)
    def gen(c: Long): Long = st.gens.getOrElse(c, 0L)
    val onDisk = cellsOnDisk(fs, path)
    val fileTargets = onDisk.filter(c => dataFiles(fs,
      new Path(s"$assignedRoot/cell=$c/g=${gen(c)}")).length >
        MaxFilesPerCell)
    val tombs = st.tombs.map(tombIds(spark, path, _))
    val tombTargets: Seq[Long] = tombs.fold(Seq.empty[Long]) { t =>
      // one column-pruned pass over (c_id, cell) of the live layout: the
      // tombstone store holds ids, not cells, so the dead rows' cells are
      // looked up once here — maintenance-pass cost, never query cost. A
      // fully-reclaimed index holds no rows — no cell can hold a
      // tombstoned row
      liveRows(spark, path, st, liveDirs(path, st, onDisk, None))
        .fold(Seq.empty[Long])(_.select(col("c_id"), col("cell"))
          .join(t, Seq("c_id"))
          .select(col("cell")).distinct()
          .collect().map(_.getLong(0)).toSeq)
    }
    val targets = (fileTargets ++ tombTargets).distinct.sorted
    val nextGen = targets.map(c => c -> (gen(c) + 1L)).toMap
    if (targets.nonEmpty) {
      val live = scanLive(spark, path, st, liveDirs(path, st, onDisk, Some(targets)))
      val cleaned = tombs.fold(live)(t => live.join(t, Seq("c_id"), "left_anti"))
      val genDf = broadcast(
        spark.createDataFrame(nextGen.toSeq).toDF("cell", "__g"))
      cleaned.join(genDf, Seq("cell"))
        .withColumn("g", col("__g")).drop("__g")
        // pinned count for the same reason as assignIntoIndex's write:
        // REPARTITION_BY_COL lets AQE coalesce the writers to one task
        .repartition(spark.sessionState.conf.numShufflePartitions, col("cell"))
        .write.mode(SaveMode.Overwrite).partitionBy("cell", "g")
        .parquet(staging.toString)
      targets.foreach { c =>
        val n = nextGen(c)
        val src = new Path(s"$staging/cell=$c/g=$n")
        val dst = new Path(s"$assignedRoot/cell=$c/g=$n")
        // dst can pre-exist only from a crashed run that never committed
        // its state — no reader can hold it, replacing it is safe
        fs.delete(dst, true)
        if (fs.exists(src)) fs.rename(src, dst)
        // every surviving row tombstoned: the new live generation is EMPTY
        else fs.mkdirs(dst)
      }
    }
    // the floor is the next epoch id: the next compaction drops every
    // epoch that exists now
    val next = st.copy(version = st.version + 1, gens = st.gens ++ nextGen,
      tombs = None, tombFloor = st.nextEpoch)
    if (next != st.copy(version = next.version)) commit(fs, path, next)
    // prune generations superseded twice (keep = 2): g=K stays for
    // lagging readers; anything at or below K-1 has now survived a full
    // compaction cycle unreferenced
    targets.foreach { c =>
      numbered(fs, new Path(s"$assignedRoot/cell=$c"), "g=").filter(_ <= nextGen(c) - 2)
        .foreach(g => fs.delete(new Path(s"$assignedRoot/cell=$c/g=$g"), true))
    }
    fs.delete(staging, true)
    // and the tombstone epochs below the previous compaction's floor:
    // none is live, and a reader resolved after that compaction holds a
    // newer one. Deletes never prune.
    numbered(fs, new Path(s"$path/tombstones"), "epoch=").filter(_ < st.tombFloor)
      .foreach(e => fs.delete(new Path(s"$path/tombstones/epoch=$e"), true))
    targets
  }

  /** The query-side probe shared by every IVF query: each query's top-`p`
    * cells, ranked MAP-ONLY by the native ArgTopCells kernel against the
    * collected centroids (ranking semantics: the (ccos DESC, cid ASC)
    * row_number window, verbatim).
    *
    * ONE executed job per probe resolution: the (q_id, cell) rows are
    * |Q| × p — driver-bounded by the same contract that broadcasts them
    * into the candidate join — so they are collected once, WITH the query
    * vector and its norm, and every downstream consumer is served from
    * local relations: the (q_id, cell) join side, one (q_id, v, n) row per
    * query, and the distinct probed cells ascending (what the persisted
    * path's pruned scan is constructed over). Round 13 left the vector
    * side as a plan, so each broadcast build re-scanned the queries
    * source.
    *
    * Query ids must be unique: each query yields exactly min(p, C) probe
    * rows, so a duplicate id shows as an over-full group in the rows
    * already collected and fails here, by name, with no extra job.
    */
  private def probeCells(spark: SparkSession,
                         queries: DataFrame,
                         cents: IndexedSeq[(Long, Array[Float], Double)],
                         p: Int, idCol: String, vecCol: String)
      : (DataFrame, DataFrame, Array[Long]) = {
    import scala.jdk.CollectionConverters._
    val plan = queries.select(col(idCol).as("q_id"), col(vecCol).as("v"))
      .withColumn("__tc", ArgTopCells(col("v"), cents, p))
      .select(col("q_id"), col("v"),
        col("__tc").getField("n").as("n"),
        explode(col("__tc").getField("cells")).as("cell"))
    val rows = plan.collect()
    val sch = plan.schema
    val (qi, ci, vi, ni) = (sch.fieldIndex("q_id"), sch.fieldIndex("cell"),
      sch.fieldIndex("v"), sch.fieldIndex("n"))
    val perQuery = scala.collection.mutable.HashMap[Any, Int]()
    rows.foreach(r => perQuery(r.get(qi)) = perQuery.getOrElse(r.get(qi), 0) + 1)
    val dup = perQuery.collectFirst { case (q, n) if n > math.min(p, cents.length) => q }
    require(dup.isEmpty,
      s"query ids must be unique: $idCol = ${dup.getOrElse("")} appears more than once")
    val qc = spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r.get(qi), r.get(ci))).toList.asJava,
      org.apache.spark.sql.types.StructType(Seq(sch(qi), sch(ci))))
    val seen = scala.collection.mutable.HashSet[Any]()
    val qLoc = spark.createDataFrame(
      rows.iterator.filter(r => seen.add(r.get(qi)))
        .map(r => org.apache.spark.sql.Row(r.get(qi), r.get(vi), r.get(ni)))
        .toList.asJava,
      org.apache.spark.sql.types.StructType(Seq(sch(qi), sch(vi), sch(ni))))
    (qc, qLoc, rows.map(_.getLong(ci)).distinct.sorted)
  }

  /** Float candidate scoring shared by the in-memory path and a float32
    * index: (c_id, v, n, cell) rows joined to the probe's local relations
    * on cell, self-matches dropped, cosine by the native dot fold.
    */
  private def scoreFloat(assigned: DataFrame, qCells: DataFrame,
                         qLoc: DataFrame): DataFrame = {
    assigned.join(broadcast(qCells), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .join(broadcast(qLoc.select(col("q_id"), col("v").as("qv"), col("n").as("qn"))),
        Seq("q_id"))
      .withColumn("cos", cosine(DotProduct(col("qv"), col("v")), col("qn"), col("n")))
      .select(col("q_id"), col("c_id"), col("cos"))
  }

  /** Above this many distinct probed cells, [[ivfTopKIndexed]] stops
    * subsetting to the probed cells and reads every live cell directory —
    * the probe set is no longer selective enough for a per-cell path list
    * to beat the full layout.
    */
  val MaxPrunedIndexPaths = 4096

  /** Query a persisted [[buildIvfIndex]] index: probe cells against the
    * (small, broadcast) centroid table, then score ONLY the stored
    * vectors of probed cells. No assignment sweep at query time — the
    * defining win of a persisted index.
    *
    * The probed-cell set is resolved FIRST (one tiny queries×centroids
    * job, bounded by queries × nprobe) and the scan is constructed over
    * exactly those `cell=<id>` directories — so file LISTING is
    * O(probed cells), not O(all cells). Dynamic partition pruning alone
    * is not enough at index scale: it prunes which partitions are READ,
    * but the file index still lists every cell directory up front — at
    * the sf10 century tier (~30 k cells, `ClusterCentPred` seeds scale
    * with the corpus) that listing dominated the whole query
    * (`sf10_s8_query` 20.9 s for an 8-query lookup), and on an object
    * store it is 30 k LIST calls before any work. Reading only the
    * probed posting lists is what a vector store does. Probed cells with
    * no stored vectors are dropped against ONE top-level directory
    * listing (they contribute zero candidates either way); query sets
    * probing more than `maxPrunedPaths` distinct cells fall back to
    * reading every live cell directory instead.
    *
    * One state read (the newest `_meta/v<n>`) gives the call its whole
    * view of the index: the scan reads each probed cell's LIVE GENERATION
    * (see [[compactIvfIndex]] for the reader-safe swap contract) and
    * anti-joins the live TOMBSTONE epoch ([[deleteFromIvfIndex]]) of
    * that same version, so concurrent compaction never breaks a resolved
    * plan and deleted vectors are unretrievable before any physical
    * rewrite. The anti-join carries no hint: Spark broadcasts the epoch
    * while its scan's file bytes are under
    * `spark.sql.autoBroadcastJoinThreshold` and shuffles a larger one.
    * Beyond the scan itself the call lists `_meta` and `assigned/` once
    * each and reads one state file.
    *
    * `probeWidenTarget = Some(m)` turns on selectivity-aware probe
    * widening for FILTERED search: the qualifying density is estimated
    * over the base probe set and `nprobe` is widened until the expected
    * qualifying candidates per query reach `m × k` (see the inline
    * note) — the automatic form of the measured nprobe×4 remedy for
    * high-selectivity filters.
    */
  def ivfTopKIndexed(spark: SparkSession, path: String,
                     queries: DataFrame, k: Int, nprobe: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     candidateFilter: Option[Column] = None,
                     maxPrunedPaths: Int = MaxPrunedIndexPaths,
                     probeWidenTarget: Option[Int] = None): DataFrame = {
    // centroids and codebooks come from the index handle: fixed per
    // build, so a call re-reads none of them
    val fs = hadoopFs(spark, path)
    val st = readState(fs, path)
    val h = openIndex(spark, path, st)
    val onDisk = cellsOnDisk(fs, path)
    // the probe resolution, parameterized so the filtered path can widen
    // it (the probed cells are intersected downstream with the cells that
    // actually exist on disk — an empty cell has no directory; reading it
    // would fail, skipping it is semantically identical)
    def probeAt(p: Int): (DataFrame, DataFrame, Array[Long]) =
      probeCells(spark, queries, h.cents, p, idCol, vecCol)
    val (qCells0, qLoc0, probed0) = probeAt(nprobe)
    // SELECTIVITY-AWARE PROBE WIDENING (opt-in): a highly selective
    // candidateFilter thins qualifying vectors per probed cell — at
    // 0.004 selectivity the century tier measured recall 0.75 at the
    // base nprobe and 1.0 at 4× — so instead of leaving the widening to
    // operator folklore, estimate the qualifying density over the BASE
    // probe set (one filter-pushed, column-pruned count over cells the
    // query reads anyway) and widen until the EXPECTED qualifying
    // candidates per query reach `probeWidenTarget × k`. Capped by the
    // cells on disk; a probe set past `maxPrunedPaths` falls back to the
    // full-layout read below, which is the widest read there is.
    val effNprobe = (candidateFilter, probeWidenTarget) match {
      case (Some(f), Some(m)) if probed0.nonEmpty =>
        require(m >= 1, s"probeWidenTarget must be >= 1, got $m")
        // (every probed live generation empty: nothing qualifies)
        val qual: Double = liveRows(spark, path, st,
            liveDirs(path, st, onDisk, Some(probed0.toIndexedSeq)))
          .fold(0.0)(_.filter(f).count().toDouble)
        val cap = onDisk.length.max(nprobe)
        if (qual <= 0) cap // only a full sweep can honor the filter
        else {
          val perCellQual = qual / probed0.length
          math.ceil(m.toDouble * k / perCellQual).toInt.max(nprobe).min(cap)
        }
      case _ => nprobe
    }
    val (qCells, qLoc, probed) =
      if (effNprobe > nprobe) probeAt(effNprobe) else (qCells0, qLoc0, probed0)
    def emptyTopK: DataFrame = rankTopK(
      queries.select(col(idCol).as("q_id"), col(idCol).as("c_id"),
        lit(0.0d).as("cos")).limit(0), k)
    val prune = probed.nonEmpty && probed.length <= maxPrunedPaths
    // live GENERATION dirs only: superseded generations stay on disk one
    // compaction cycle for lagging readers, so the scan must be
    // constructed over exactly the state's live dirs, never a
    // recursive listing (which would double-read retained generations)
    val dirs = liveDirs(path, st, onDisk,
      if (prune) Some(probed.toIndexedSeq) else None)
    // nothing stored under any probed cell (no cell dir, or every live
    // generation emptied by reclaimed deletes): zero candidates, typed
    // empty — schema derived from the caller's idCol type, so the empty
    // and populated paths union/join identically (round-11 ADVICE: the
    // old spark.range form hardcoded LongType ids)
    val assigned0 = liveRows(spark, path, st, dirs) match {
      case Some(rows) => rows
      case None => return emptyTopK
    }
    // deleted-but-not-yet-reclaimed rows: anti-join the live tombstone
    // epoch so a delete is effective IMMEDIATELY, before any rewrite.
    // No hint: Spark's planner broadcasts the epoch while its scan's
    // file bytes are under `spark.sql.autoBroadcastJoinThreshold` (the
    // contract bounds the set by deletes since the last compaction) and
    // shuffles a set that outgrew it, which keeps the query correct (and
    // merely slower) until the next compaction retires the set
    val assignedLive = st.tombs.fold(assigned0)(t =>
      assigned0.join(tombIds(spark, path, t), Seq("c_id"), "left_anti"))
    // FILTERED search: the predicate lands on the already-cell-pruned
    // scan over `carry` metadata (parquet predicate pushdown composes
    // with the partition pruning) — candidates are filtered BEFORE
    // scoring, so top-k is over the qualifying vectors only
    val assigned = candidateFilter.fold(assignedLive)(assignedLive.filter)
    // dispatch on the manifest's stored form: an `int8` index holds q8 + integer
    // norms instead of float vectors (s7 integer-only scoring, queries
    // quantized on the fly, per-vector scales cancel); a `pq` index holds
    // codes + reconstruction norms and scores by ADC — per-query lookup
    // tables t[sub][cid] = q_sub · codebook[sub][cid], broadcast with the
    // queries, so each candidate costs pqM map lookups instead of a
    // dim-wide dot. Probing above always uses exact floats against the
    // float centroids either way.
    // every query-side relation below derives from the LOCAL probe rows
    // (qLoc), never from the distributed queries plan — the expressions
    // are unchanged, so values are bit-identical, but the broadcast
    // builds stop re-scanning the queries source once per branch
    val scored = st.manifest.storage match {
      case "pq" =>
        val b = h.books(spark)
        val (pqM, w) = (b.pqM, b.w)
        val qtab = qLoc.crossJoin(broadcast(b.local(spark)))
          .withColumn("t", DotProduct(slice(col("v"), col("sub") * w + 1, lit(w)), col("cv")))
          .groupBy(col("q_id"))
          .agg(first(col("n")).as("qn"),
            map_from_entries(collect_list(struct(
              (col("sub").cast("long") * PqKeySpace + col("cid").cast("long")).as("k"),
              col("t").as("v")))).as("qtab"))
        assigned.join(broadcast(qCells), Seq("cell"))
          .filter(col("q_id") =!= col("c_id"))
          .join(broadcast(qtab), Seq("q_id"))
          .withColumn("num", aggregate(
            zip_with(col("codes"), sequence(lit(0), lit(pqM - 1)), (c, s) =>
              element_at(col("qtab"), s.cast("long") * PqKeySpace + c.cast("long"))),
            lit(0.0d), (a, x) => a + x))
          .withColumn("cos", col("num") / (col("qn") * col("rn")))
          .select(col("q_id"), col("c_id"), col("cos"))
      case "int8" =>
        val qq = withQuantized(qLoc.select(col("q_id"), col("v")), "v", "qa")
          .withColumn("qan", sqrt(IntDotProduct(col("qa"), col("qa")).cast(DoubleType)))
          .select(col("q_id"), col("qa"), col("qan"))
        assigned.join(broadcast(qCells), Seq("cell"))
          .filter(col("q_id") =!= col("c_id"))
          .join(broadcast(qq), Seq("q_id"))
          .withColumn("cos",
            IntDotProduct(col("qa"), col("q8")).cast(DoubleType) / (col("qan") * col("qn")))
          .select(col("q_id"), col("c_id"), col("cos"))
      case _ => scoreFloat(assigned, qCells, qLoc)
    }
    rankTopK(scored, k)
  }

  /** Two-tier retrieval over a persisted index: the (small, quantized)
    * index generates `rerankR` candidates per query, then EXACTLY
    * re-scores only those candidates against the caller's source-of-truth
    * corpus — the refine stage every production vector store pairs with a
    * quantized scan (a quantized payload trades within-neighborhood
    * resolution for bytes: at 34k-member clusters the true top-5's cosine
    * gaps are ~1e-5, below what int8 — let alone PQ codes — can resolve,
    * so the index's job is candidate GENERATION and the exact refine
    * restores the final order). Works over any stored form
    * ([[ivfTopKIndexed]] dispatches); the win is I/O: the candidate scan
    * reads the 0.18×-bytes PQ index, and the exact pass touches
    * queries × rerankR corpus rows instead of every probed vector.
    *
    * The candidate set is broadcast into ONE corpus scan (no corpus
    * shuffle). At warehouse scale, lay the corpus out clustered by id so
    * the id-join prunes row groups instead of reading every vector —
    * same contract as any id-addressed fetch.
    */
  def ivfTopKReranked(spark: SparkSession, path: String,
                      queries: DataFrame, corpus: DataFrame, k: Int,
                      nprobe: Int, rerankR: Int = 64,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerankR >= k, s"rerankR $rerankR must be >= k $k")
    val cand = ivfTopKIndexed(spark, path, queries, rerankR, nprobe, idCol, vecCol)
      .select(col("q_id"), col("c_id"))
    val c = corpus.select(col(idCol).as("c_id"), col(vecCol).as("cv"))
      .withColumn("cn", sqrt(DotProduct(col("cv"), col("cv"))))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
      .withColumn("qn", sqrt(DotProduct(col("qv"), col("qv"))))
    val scored = c.join(broadcast(cand), Seq("c_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cos", cosine(DotProduct(col("qv"), col("cv")), col("qn"), col("cn")))
      .select(col("q_id"), col("c_id"), col("cos"))
    rankTopK(scored, k)
  }

  /** The grid the Lloyd means' LONG sums scale components by
    * ([[refineCentroids]], the pq codebook refine): exact on
    * [[PlantedClusters]] vectors, whose components are multiples of
    * 1/1024 — the scale the oracle rows replay.
    */
  val GridScale: Int = 1024

  /** One Lloyd refinement step: assign every corpus vector to its nearest
    * (max-cosine) current centroid, then replace each nonempty cell's
    * centroid with the componentwise mean of its members. The assignment is
    * the map-only [[assignCells]] every index build runs; the mean is
    * computed as `dim` LONG sum-aggregates in ONE
    * groupBy (map-side partial sums, one shuffle on the cell id) over
    * components scaled by [[GridScale]] — so the aggregation is
    * order-independent: exact when components are multiples of
    * 1/GridScale (the [[PlantedClusters]] fixture — which is what makes
    * the refined index oracle-checkable in DuckDB), and a deterministic
    * grid-quantized mean otherwise (for a coarse quantizer, determinism
    * across 1000-executor reruns is worth more than the last float ulp).
    * Cells that attract no vectors disappear — standard k-means behavior.
    */
  def refineCentroids(corpus: DataFrame, centroids: DataFrame, dim: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // the one shuffle is the (cell) mean aggregate below, with map-side
    // partial sums
    val cents = collectCentEntries(centroids)
    if (cents.isEmpty) // no centroids: an empty (cid, cv0) frame
      return centroids.select(col("cid"), col("cv0")).limit(0)
    val assigned = assignCells(corpus, cents, idCol, vecCol, Nil)
    val sums = (0 until dim).map(d =>
      sum((element_at(col("v"), d + 1) * GridScale).cast("long")).as(s"s$d"))
    assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"), sums: _*)
      .select(col("cell").as("cid"),
        array((0 until dim).map(d =>
          (col(s"s$d").cast(DoubleType) / (col("cnt") * lit(GridScale.toDouble)))
            .cast("float")): _*).as("cv0"))
  }

  /** Per-vector symmetric int8 scalar quantization: `scale` = max|v_i|/127
    * and `q_i = floor(v_i/scale + 0.5)` ∈ [-127, 127] — the standard SQ8
    * embedding compression. At 100 TB this is the difference between a
    * 4-byte-float and a 1-byte corpus resident set (4× less scan, shuffle
    * and cache per vector; reconstruction error ≤ scale/2 per component).
    * `floor(x + 0.5)` instead of `round` because the two engines disagree
    * on round-half semantics while `floor` is bit-identical IEEE — the
    * whole quantization is DuckDB-replayable. Adds `out` (int array) and
    * `out_scale`.
    */
  def withQuantized(vecs: DataFrame, vecCol: String = "embedding",
                    out: String = "q8"): DataFrame = {
    val v = col(vecCol)
    val maxAbs = aggregate(v, lit(0.0d),
      (m, x) => greatest(m, abs(x.cast(DoubleType))))
    vecs.withColumn(s"${out}_scale", greatest(maxAbs, lit(1e-30d)) / 127.0d)
      .withColumn(out, transform(v,
        x => floor(x.cast(DoubleType) / col(s"${out}_scale") + 0.5d).cast("int")))
  }

  /** Integer dot product of two int-array columns as a higher-order fold
    * (exact — no FP order sensitivity at all, unlike the float path).
    * The parity twin NativeExprSpec pins the codegen'd
    * [[graft.functions.IntDotProduct]] against; the query path uses the
    * native expression.
    */
  def dotIntExact(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x.cast("long") * y)), lit(0L),
      (acc, x) => acc + x)

  // ---- product quantization (the `pq` stored form) ---------------------

  /** Key packing for the per-query ADC lookup map: `sub * PqKeySpace +
    * cid`. Codebook entry ids are seed RANKS (0 until pqK), so 2^20
    * bounds any realistic codebook.
    */
  private val PqKeySpace = 1L << 20

  /** Read a pq index's stored codebooks — with a NAMED failure when the
    * store is missing or empty (an empty training corpus, a torn write or
    * a deleted store), instead of an opaque NPE off a null aggregate.
    */
  private def readPqBooks(spark: SparkSession, path: String): PqBooks =
    pqBooksOf(
      try spark.read.parquet(s"$path/pq_codebooks")
      catch {
        case e: AnalysisException => throw new IllegalStateException(
          s"$path holds no pq_codebooks, though its manifest records storage pq — " +
            "the codebook write was torn or the store deleted; rebuild with " +
            "buildIvfIndex(storage = \"pq\")", e)
      }, path)

  /** Collect a (sub, cid, cv) codebook relation — the stored one, or the
    * build's checkpoint — into [[PqBooks]], once per index build.
    */
  private def pqBooksOf(cb: DataFrame, path: String): PqBooks = {
    val rows = cb.select(col("sub"), col("cid"), col("cv")).collect()
    if (rows.isEmpty)
      throw new IllegalStateException(
        s"$path/pq_codebooks is empty — the quantizer trained on zero rows " +
          "(empty train corpus?); rebuild over a non-empty corpus")
    val (entries, pqM, w) = pqEntries(rows)
    PqBooks(entries, pqM, w)
  }

  /** Driver-side twin of [[graft.functions.DotProductExpr]]'s fold:
    * left-to-right double accumulation over index-paired float products —
    * used to stamp codebook literals (`cn2`) with values bit-identical to
    * what the distributed expression computed before the round-14 fuse.
    */
  private def dotFoldLocal(a: scala.collection.Seq[Float],
                           b: scala.collection.Seq[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0; var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Collect a (cid, cv0) centroid relation into (cid, cv0, cn0) entries
    * sorted ascending by cid — the referenced-object form the map-only
    * assignment/probe kernel ([[graft.functions.ArgTopCells]]) rides on.
    * The centroid table is broadcast-class BY CONSTRUCTION (it was
    * broadcast whole into every sweep), so the collect adds no driver
    * load; cn0 uses the same left fold the expression form computed.
    */
  private def collectCentEntries(cents: DataFrame)
      : IndexedSeq[(Long, Array[Float], Double)] =
    cents.select(col("cid"), col("cv0")).collect().map { r =>
      val cv = r.getAs[scala.collection.Seq[Float]](1).toArray
      (r.getLong(0), cv, math.sqrt(dotFoldLocal(cv, cv)))
    }.sortBy(_._1).toIndexedSeq

  /** Group collected, non-empty (sub, cid, cv) codebook rows into per-sub
    * entry lists `(cid, cv, cn2)` sorted by cid, plus (pqM, w). The
    * codebooks are pqM × pqK tiny rows and BROADCAST-bound by
    * construction, so the collect adds no driver load the broadcast build
    * did not already pay; what it buys is literal codebook arrays the
    * assignment/encode passes fold into map-only expressions (no explode,
    * no ×pqK join blowup, no per-vector shuffle — round 14, guide §1.2
    * step 1 / §2.4).
    */
  private def pqEntries(rows: Array[Row])
      : (IndexedSeq[IndexedSeq[(Int, Array[Float], Double)]], Int, Int) = {
    val bySub = rows.groupBy(_.getInt(0))
    val pqM = bySub.keySet.max + 1
    require(bySub.keySet == (0 until pqM).toSet,
      s"pq codebook is missing a subspace: have subs ${bySub.keySet.toSeq.sorted}")
    val entries = (0 until pqM).map { s =>
      bySub(s).map { r =>
        val cv = r.getAs[scala.collection.Seq[Float]](2).toArray
        (r.getInt(1), cv, dotFoldLocal(cv, cv))
      }.sortBy(_._1).toIndexedSeq
    }
    (entries, pqM, entries.iterator.flatten.map(_._2.length).max)
  }

  /** Exact left-fold squared L2 distance between two float arrays:
    * `(a_k − b_k)²` accumulated in index order as doubles — the same
    * cross-engine-deterministic fold discipline as the dot product (the
    * oracle replays it verbatim), used for PQ codebook assignment where
    * subvector MAGNITUDE matters (a per-subspace cosine would quantize
    * direction only and reconstruct the wrong lengths). The parity twin
    * of the codegen'd [[graft.functions.L2Sq]] (NativeExprSpec pins it
    * bit-identical); the PQ encode runs the same fold inside
    * [[graft.functions.PqEncode]], because training and encoding evaluate
    * |corpus| × pqM × pqK of these folds per sweep.
    */
  def l2sqExact(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
        (x.cast(DoubleType) - y.cast(DoubleType)) *
          (x.cast(DoubleType) - y.cast(DoubleType))),
      lit(0.0d), (acc, d) => acc + d)

  /** Train per-subspace PQ codebooks: split `dim` into `pqM` disjoint
    * subspaces of width `dim/pqM`, seed each subspace's codebook from
    * the `pqK` train vectors with the smallest (md5-hash, id) — the
    * same engine-portable hash as [[graft.ops.Sampling.hashUnit]], so
    * the oracle replays the identical seed ranks — then run
    * `refineIters` Lloyd steps per subspace with the grid-exact LONG-sum
    * means of [[refineCentroids]] (order-independent, DuckDB-replayable).
    * Returns (sub, cid, cv); cid is the seed rank (a codebook entry that
    * loses every training point to a twin entry with a smaller rank
    * drops out — deterministic on both engines).
    *
    * Scale shape: one broadcast of pqM×pqK tiny entries per Lloyd step,
    * one exchange on (vector, sub); the seed pick is a distributed
    * TakeOrdered of pqK rows. Training cost is |train| × pqM × pqK
    * broadcast-local scores — the sampled-train lever (`trainFraction`)
    * applies to it exactly as to the coarse quantizer.
    */
  def trainPqCodebooks(train: DataFrame, dim: Int, pqM: Int = 8, pqK: Int = 16,
                       refineIters: Int = 1,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(pqM >= 1 && dim % pqM == 0,
      s"dim $dim must split into pqM $pqM equal subspaces")
    require(pqK >= 1 && pqK < PqKeySpace,
      s"pqK must be in [1, $PqKeySpace), got $pqK")
    val w = dim / pqM
    val h = graft.ops.Sampling.hashUnit(col("pid"), PqSeedSalt)
    // seed pick: collect the pqK seed VECTORS in (hh, id) order — one
    // TakeOrdered job over pqK × dim floats, driver-trivial — and slice
    // them into per-sub entries locally; cid = seed rank, exactly the
    // row_number() − 1 the previous shape computed. Round 14: the seed
    // codebook (and every refined one) is pqM × pqK broadcast-bound rows,
    // so holding it as driver entries lets each Lloyd step run as ONE
    // map-only assignment expression + ONE (sub, cid) aggregate instead
    // of a ×pqK broadcast-join blowup followed by a full (pid, sub)
    // shuffle and a second aggregate (guide §1.2 step 1 / §2.4).
    val seedRows = train.select(col(idCol).as("pid"), col(vecCol).as("v"))
      .withColumn("hh", h).orderBy(col("hh"), col("pid")).limit(pqK)
      .select(col("v")).collect()
    if (seedRows.isEmpty)
      throw new IllegalStateException(
        "pq codebooks cannot train: the quantizer trained on zero rows " +
          "(empty train corpus?); rebuild over a non-empty corpus")
    var entries: IndexedSeq[IndexedSeq[(Int, Array[Float], Double)]] =
      (0 until pqM).map { s =>
        seedRows.toIndexedSeq.zipWithIndex.map { case (r, rank) =>
          val cv = r.getAs[scala.collection.Seq[Float]](0)
            .slice(s * w, s * w + w).toArray
          (rank, cv, dotFoldLocal(cv, cv))
        }
      }
    def entriesDf(es: IndexedSeq[IndexedSeq[(Int, Array[Float], Double)]]): DataFrame = {
      import train.sparkSession.implicits._
      es.zipWithIndex.flatMap { case (sub, s) =>
        sub.map { case (cid, cv, _) => (s, cid, cv.toSeq) }
      }.toDF("sub", "cid", "cv")
    }
    var cb: DataFrame = entriesDf(entries)
    for (_ <- 0 until refineIters) {
      cb = refinePqCodebooks(train, entries, pqM, w, vecCol)
      entries = pqEntries(cb.collect())._1 // (sub, cid, cv) rows
      cb = entriesDf(entries) // local relation: downstream consumers broadcast it
    }
    cb
  }

  /** One per-subspace Lloyd step: assign every train subvector to its
    * argmin-L2 entry (ties to the smaller cid), replace each nonempty
    * entry with the grid-exact componentwise mean of its members — the
    * [[refineCentroids]] discipline applied per (sub, cid). The
    * assignment is a map-only [[pqBestEntries]] expression against the
    * literal current codebook; the only shuffle is the (sub, cid) mean
    * aggregate (map-side partial sums).
    */
  private def refinePqCodebooks(train: DataFrame,
                                entries: IndexedSeq[IndexedSeq[(Int, Array[Float], Double)]],
                                pqM: Int, w: Int,
                                vecCol: String): DataFrame = {
    val assigned = train
      .withColumn("__pqc", PqEncode(col(vecCol), entries, w))
      .select(explode(array((0 until pqM).map(s =>
        struct(lit(s).as("sub"),
          element_at(col("__pqc").getField("codes"), s + 1).as("cid"),
          slice(col(vecCol), s * w + 1, w).as("sv"))): _*)).as("sx"))
      .select(col("sx.sub").as("sub"), col("sx.cid").as("cid"), col("sx.sv").as("sv"))
    val sums = (0 until w).map(j =>
      sum((element_at(col("sv"), j + 1) * GridScale).cast("long")).as(s"s$j"))
    assigned.groupBy(col("sub"), col("cid"))
      .agg(count(lit(1)).as("cnt"), sums: _*)
      .select(col("sub"), col("cid"),
        array((0 until w).map(j =>
          (col(s"s$j").cast(DoubleType) / (col("cnt") * lit(GridScale.toDouble)))
            .cast("float")): _*).as("cv"))
  }

  /** Brute-force top-k over int8-QUANTIZED vectors. Cosine over the
    * reconstructed vectors collapses to pure integer arithmetic — the
    * per-vector scales cancel:
    * `cos(q̂a, q̂b) = Σ qa·qb / (sqrt(Σ qa²)·sqrt(Σ qb²))` —
    * so candidate scoring reads 1-byte-class data and multiplies ints;
    * exact floats never leave storage. Same plan shape as
    * [[bruteForceTopK]] (queries broadcast, one corpus scan); recall vs
    * the exact float ranking is the bench gate (`s7_recall`).
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = withQuantized(queries.select(col(idCol).as("q_id"), col(vecCol)), vecCol)
      .select(col("q_id"), col("q8").as("qa"))
      .withColumn("qn", sqrt(IntDotProduct(col("qa"), col("qa")).cast(DoubleType)))
    val c = withQuantized(corpus.select(col(idCol).as("c_id"), col(vecCol)), vecCol)
      .select(col("c_id"), col("q8").as("qb"))
      .withColumn("cn", sqrt(IntDotProduct(col("qb"), col("qb")).cast(DoubleType)))
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cos",
        IntDotProduct(col("qa"), col("qb")).cast(DoubleType) / (col("qn") * col("cn")))
      .select(col("q_id"), col("c_id"), col("cos"))
    rankTopK(scored, k)
  }

  /** Sampled cluster-mass probe: the mean nearest-neighbor cosine within a
    * deterministic ~`sampleN`-vector sample of the corpus. On a corpus
    * with cluster structure a sample this size lands several vectors per
    * big cluster, so most sampled vectors find a close sampled neighbor
    * (PlantedClusters measures ≈ 0.94); on a direction-uniform corpus the
    * sampled nearest neighbor is a near-random direction (the bench
    * `embeddings` corpus measures ≈ 0.5 at 64 dims). That separation is
    * what [[recommendIndex]] thresholds.
    *
    * Cost shape, 100 TB view: one corpus count (metadata-cheap on
    * parquet), one map-only hash filter, then an O(sampleN²) broadcast
    * self-join over ONLY the sample — corpus-size-independent work after
    * the scan. The sample is content-addressed (md5 of the id, as the
    * [[graft.ops.Sampling]] splits), so the probe is retry-safe and
    * repeatable across runs and engines.
    */
  def clusterMass(corpus: DataFrame, sampleN: Int = 256,
                  idCol: String = "vec_id", vecCol: String = "embedding"): Double = {
    require(sampleN >= 2, "need at least two sampled vectors")
    val total = corpus.count()
    if (total < 2) return 0.0
    val frac = math.min(1.0, sampleN.toDouble / total)
    val cut = (frac * graft.ops.Sampling.Space).toLong
    val s = corpus
      .filter(graft.ops.Sampling.hashUnit(col(idCol), "graft-cluster-mass") < cut)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("n", sqrt(DotProduct(col("v"), col("v"))))
    s.as("a").join(broadcast(s.as("b")), col("a.id") =!= col("b.id"))
      .withColumn("cos", cosine(DotProduct(col("a.v"), col("b.v")), col("a.n"), col("b.n")))
      .groupBy(col("a.id"))
      .agg(max(col("cos")).as("nn"))
      // decimal-exact mean: a double avg would drift with partition order,
      // and a routing probe must not flip decisions across reruns
      .agg(graft.util.Exact.davg(col("nn"), graft.util.Exact.Micro))
      .collect().headOption
      // a hash sample can land < 2 vectors on a tiny corpus: no pairs, no
      // mean — report zero mass (routes to LSH, the safe default)
      .filter(!_.isNullAt(0)).map(_.getDouble(0)).getOrElse(0.0)
  }

  /** Index selection for the ANN paths: measure [[clusterMass]] over its
    * default sample and route — at or above 0.7 the corpus has cluster
    * structure an IVF coarse quantizer can match ("ivf"); below it, cells
    * cannot beat direction-uniform buckets and multi-probe LSH is the
    * right index ("lsh"). 0.7 is the midpoint of the two gate
    * fixtures' measured masses (embeddings ≈ 0.5 uniform, PlantedClusters
    * ≈ 0.94 clustered — IndexSelectSpec pins both routes), which is
    * exactly the judgment a user could previously get wrong: pointing IVF
    * at a structureless corpus silently costs ~0.3 recall
    * (`s4_recall` 0.6 vs LSH 0.95 on the same corpus).
    *
    * Returns the choice and the measured mass (for logging/monitoring).
    * This is an offline planning decision — one driver-side double, like
    * choosing a join strategy — not a per-query code path.
    */
  def recommendIndex(corpus: DataFrame,
                     idCol: String = "vec_id", vecCol: String = "embedding")
      : (String, Double) = {
    val mass = clusterMass(corpus, idCol = idCol, vecCol = vecCol)
    (if (mass >= 0.7) "ivf" else "lsh", mass)
  }
}
