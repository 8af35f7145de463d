package graft.sim

import graft.SparkSpec
import graft.queries.SimQueries
import org.apache.spark.sql.functions._

/** The persisted IVF index: build→query must reproduce the in-memory
  * refined path exactly, the query plan must do NO assignment sweep, and
  * the partitioned layout must prune the scan to the probed cells.
  */
class IvfIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val corpus = SimQueries.clustered(spark, dir)
  private lazy val path = {
    val p = java.nio.file.Files.createTempDirectory("ivfindex").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    p
  }

  test("indexed query equals the in-memory refined path row for row") {
    val q = corpus.filter(SimQueries.QueryPred)
    val mem = Similarity.ivfTopKRefined(q, corpus, SimQueries.K,
        SimQueries.ClusterCentPred, SimQueries.NProbe, SimQueries.Dim)
      .collect().map(_.toSeq).toSet
    val idx = Similarity.ivfTopKIndexed(spark, path, q, SimQueries.K,
        SimQueries.NProbe)
      .collect().map(_.toSeq).toSet
    assert(idx == mem)
  }

  test("the stored layout is partitioned by cell and pruned at LISTING time") {
    val cells = new java.io.File(s"$path/assigned").listFiles()
      .filter(_.getName.startsWith("cell=")) // one directory per cell
    assert(cells.length > 1, "assignments must be partitioned by cell")
    val q = corpus.filter(SimQueries.QueryPred)
    val nQ = q.count()
    val df = Similarity.ivfTopKIndexed(spark, path, q, SimQueries.K, SimQueries.NProbe)
    // the scan is CONSTRUCTED over only the probed cell directories —
    // stronger than dynamic partition pruning, which still lists every
    // cell dir up front (at 30k century-tier cells that listing
    // dominated the whole query)
    val cellsListed = df.inputFiles.filter(_.contains("/assigned/"))
      .map(_.split("/assigned/")(1).split("/")(0)).distinct
    assert(cellsListed.forall(_.startsWith("cell=")))
    assert(cellsListed.length <= nQ * SimQueries.NProbe,
      s"listed ${cellsListed.length} cell dirs for $nQ queries × ${SimQueries.NProbe} probes")
    // a single query must touch at most nprobe dirs — a strict subset of
    // the layout (the 8-query set can legitimately cover every cell of
    // this small fixture)
    val one = Similarity.ivfTopKIndexed(spark, path,
        corpus.filter("vec_id = 0"), SimQueries.K, SimQueries.NProbe)
      .inputFiles.filter(_.contains("/assigned/"))
      .map(_.split("/assigned/")(1).split("/")(0)).distinct
    assert(one.length <= SimQueries.NProbe && one.length < cells.length,
      s"1 query listed ${one.length} of ${cells.length} cell dirs")
    // and the pruned read answers exactly like the full-layout fallback
    val full = Similarity.ivfTopKIndexed(spark, path, q, SimQueries.K,
        SimQueries.NProbe, maxPrunedPaths = 0)
      .collect().map(_.toSeq).toSet
    assert(df.collect().map(_.toSeq).toSet == full,
      "pruned-path read must equal the full-layout read")
  }

  test("filtered search: predicate excludes candidates BEFORE ranking and pushes to the scan") {
    val lab = graft.io.Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val c = corpus.join(lab, "vec_id")
    val p = java.nio.file.Files.createTempDirectory("ivfindexf").toString
    Similarity.buildIvfIndex(c, SimQueries.ClusterCentPred, SimQueries.Dim, p,
      carry = Seq("label"))
    val q = c.filter(SimQueries.QueryPred)
    val filtered = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K,
      SimQueries.NProbe, candidateFilter = Some(col("label") < 4))
    val rows = filtered.join(lab.withColumnRenamed("vec_id", "c_id"), "c_id").collect()
    assert(rows.nonEmpty)
    // every returned candidate satisfies the predicate — it ran before
    // ranking, not as a post-filter that can under-fill the top-k
    assert(rows.forall(_.getAs[Int]("label") < 4))
    val perQuery = rows.groupBy(_.getAs[Long]("q_id")).values
    assert(perQuery.exists(_.size == SimQueries.K), "top-k stays full under the filter")
    // the predicate reaches the parquet scan over the index
    filtered.count()
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("LessThan(label,4)"),
      s"label predicate must push into the index scan:\n$plan")
  }

  test("probed cells with no stored vectors: empty typed result, no read failure") {
    // centroids exist but nothing was ever assigned — every probed cell
    // directory is missing; the pruned read must skip them (zero
    // candidates) instead of failing on nonexistent paths
    val p2 = java.nio.file.Files.createTempDirectory("ivfempty").toString
    spark.read.parquet(s"$path/centroids").write.parquet(s"$p2/centroids")
    copyTree(s"$path/_meta", s"$p2/_meta")
    assert(new java.io.File(s"$p2/assigned").mkdirs())
    val q = corpus.filter(SimQueries.QueryPred)
    val out = Similarity.ivfTopKIndexed(spark, p2, q, SimQueries.K, SimQueries.NProbe)
    assert(out.columns.toSeq == Seq("q_id", "c_id", "cos", "rank"))
    assert(out.count() == 0)
  }

  // ---- incremental maintenance (appendToIvfIndex) --------------------

  private def assignedRows(p: String): Set[Seq[Any]] =
    Similarity.readIvfAssigned(spark, p)
      .select(col("c_id"), col("cell").cast("long"), col("v"), col("n"))
      .collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case x => x
      }).toSet

  private def fileSnapshot(p: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$p/assigned"))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.length()).toMap
  }

  test("build-half + append-rest equals one full sweep at the same fixed centroids") {
    val init = corpus.filter(SimQueries.InitPred)
    val rest = corpus.filter(s"NOT (${SimQueries.InitPred})")
    val pA = java.nio.file.Files.createTempDirectory("ivfappA").toString
    Similarity.buildIvfIndex(init, SimQueries.ClusterCentPred, SimQueries.Dim, pA)
    Similarity.appendToIvfIndex(rest, pA)
    // reference: the SAME stored centroids, one sweep over the whole
    // corpus — append into an index that has centroids but no assignments
    val pB = java.nio.file.Files.createTempDirectory("ivfappB").toString
    spark.read.parquet(s"$pA/centroids").write.parquet(s"$pB/centroids")
    copyTree(s"$pA/_meta", s"$pB/_meta")
    Similarity.appendToIvfIndex(corpus, pB)
    assert(assignedRows(pA) == assignedRows(pB),
      "append must be row-for-row a full assignment sweep at fixed centroids")
    val q = corpus.filter(SimQueries.QueryPred)
    val a = Similarity.ivfTopKIndexed(spark, pA, q, SimQueries.K, SimQueries.NProbe)
      .collect().map(_.toSeq).toSet
    val b = Similarity.ivfTopKIndexed(spark, pB, q, SimQueries.K, SimQueries.NProbe)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("append touches only delta rows: existing files unchanged, delta lands as new files") {
    val init = corpus.filter(SimQueries.InitPred)
    val rest = corpus.filter(s"NOT (${SimQueries.InitPred})")
    val p = java.nio.file.Files.createTempDirectory("ivfappdelta").toString
    Similarity.buildIvfIndex(init, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    val before = fileSnapshot(p)
    val rowsBefore = spark.read.parquet(s"$p/assigned").count()
    Similarity.appendToIvfIndex(rest, p)
    val after = fileSnapshot(p)
    // every pre-append file survives byte-for-byte (same path, same length)
    assert(before.forall { case (f, len) => after.get(f).contains(len) },
      "append must never rewrite existing index files")
    assert(after.size > before.size, "the delta must land as NEW files")
    assert(spark.read.parquet(s"$p/assigned").count() == rowsBefore + rest.count(),
      "appended row count must equal the delta row count")
    // pruned listing still holds on the appended layout (single query =
    // at most nprobe dirs touched)
    val df = Similarity.ivfTopKIndexed(spark, p,
      corpus.filter("vec_id = 0"), SimQueries.K, SimQueries.NProbe)
    val cellsListed = df.inputFiles.filter(_.contains("/assigned/"))
      .map(_.split("/assigned/")(1).split("/")(0)).distinct
    val allCells = new java.io.File(s"$p/assigned").listFiles()
      .count(_.getName.startsWith("cell="))
    assert(cellsListed.length <= SimQueries.NProbe && cellsListed.length < allCells,
      s"1 query listed ${cellsListed.length} of $allCells appended cell dirs")
  }

  test("sampled quantizer training: seeds+Lloyd see the hash sample, assignment sees everything") {
    val p = java.nio.file.Files.createTempDirectory("ivfsampled").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred,
      SimQueries.Dim, p, trainFraction = SimQueries.TrainFraction)
    // the assignment sweep is never sampled: every corpus vector lands
    assert(spark.read.parquet(s"$p/assigned").count() == corpus.count())
    // the fixture genuinely samples (fewer seeds than the full build)
    val train = graft.ops.Sampling.sampleFraction(corpus, col("vec_id"),
      "ivf-train", SimQueries.TrainFraction)
    val sampleSeeds = train.filter(SimQueries.ClusterCentPred).count()
    assert(sampleSeeds > 0 &&
      sampleSeeds < corpus.filter(SimQueries.ClusterCentPred).count())
    assert(spark.read.parquet(s"$p/centroids").count() <= sampleSeeds)
    // compositional reference: refine over the sample EXPLICITLY, then
    // one full assignment sweep at those centroids — the trainFraction
    // build must equal it row for row
    val pRef = java.nio.file.Files.createTempDirectory("ivfsampledref").toString
    Similarity.refineCentroids(train,
        train.filter(SimQueries.ClusterCentPred)
          .select(col("vec_id").as("cid"), col("embedding").as("cv0")),
        SimQueries.Dim)
      .write.parquet(s"$pRef/centroids")
    copyTree(s"$p/_meta", s"$pRef/_meta")
    Similarity.appendToIvfIndex(corpus, pRef)
    assert(assignedRows(p) == assignedRows(pRef),
      "sampled build must equal explicit sample-refine + assign-all")
  }

  test("compaction: rewrites only many-file cells, preserves rows, files and answers") {
    val init = corpus.filter(SimQueries.InitPred)
    val delta = corpus.filter("vec_id % 2 = 1 AND vec_id < 6")
    val p = java.nio.file.Files.createTempDirectory("ivfcompactspec").toString
    Similarity.buildIvfIndex(init, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    Similarity.appendToIvfIndex(delta, p)
    val before = fileSnapshot(p)
    val rowsBefore = assignedRows(p)
    val countBefore = Similarity.readIvfAssigned(spark, p).count()
    val q = corpus.filter(SimQueries.QueryPred)
    val answerBefore = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K,
      SimQueries.NProbe).collect().map(_.toSeq).toSet
    val targets = Similarity.compactIvfIndex(spark, p)
    // only the delta's cells crossed the file threshold
    assert(targets.nonEmpty && targets.size < new java.io.File(s"$p/assigned")
      .listFiles().count(_.getName.startsWith("cell=")),
      "a small delta must not force a full-index rewrite")
    // exact multiset preservation: same count, same LIVE row set
    assert(Similarity.readIvfAssigned(spark, p).count() == countBefore)
    assert(assignedRows(p) == rowsBefore)
    val after = fileSnapshot(p)
    targets.foreach { c =>
      // the new live generation holds exactly one data file
      val live = after.keys.filter(_.contains(s"/cell=$c/g=1/"))
      assert(live.size == 1, s"cell $c live gen holds ${live.size} files")
      // the SUPERSEDED generation is retained (keep = 2): every pre-compact
      // file survives byte-for-byte at its original path — the reader-race
      // retirement (a plan resolved before the swap keeps its files)
      val old = before.filter { case (f, _) => f.contains(s"/cell=$c/g=0/") }
      assert(old.nonEmpty && old.forall { case (f, len) => after.get(f).contains(len) },
        s"cell $c superseded generation must be retained one cycle")
    }
    // untouched cells' files survive byte-for-byte
    val untouched = before.filter { case (f, _) =>
      !targets.exists(c => f.contains(s"/cell=$c/")) }
    assert(untouched.nonEmpty)
    assert(untouched.forall { case (f, len) => after.get(f).contains(len) },
      "compaction must never touch cells under the file threshold")
    // answers unchanged; a second compaction is a no-op
    val answerAfter = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K,
      SimQueries.NProbe).collect().map(_.toSeq).toSet
    assert(answerAfter == answerBefore)
    assert(Similarity.compactIvfIndex(spark, p).isEmpty)
  }

  test("reader never breaks across a concurrent compaction (generation swap + keep=2)") {
    val init = corpus.filter(SimQueries.InitPred)
    val rest = corpus.filter(s"NOT (${SimQueries.InitPred})")
    val p = java.nio.file.Files.createTempDirectory("ivfgenrace").toString
    Similarity.buildIvfIndex(init, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    Similarity.appendToIvfIndex(rest, p)
    val q = corpus.filter(SimQueries.QueryPred)
    val expected = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K,
      SimQueries.NProbe).collect().map(_.toSeq).toSet
    // a reader resolves its plan (file list pinned at resolution time)...
    val lagging = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K,
      SimQueries.NProbe)
    lagging.queryExecution.executedPlan // force resolution before the swap
    val preFiles = lagging.inputFiles.filter(_.contains("/assigned/"))
    assert(preFiles.forall(_.contains("/g=0/")))
    // ...compaction swaps in generation 1 UNDER the resolved plan...
    val targets1 = Similarity.compactIvfIndex(spark, p)
    assert(targets1.nonEmpty)
    // ...and the lagging reader still answers, correctly: its g=0 files
    // were superseded, not deleted (the old delete+rename swap failed here)
    assert(preFiles.forall(f => new java.io.File(
      new java.net.URI(f).getPath).exists()), "superseded files must survive one cycle")
    assert(lagging.collect().map(_.toSeq).toSet == expected)
    // a fresh reader resolves generation 1 and agrees
    val fresh = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, SimQueries.NProbe)
    assert(fresh.inputFiles.filter(_.contains("/assigned/"))
      .forall(f => !f.contains("/g=0/")), "fresh reads must resolve the live generation")
    assert(fresh.collect().map(_.toSeq).toSet == expected)
    // one more append (fresh ids, so no row duplicates) + compaction:
    // generation 2 lands, generation 0 — now superseded twice — is
    // pruned; the keep-2 window matches CurationStream.pruneEpochs'
    // contract exactly
    Similarity.appendToIvfIndex(corpus.filter("vec_id < 6")
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")), p)
    // the appended rows landed in the LIVE generation (summary-resolved),
    // not the superseded g=0 — a reader finds them before any compaction
    val appended = Similarity.readIvfAssigned(spark, p)
      .filter(col("c_id") >= 100000L).count()
    assert(appended == 6, s"post-compaction append must be live, found $appended")
    val targets2 = Similarity.compactIvfIndex(spark, p)
    assert(targets2.nonEmpty)
    val reachedG2 = targets2.filter { c =>
      new java.io.File(s"$p/assigned/cell=$c/g=2").exists()
    }
    assert(reachedG2.nonEmpty, "some twice-compacted cell must exist")
    reachedG2.foreach { c =>
      val gens = new java.io.File(s"$p/assigned/cell=$c").listFiles()
        .map(_.getName).filter(_.startsWith("g=")).sorted.toSeq
      assert(gens == Seq("g=1", "g=2"),
        s"cell $c must retain exactly the newest two generations " +
          s"(g=0 superseded twice is pruned), got $gens")
    }
    // and the appended rows survive the second compaction cycle
    assert(Similarity.readIvfAssigned(spark, p)
      .filter(col("c_id") >= 100000L).count() == 6)
  }

  test("compaction crash leftovers are garbage, never the only copy (staging + stale next-gen)") {
    val init = corpus.filter(SimQueries.InitPred)
    val p = java.nio.file.Files.createTempDirectory("ivfgencrash").toString
    Similarity.buildIvfIndex(init, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    Similarity.appendToIvfIndex(corpus.filter(s"NOT (${SimQueries.InitPred})"), p)
    val q = corpus.filter(SimQueries.QueryPred)
    val expected = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K,
      SimQueries.NProbe).collect().map(_.toSeq).toSet
    // simulate a crashed previous run: a stale staging dir AND a stale
    // renamed-but-never-published next-generation dir for one cell
    val cells = new java.io.File(s"$p/assigned").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName)
    val staleCell = cells.head
    assert(new java.io.File(s"$p/assigned_compacting/junk").mkdirs())
    val staleGen = new java.io.File(s"$p/assigned/$staleCell/g=1")
    assert(staleGen.mkdirs())
    java.nio.file.Files.write(staleGen.toPath.resolve("stale.parquet"),
      Array[Byte](0, 1, 2)) // unreadable junk a crashed rename could leave
    // recovery is just running compaction again: staging holds only
    // copies (deleted on entry) and an unpublished next-gen dir is
    // replaced — the round-11 ADVICE data-loss window cannot occur
    val targets = Similarity.compactIvfIndex(spark, p)
    assert(targets.nonEmpty)
    assert(!new java.io.File(s"$p/assigned_compacting").exists())
    val after = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K,
      SimQueries.NProbe).collect().map(_.toSeq).toSet
    assert(after == expected)
  }

  test("carry columns colliding with reserved layout names fail at build time, by name") {
    val lab = graft.io.Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val c = corpus.join(lab, "vec_id").withColumnRenamed("label", "codes")
    val p = java.nio.file.Files.createTempDirectory("ivfreserved").toString
    val e = intercept[IllegalArgumentException] {
      Similarity.buildIvfIndex(c, SimQueries.ClusterCentPred, SimQueries.Dim, p,
        carry = Seq("codes"))
    }
    assert(e.getMessage.contains("codes") && e.getMessage.contains("reserved"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(c, path, carry = Seq("g"))
    }
    assert(e2.getMessage.contains("reserved"))
  }

  test("empty result keeps the caller's id type (no hardcoded long schema)") {
    // centroids exist, nothing assigned, STRING ids: the empty frame must
    // carry string q_id/c_id so downstream unions with populated results
    // resolve (round-11 ADVICE: the spark.range early return was long-typed)
    val p2 = java.nio.file.Files.createTempDirectory("ivfemptystr").toString
    spark.read.parquet(s"$path/centroids").write.parquet(s"$p2/centroids")
    copyTree(s"$path/_meta", s"$p2/_meta")
    assert(new java.io.File(s"$p2/assigned").mkdirs())
    val qs = corpus.filter(SimQueries.QueryPred)
      .select(concat(lit("id-"), col("vec_id")).as("vec_id"), col("embedding"))
    val out = Similarity.ivfTopKIndexed(spark, p2, qs, SimQueries.K, SimQueries.NProbe)
    assert(out.schema("q_id").dataType == org.apache.spark.sql.types.StringType)
    assert(out.schema("c_id").dataType == org.apache.spark.sql.types.StringType)
    assert(out.count() == 0)
  }

  // ---- delete lifecycle (tombstones → anti-join → reclaim) -------------

  private val DeleteSpecPred = "vec_id % 9 = 4"

  /** The live tombstone ids of the index at `p`: the epoch its newest
    * state names, None when that state holds no tombstone epoch.
    */
  private def liveTombIds(p: String): Option[Set[Long]] =
    Similarity.indexState(spark, p).tombs.map(t =>
      spark.read.parquet(s"$p/tombstones/epoch=${t.epoch}").collect().map(_.getLong(0)).toSet)

  test("delete: tombstones mask immediately, compaction reclaims, answers pinned throughout") {
    val init = corpus.filter(SimQueries.InitPred)
    val rest = corpus.filter(s"NOT (${SimQueries.InitPred})")
    val p = java.nio.file.Files.createTempDirectory("ivfdelete").toString
    Similarity.buildIvfIndex(init, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    Similarity.appendToIvfIndex(rest, p)
    val q = corpus.filter(SimQueries.QueryPred)
    val dIds = corpus.filter(DeleteSpecPred).select("vec_id")
    val dSet = dIds.collect().map(_.getLong(0)).toSet
    // reference: the same index queried with the deleted ids excluded as
    // candidates (tombstones must equal a candidate-side exclusion)
    val expected = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K,
        SimQueries.NProbe,
        candidateFilter = Some(!col("c_id").isInCollection(dSet)))
      .collect().map(_.toSeq).toSet
    val filesBefore = fileSnapshot(p)
    Similarity.deleteFromIvfIndex(spark, p, dIds)
    // O(tombstones): the delete wrote only tombstone files — the
    // cell-partitioned index itself is byte-identical
    assert(fileSnapshot(p) == filesBefore,
      "delete must not rewrite any index file")
    // masked immediately (anti-join on the pruned read)
    val masked = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K,
      SimQueries.NProbe)
    assert(masked.collect().map(_.toSeq).toSet == expected)
    // the rerank path honors the same tombstones
    val reranked = Similarity.ivfTopKReranked(spark, p, q, corpus,
      SimQueries.K, SimQueries.NProbe, rerankR = corpus.count().toInt)
    assert(!reranked.select("c_id").collect().map(_.getLong(0)).exists(dSet))
    // a second delete UNIONS into the live set
    Similarity.deleteFromIvfIndex(spark, p,
      corpus.filter("vec_id = 11").select("vec_id"))
    val d2 = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, SimQueries.NProbe)
      .select("c_id").collect().map(_.getLong(0)).toSet
    assert(!d2.exists(dSet) && !d2.contains(11L), "deletes must accumulate")
    // RECLAIM: compaction rewrites exactly the cells holding tombstoned
    // rows, drops them physically, and retires the applied set
    val preReclaim = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K,
      SimQueries.NProbe).collect().map(_.toSeq).toSet
    val targets = Similarity.compactIvfIndex(spark, p)
    assert(targets.nonEmpty)
    val live = Similarity.readIvfAssigned(spark, p)
      .select("c_id").collect().map(_.getLong(0)).toSet
    assert(!live.exists(dSet) && !live.contains(11L),
      "reclaim must physically drop tombstoned rows")
    assert(live.nonEmpty)
    // answers identical at both read points (tombstoned == reclaimed)
    assert(Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, SimQueries.NProbe)
      .collect().map(_.toSeq).toSet == preReclaim)
    // the applied tombstone set is retired: the live state holds no epoch
    assert(liveTombIds(p).isEmpty,
      "applied tombstones must retire: the live state holds no tombstone epoch")
    // and a further compaction has nothing left to do
    assert(Similarity.compactIvfIndex(spark, p).isEmpty)
  }

  test("delete composes with quantized storage: tombstones mask and reclaim on a pq index") {
    val p = java.nio.file.Files.createTempDirectory("ivfdelpq").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred,
      SimQueries.Dim, p, storage = "pq",
      pqM = SimQueries.PqM, pqK = SimQueries.PqK)
    val q = corpus.filter(SimQueries.QueryPred)
    val dIds = corpus.filter(DeleteSpecPred).select("vec_id")
    val dSet = dIds.collect().map(_.getLong(0)).toSet
    Similarity.deleteFromIvfIndex(spark, p, dIds)
    // the anti-join composes BEFORE the ADC dispatch: masked immediately
    val masked = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K,
      SimQueries.NProbe).select("c_id").collect().map(_.getLong(0))
    assert(masked.nonEmpty && !masked.exists(dSet))
    // reclaim keeps the quantized payload schema and drops the rows
    Similarity.compactIvfIndex(spark, p)
    val live = Similarity.readIvfAssigned(spark, p)
    assert(live.columns.toSet.intersect(Set("codes", "rn")) == Set("codes", "rn"))
    assert(!live.select("c_id").collect().map(_.getLong(0)).exists(dSet))
    val after = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K,
      SimQueries.NProbe).select("c_id").collect().map(_.getLong(0))
    assert(after.nonEmpty && !after.exists(dSet))
  }

  test("curation drop epochs compose into index deletes in one call") {
    val p = java.nio.file.Files.createTempDirectory("ivfcuradel").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    // a CurationStream-shaped drop-epoch artifact: epoch=3 committed
    val epochDir = java.nio.file.Files.createTempDirectory("curaepochs").toString
    corpus.filter("vec_id % 11 = 5").select(col("vec_id").as("doc_id"))
      .write.parquet(s"$epochDir/epoch=3")
    assert(Similarity.deleteCurationDropsFromIvfIndex(spark, p, epochDir)
      .contains(0L))
    val q = corpus.filter(SimQueries.QueryPred)
    val got = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, SimQueries.NProbe)
      .select("c_id").collect().map(_.getLong(0))
    assert(got.nonEmpty && !got.exists(_ % 11 == 5),
      "curation-dropped ids must be unretrievable from the index")
    // no committed epoch yet → explicit no-op, not an error
    val none = java.nio.file.Files.createTempDirectory("curaempty").toString
    assert(Similarity.deleteCurationDropsFromIvfIndex(spark, p, none).isEmpty)
  }

  test("int8 storage: quantized payload, float assignment, integer scoring, auto-detected append") {
    // full-corpus quantized twin of the float fixture `path`
    val pQ = java.nio.file.Files.createTempDirectory("ivfq8full").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred,
      SimQueries.Dim, pQ, storage = "int8")
    val cols = spark.read.parquet(s"$pQ/assigned").columns.toSet
    assert(Set("q8", "q8_scale", "qn").subsetOf(cols) &&
      !cols.contains("v") && !cols.contains("n"),
      s"int8 layout must store the quantized payload only, got $cols")
    // cell assignment runs on the exact floats — identical cells to the
    // float index built from the same corpus
    def cells(p: String): Set[Seq[Any]] = spark.read.parquet(s"$p/assigned")
      .select(col("c_id"), col("cell").cast("long")).collect().map(_.toSeq).toSet
    assert(cells(pQ) == cells(path))
    // integer candidate scoring ranks ~the float ranking
    val q = corpus.filter(SimQueries.QueryPred)
    val qk = Similarity.ivfTopKIndexed(spark, pQ, q, SimQueries.K,
      SimQueries.NProbe).select("q_id", "c_id").collect().map(_.toSeq).toSet
    val fk = Similarity.ivfTopKIndexed(spark, path, q, SimQueries.K,
      SimQueries.NProbe).select("q_id", "c_id").collect().map(_.toSeq).toSet
    assert(qk.intersect(fk).size.toDouble / fk.size >= 0.8,
      s"quantized recall vs float index ${qk.intersect(fk).size}/${fk.size}")
    // identical rows, materially smaller layout
    assert(fileSnapshot(pQ).values.sum < fileSnapshot(path).values.sum,
      "quantized index files must be smaller than the float layout")
    // append auto-detects the stored form — no storage param — and an
    // int8 index never silently mixes float rows in
    val pH = java.nio.file.Files.createTempDirectory("ivfq8half").toString
    Similarity.buildIvfIndex(corpus.filter(SimQueries.InitPred),
      SimQueries.ClusterCentPred, SimQueries.Dim, pH, storage = "int8")
    Similarity.appendToIvfIndex(corpus.filter(s"NOT (${SimQueries.InitPred})"), pH)
    val a = spark.read.parquet(s"$pH/assigned")
    assert(a.count() == corpus.count() && a.columns.toSet == cols)
  }

  test("pq storage: codes+norm payload, float assignment, ADC scoring, auto-detected append") {
    val pP = java.nio.file.Files.createTempDirectory("ivfpqfull").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred,
      SimQueries.Dim, pP, storage = "pq",
      pqM = SimQueries.PqM, pqK = SimQueries.PqK)
    val cols = spark.read.parquet(s"$pP/assigned").columns.toSet
    assert(Set("codes", "rn").subsetOf(cols) &&
      Seq("v", "n", "q8").forall(!cols.contains(_)),
      s"pq layout must store codes + reconstruction norm only, got $cols")
    // every code array has exactly pqM entries (sub order)
    val badLen = spark.read.parquet(s"$pP/assigned")
      .filter(size(col("codes")) =!= SimQueries.PqM).count()
    assert(badLen == 0, s"$badLen rows with malformed code arrays")
    // coarse assignment runs on the exact floats — identical cells to the
    // float index built from the same corpus
    def cells(p: String): Set[Seq[Any]] = spark.read.parquet(s"$p/assigned")
      .select(col("c_id"), col("cell").cast("long")).collect().map(_.toSeq).toSet
    assert(cells(pP) == cells(path))
    // ADC ranking approximates the float ranking on the planted clusters
    val q = corpus.filter(SimQueries.QueryPred)
    val pk = Similarity.ivfTopKIndexed(spark, pP, q, SimQueries.K,
      SimQueries.NProbe).select("q_id", "c_id").collect().map(_.toSeq).toSet
    val fk = Similarity.ivfTopKIndexed(spark, path, q, SimQueries.K,
      SimQueries.NProbe).select("q_id", "c_id").collect().map(_.toSeq).toSet
    assert(pk.intersect(fk).size.toDouble / fk.size >= 0.5,
      s"pq recall vs float index ${pk.intersect(fk).size}/${fk.size}")
    // the planted-cluster structure survives quantization: ADC scoring
    // adds AT MOST ONE cross-cluster neighbor (vec_id % KC) beyond what
    // the shared coarse probe already forces on the float path — the
    // codebook's per-component error is ≤ noise scale, so same-cluster
    // candidates keep outranking cos≈0 strangers except at the rank-k
    // boundary
    def crossCluster(p: String): Long =
      Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, SimQueries.NProbe)
        .filter(pmod(col("q_id"), lit(PlantedClusters.KC)) =!=
          pmod(col("c_id"), lit(PlantedClusters.KC))).count()
    val (mismP, mismF) = (crossCluster(pP), crossCluster(path))
    assert(mismP <= mismF + 1,
      s"ADC scoring added cross-cluster neighbors: pq $mismP vs float $mismF")
    // smallest stored form of the three
    assert(fileSnapshot(pP).values.sum < fileSnapshot(path).values.sum,
      "pq index files must be smaller than the float layout")
    // append auto-detects the stored form; codebooks are NOT retrained, so
    // build-half + append-half equals build-all row for row
    val pH = java.nio.file.Files.createTempDirectory("ivfpqhalf").toString
    Similarity.buildIvfIndex(corpus.filter(SimQueries.InitPred),
      SimQueries.ClusterCentPred, SimQueries.Dim, pH, storage = "pq",
      pqM = SimQueries.PqM, pqK = SimQueries.PqK)
    Similarity.appendToIvfIndex(corpus.filter(s"NOT (${SimQueries.InitPred})"), pH)
    val a = spark.read.parquet(s"$pH/assigned")
    assert(a.count() == corpus.count() && a.columns.toSet == cols)
  }

  test("pq edge cases fail by NAME: missing codebooks, empty-train codebooks") {
    // a pq index whose codebook store is gone (a torn write, a deleted
    // store): the error names the store and the fix, not an
    // AnalysisException path. The copy gets a fresh handle, which reads
    // the codebooks on first need.
    val pP = java.nio.file.Files.createTempDirectory("ivfpqcb").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred,
      SimQueries.Dim, pP, storage = "pq", pqM = SimQueries.PqM, pqK = SimQueries.PqK)
    val noCb = java.nio.file.Files.createTempDirectory("ivfpqnocb").toString
    copyTree(pP, noCb)
    deleteTree(s"$noCb/pq_codebooks")
    val eNoCb = intercept[IllegalStateException] {
      Similarity.appendToIvfIndex(corpus.limit(1), noCb)
    }
    assert(eNoCb.getMessage.contains("pq_codebooks"))
    // an empty training corpus writes an empty codebook store: the build
    // fails by name instead of an NPE off a null aggregate downstream
    val pE = java.nio.file.Files.createTempDirectory("ivfpqempty").toString
    val eEmpty = intercept[IllegalStateException] {
      Similarity.buildIvfIndex(corpus.filter("vec_id < 0"),
        SimQueries.ClusterCentPred, SimQueries.Dim, pE, storage = "pq")
    }
    assert(eEmpty.getMessage.contains("zero rows"))
  }

  test("two-tier rerank: quantized candidates + exact refine equal the float index top-k") {
    val pP = java.nio.file.Files.createTempDirectory("ivfpqrr").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred,
      SimQueries.Dim, pP, storage = "pq",
      pqM = SimQueries.PqM, pqK = SimQueries.PqK)
    val q = corpus.filter(SimQueries.QueryPred)
    // a rerank depth covering the probed candidate set makes the refine
    // exact: identical rows (ids, cosines, ranks) to the float index —
    // the 0.18x-bytes scan generates, the exact pass decides
    val deep = Similarity.ivfTopKReranked(spark, pP, q, corpus,
      SimQueries.K, SimQueries.NProbe, rerankR = corpus.count().toInt)
      .collect().map(_.toSeq).toSet
    val float = Similarity.ivfTopKIndexed(spark, path, q, SimQueries.K,
      SimQueries.NProbe).collect().map(_.toSeq).toSet
    assert(deep == float,
      "deep rerank over the pq index must reproduce the float index exactly")
    // at a bounded depth the refine still re-scores exactly (cosines are
    // float-exact, not ADC approximations) and improves on raw ADC
    val bounded = Similarity.ivfTopKReranked(spark, pP, q, corpus,
      SimQueries.K, SimQueries.NProbe, SimQueries.RerankR)
    val exactCos = bounded.join(
        Similarity.bruteForceTopK(q, corpus, corpus.count().toInt)
          .select(col("q_id"), col("c_id"), col("cos").as("bcos")),
        Seq("q_id", "c_id"))
      .filter(col("cos") =!= col("bcos")).count()
    assert(exactCos == 0, s"$exactCos reranked cosines differ from exact scoring")
  }

  test("streaming ingest: foreachBatch appends arriving vectors batch by batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val init = corpus.filter(SimQueries.InitPred)
    val restRows = corpus.filter(s"NOT (${SimQueries.InitPred})")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val p = java.nio.file.Files.createTempDirectory("ivfappstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivfappckpt").toString
    Similarity.buildIvfIndex(init, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = Similarity.appendToIvfIndexStream(
      in.toDS().toDF("vec_id", "embedding"), p, ckpt)
    try {
      val (b1, b2) = restRows.splitAt(restRows.length / 2)
      in.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // the streamed index equals the batch build+append of the same rows
    val pRef = java.nio.file.Files.createTempDirectory("ivfappstreamref").toString
    spark.read.parquet(s"$p/centroids").write.parquet(s"$pRef/centroids")
    copyTree(s"$p/_meta", s"$pRef/_meta")
    Similarity.appendToIvfIndex(corpus, pRef)
    assert(assignedRows(p) == assignedRows(pRef),
      "streamed appends must produce the batch index row-for-row")
  }

  // ---- round-13 lifecycle guards (rebuild, manifest, broadcast, delta) --

  test("rebuild over a deleted index starts delete-free: no inherited tombstones") {
    val p = java.nio.file.Files.createTempDirectory("ivfrebuild").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    val dIds = corpus.filter(DeleteSpecPred).select("vec_id")
    val dSet = dIds.collect().map(_.getLong(0)).toSet
    Similarity.deleteFromIvfIndex(spark, p, dIds)
    val q = corpus.filter(SimQueries.QueryPred)
    def retrieved(): Set[Long] =
      Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, SimQueries.NProbe)
        .select("c_id").collect().map(_.getLong(0)).toSet
    assert(!retrieved().exists(dSet), "pre-rebuild: deletes mask")
    // the drift-rebuild lifecycle: rebuild at the SAME path over a corpus
    // that legitimately contains the previously-deleted ids — the stale
    // tombstone epoch (which lives OUTSIDE assigned/) must not survive to
    // silently mask them
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    val after = retrieved()
    assert(after.nonEmpty && dSet.exists(after),
      "rebuild must not inherit the previous index's tombstones")
    assert(!new java.io.File(s"$p/tombstones").exists(),
      "rebuild clears the tombstone store")
  }

  test("append dispatches on the durable storage manifest, which survives a fully-reclaimed index") {
    val init = corpus.filter(SimQueries.InitPred)
    val rest = corpus.filter(s"NOT (${SimQueries.InitPred})")
    val p = java.nio.file.Files.createTempDirectory("ivfmanifest").toString
    Similarity.buildIvfIndex(init, SimQueries.ClusterCentPred,
      SimQueries.Dim, p, storage = "int8")
    assert(Similarity.readStorageManifest(spark, p).contains("int8"))
    // delete everything and reclaim: every LIVE generation is now empty.
    // keep = 2 still retains the superseded file-bearing generation one
    // cycle, so finish the job the way a later prune/GC does — drop the
    // remaining data files, leaving only empty generation dirs. The raw
    // recursive read then has nothing to infer a schema from: exactly
    // the state where the old data-file dispatch silently fell back to
    // float32 and corrupted a quantized index on the next append
    Similarity.deleteFromIvfIndex(spark, p, init.select("vec_id"))
    Similarity.compactIvfIndex(spark, p)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$p/assigned"))
      .filter(f => f.getName.endsWith(".parquet") || f.getName == "_SUCCESS")
      .foreach(f => assert(f.delete()))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.read.parquet(s"$p/assigned").columns
    }
    assert(e.getMessage.toLowerCase.contains("schema"),
      s"precondition: the reclaimed layout must defeat schema inference, got $e")
    // the append must still land QUANTIZED rows — the manifest, not the
    // (empty) data files, is the dispatch authority
    Similarity.appendToIvfIndex(rest, p)
    val cols = Similarity.readIvfAssigned(spark, p).columns.toSet
    assert(Set("q8", "q8_scale", "qn").subsetOf(cols) && !cols.contains("v"),
      s"append onto a fully-reclaimed int8 index must stay int8, got $cols")
    // and the quantized query path works end to end on the appended rows
    val got = Similarity.ivfTopKIndexed(spark, p,
        rest.limit(2), SimQueries.K, SimQueries.NProbe)
      .select("c_id").collect().map(_.getLong(0))
    assert(got.nonEmpty)
  }

  test("an over-threshold live tombstone set degrades to an unforced anti-join, answers unchanged") {
    val p = java.nio.file.Files.createTempDirectory("ivftombbig").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    Similarity.deleteFromIvfIndex(spark, p,
      corpus.filter(DeleteSpecPred).select("vec_id"))
    val q = corpus.filter(SimQueries.QueryPred)
    def anti(plan: String): Seq[String] =
      plan.linesIterator.filter(_.contains("LeftAnti")).toSeq
    // default: Spark's planner broadcasts the small epoch by its file bytes
    val fast = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, SimQueries.NProbe)
    val expected = fast.collect().map(_.toSeq).toSet
    assert(anti(fast.queryExecution.executedPlan.toString)
      .exists(_.contains("Broadcast")), "broadcast-class sets stay broadcast")
    // over Spark's threshold (here: no size is under it) nothing forces a
    // broadcast — the join plans shuffled, the call an epoch that outgrew
    // the threshold gets at real scale
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val slow = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, SimQueries.NProbe)
      assert(slow.collect().map(_.toSeq).toSet == expected,
        "the fallback path must answer identically")
      slow.count()
      val lines = anti(slow.queryExecution.executedPlan.toString)
      assert(lines.nonEmpty && lines.forall(!_.contains("Broadcast")),
        s"an over-threshold tombstone set must not be forced into a broadcast:\n${lines.mkString("\n")}")
    }
  }

  test("the tombstone broadcast gate sizes the epoch's parquet data, not its checksum sidecars") {
    val p = java.nio.file.Files.createTempDirectory("ivftombcrc").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    val e = Similarity.deleteFromIvfIndex(spark, p,
      corpus.filter(DeleteSpecPred).select("vec_id"))
    val files = new java.io.File(s"$p/tombstones/epoch=$e").listFiles()
      .filter(_.isFile).filterNot(_.getName.startsWith("_"))
    val withCrc = files.map(_.length).sum
    val dataOnly = files.filterNot(_.getName.startsWith(".")).map(_.length).sum
    assert(dataOnly > 0 && withCrc > dataOnly + 1,
      s"precondition: the epoch holds .crc sidecars ($dataOnly data / $withCrc bytes)")
    val q = corpus.filter(SimQueries.QueryPred)
    // the checksummed local filesystem hides `.crc` files from listings; a
    // store that lists them (the raw local filesystem here, or an index
    // copied with its sidecars) must not count them as tombstone data —
    // Spark's file index sizes the epoch's scan without them
    withConf("spark.sql.autoBroadcastJoinThreshold" -> ((dataOnly + withCrc) / 2).toString,
             "fs.file.impl" -> classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName,
             "fs.file.impl.disable.cache" -> "true") {
      val df = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, SimQueries.NProbe)
      df.count()
      val lines = df.queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("LeftAnti")).toSeq
      assert(lines.nonEmpty && lines.forall(_.contains("Broadcast")),
        s"a data size under the threshold must stay broadcast:\n${lines.mkString("\n")}")
    }
  }

  test("a state that records its tombstone epoch's byte count still reads") {
    val p = java.nio.file.Files.createTempDirectory("ivftombbytes").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    val e = Similarity.deleteFromIvfIndex(spark, p,
      corpus.filter(DeleteSpecPred).select("vec_id"))
    val q = corpus.filter(SimQueries.QueryPred)
    val expected = answers(p, q)
    val st = Similarity.indexState(spark, p)
    // the live state as a writer that recorded its epoch's data bytes wrote it
    val f = java.nio.file.Paths.get(s"$p/_meta/v${st.version}")
    val json = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    val withBytes = json.replace(s""""tombs":{"epoch":$e,""",
      s""""tombs":{"epoch":$e,"bytes":1234,""")
    assert(withBytes != json, s"precondition: the state names epoch $e: $json")
    java.nio.file.Files.write(f, withBytes.getBytes("UTF-8"))
    // (its checksum sidecar now describes the old bytes)
    java.nio.file.Files.delete(f.resolveSibling(s".v${st.version}.crc"))
    assert(Similarity.indexState(spark, p) == st)
    assert(answers(p, q) == expected)
    // the next commit writes the state without the field
    Similarity.deleteFromIvfIndex(spark, p, corpus.filter("vec_id % 9 = 5").select("vec_id"))
    val next = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$p/_meta/v${st.version + 1}")), "UTF-8")
    assert(next.contains("\"tombs\"") && !next.contains("\"bytes\""), next)
  }

  test("re-deleting already-live ids skips the epoch write and returns the covering epoch") {
    val p = java.nio.file.Files.createTempDirectory("ivfnoopdel").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    def epochs(): Set[Long] = new java.io.File(s"$p/tombstones").listFiles()
      .map(_.getName).filter(_.startsWith("epoch="))
      .map(_.stripPrefix("epoch=").toLong).toSet
    def live(): Option[Long] = Similarity.indexState(spark, p).tombs.map(_.epoch)
    val e1 = Similarity.deleteFromIvfIndex(spark, p,
      corpus.filter("vec_id % 7 = 1").select("vec_id"))
    val before = epochs()
    // replay/no-op: a subset of the live set must not rewrite the epoch
    // (the per-epoch curation hook is exactly this high-frequency caller)
    val e2 = Similarity.deleteFromIvfIndex(spark, p,
      corpus.filter("vec_id % 14 = 1").select("vec_id"))
    assert(e2 == e1 && epochs() == before && live().contains(e1),
      "an already-covered delete must be a no-op, not a full-set rewrite")
    // any genuinely new id still writes
    val e3 = Similarity.deleteFromIvfIndex(spark, p,
      corpus.filter("vec_id % 7 = 2").select("vec_id"))
    assert(e3 == e1 + 1 && epochs().contains(e3) && live().contains(e3))
  }

  test("a lagging reader keeps its tombstone epoch through one compaction, however many deletes ran") {
    val p = java.nio.file.Files.createTempDirectory("ivflagtomb").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    def epochs(): Set[Long] = new java.io.File(s"$p/tombstones").listFiles()
      .map(_.getName).filter(_.startsWith("epoch="))
      .map(_.stripPrefix("epoch=").toLong).toSet
    val q = corpus.filter(SimQueries.QueryPred)
    def query() = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, SimQueries.NProbe)
    // Delete, ResolveLagging, Delete, Compact: the reader's plan holds epoch 0
    Similarity.deleteFromIvfIndex(spark, p, corpus.filter("vec_id % 7 = 1").select("vec_id"))
    val lagging = query()
    lagging.inputFiles // resolve the file lists now
    val expected = query().collect().map(_.toSeq).toSet
    Similarity.deleteFromIvfIndex(spark, p, corpus.filter("vec_id % 7 = 2").select("vec_id"))
    assert(epochs() == Set(0L, 1L), "a delete must not prune the epoch a reader holds")
    Similarity.compactIvfIndex(spark, p)
    assert(lagging.collect().map(_.toSeq).toSet == expected,
      "one compaction must not delete the epoch a reader resolved before it")
    // a delete after the first compaction writes epoch 2, and a reader
    // resolved then holds it
    Similarity.deleteFromIvfIndex(spark, p, corpus.filter("vec_id % 7 = 3").select("vec_id"))
    val held = query()
    held.inputFiles
    val heldExpected = query().collect().map(_.toSeq).toSet
    // a second compaction drops what the first left behind, and only that:
    // the epoch written after the first one stays, though no longer live
    Similarity.compactIvfIndex(spark, p)
    assert(epochs() == Set(2L) && liveTombIds(p).isEmpty)
    assert(held.collect().map(_.toSeq).toSet == heldExpected,
      "a compaction must not delete the epoch written after the previous one")
    assert(query().collect().map(_.toSeq).toSet == heldExpected)
  }

  test("curation hook applies only the drop DELTA: retired drops are never re-tombstoned") {
    val p = java.nio.file.Files.createTempDirectory("ivfcuradelta").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    val epochDir = java.nio.file.Files.createTempDirectory("curadelta").toString
    def drops(pred: String) =
      corpus.filter(pred).select(col("vec_id").as("doc_id"))
    def ids(pred: String): Set[Long] =
      drops(pred).collect().map(_.getLong(0)).toSet
    def liveTombs(): Set[Long] = liveTombIds(p).getOrElse(Set.empty)
    // epoch 0: first drop wave applied, then physically reclaimed+retired
    drops("vec_id % 11 = 5").write.parquet(s"$epochDir/epoch=0")
    assert(Similarity.deleteCurationDropsFromIvfIndex(spark, p, epochDir).isDefined)
    assert(liveTombs() == ids("vec_id % 11 = 5"))
    Similarity.compactIvfIndex(spark, p)
    assert(liveTombIds(p).isEmpty, "compaction retires the applied set")
    // epoch 1 is CUMULATIVE (old ∪ new): only the new drops may land — the
    // round-12 bug re-tombstoned the full history every epoch, growing the
    // live set to O(all drops ever) and breaking its broadcast contract
    drops("vec_id % 11 = 5 OR vec_id % 11 = 6").write.parquet(s"$epochDir/epoch=1")
    assert(Similarity.deleteCurationDropsFromIvfIndex(spark, p, epochDir).isDefined)
    assert(liveTombs() == ids("vec_id % 11 = 6"),
      s"only the delta may be live, got ${liveTombs().size} ids")
    // replay of an already-applied epoch: watermark no-op, nothing written
    val before = liveTombs()
    assert(Similarity.deleteCurationDropsFromIvfIndex(spark, p, epochDir).isEmpty)
    assert(liveTombs() == before)
    // retention pruned the last-applied artifact: the fallback diffs
    // against ids still PHYSICALLY present — reclaimed drops (11%5) stay
    // out, unreclaimed-but-tombstoned ones (11%6) are absorbed by the
    // delete's own no-op union, new ones (11%7) land
    drops("vec_id % 11 = 5 OR vec_id % 11 = 6 OR vec_id % 11 = 7")
      .write.parquet(s"$epochDir/epoch=2")
    graft.streaming.CurationStream.pruneEpochs(spark, epochDir, keep = 1)
    assert(!new java.io.File(s"$epochDir/epoch=1").exists(),
      "precondition: the last-applied artifact is pruned")
    assert(Similarity.deleteCurationDropsFromIvfIndex(spark, p, epochDir).isDefined)
    assert(liveTombs() == ids("vec_id % 11 = 6 OR vec_id % 11 = 7"),
      "fallback delta = drops still physically present, never reclaimed history")
  }

  test("selectivity-aware probe widening reaches recall >= 0.9 with no manual nprobe override") {
    val lab = graft.io.Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val c = corpus.join(lab, "vec_id")
    val p = java.nio.file.Files.createTempDirectory("ivfautowiden").toString
    Similarity.buildIvfIndex(c, SimQueries.ClusterCentPred, SimQueries.Dim, p,
      carry = Seq("label"))
    // the hard regime: the RAREST label — a highly selective predicate
    // thins qualifying vectors per probed cell (the sf10 century tier
    // measured recall 0.75 at 0.004 selectivity before widening)
    val rare = lab.groupBy("label").count()
      .orderBy(col("count"), col("label")).first().get(0)
    val pred = col("label") === lit(rare)
    val q = c.filter(SimQueries.QueryPred)
    val truth = Similarity.bruteForceTopK(q, c.filter(pred), SimQueries.K)
      .select("q_id", "c_id")
    val nTruth = truth.count().toDouble
    assert(nTruth > 0, "fixture must hold rare-label rows")
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select("q_id", "c_id").join(truth, Seq("q_id", "c_id"), "left_semi")
        .count() / nTruth
    // a deliberately narrow base probe under-fills the qualifying set
    val base = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, nprobe = 1,
      candidateFilter = Some(pred))
    // AUTO: same narrow nprobe, widening on — the engine estimates the
    // qualifying density over the base probe set and widens itself
    val auto = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, nprobe = 1,
      candidateFilter = Some(pred), probeWidenTarget = Some(4))
    def cellsListed(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.filter(_.contains("/assigned/"))
        .map(_.split("/assigned/")(1).split("/")(0)).distinct.length
    assert(cellsListed(auto) > cellsListed(base),
      "the auto path must actually widen the probed-cell scan")
    val (rBase, rAuto) = (recallOf(base), recallOf(auto))
    assert(rAuto >= 0.9, s"auto-widened recall $rAuto < 0.9 (base was $rBase)")
    assert(rAuto >= rBase, "widening must never lose recall")
    // every returned candidate still satisfies the predicate, and top-k
    // semantics are unchanged in form
    assert(auto.join(lab.withColumnRenamed("vec_id", "c_id"), "c_id")
      .collect().forall(_.getAs[Any]("label") == rare))
    // an unfiltered query ignores the knob entirely (no estimate pass)
    val plain = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K,
      SimQueries.NProbe, probeWidenTarget = Some(4))
    val ref = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, SimQueries.NProbe)
    assert(plain.collect().map(_.toSeq).toSet == ref.collect().map(_.toSeq).toSet)
  }

  test("streaming ingest with compactEvery bounds per-cell files inline; answers and rows unchanged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val init = corpus.filter(SimQueries.InitPred)
    val restRows = corpus.filter(s"NOT (${SimQueries.InitPred})")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val p = java.nio.file.Files.createTempDirectory("ivfstreamcomp").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivfstreamcompck").toString
    Similarity.buildIvfIndex(init, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    val in = MemoryStream[(Long, Array[Float])](spark)
    // the stream IS the single maintenance writer: it compacts its own
    // small files every 2nd committed batch (the knob the century
    // trigger-size pair showed matters — per-trigger cost grows with
    // accumulated appends)
    val q = Similarity.appendToIvfIndexStream(
      in.toDS().toDF("vec_id", "embedding"), p, ckpt, compactEvery = Some(2))
    try {
      // exactly 4 batches (ceil split), so the cadence ends on a
      // compacting batch and the final state is the bounded one
      restRows.grouped(((restRows.length + 3) / 4).max(1)).foreach { b =>
        in.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // inline compaction left nothing to do: no cell over the file
    // threshold, no tombstones — a fresh maintenance pass is a no-op
    assert(Similarity.compactIvfIndex(spark, p).isEmpty,
      "compactEvery must leave every cell at its compacted file count")
    // rows and answers survived the interleaved compactions
    val pRef = java.nio.file.Files.createTempDirectory("ivfstreamcompref").toString
    spark.read.parquet(s"$p/centroids").write.parquet(s"$pRef/centroids")
    copyTree(s"$p/_meta", s"$pRef/_meta")
    Similarity.appendToIvfIndex(corpus, pRef)
    assert(assignedRows(p) == assignedRows(pRef),
      "inline compaction must preserve the streamed index row-for-row")
    val qy = corpus.filter(SimQueries.QueryPred)
    val got = Similarity.ivfTopKIndexed(spark, p, qy, SimQueries.K, SimQueries.NProbe)
      .collect().map(_.toSeq).toSet
    val ref = Similarity.ivfTopKIndexed(spark, pRef, qy, SimQueries.K, SimQueries.NProbe)
      .collect().map(_.toSeq).toSet
    assert(got == ref)
  }

  test("streaming ingest onto a pq index uses the cached codebooks: batch-identical rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val init = corpus.filter(SimQueries.InitPred)
    val restRows = corpus.filter(s"NOT (${SimQueries.InitPred})")
      .collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray))
    val p = java.nio.file.Files.createTempDirectory("ivfstreampq").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ivfstreampqck").toString
    Similarity.buildIvfIndex(init, SimQueries.ClusterCentPred, SimQueries.Dim, p,
      storage = "pq", pqM = SimQueries.PqM, pqK = SimQueries.PqK)
    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = Similarity.appendToIvfIndexStream(
      in.toDS().toDF("vec_id", "embedding"), p, ckpt)
    try {
      val (b1, b2) = restRows.splitAt(restRows.length / 2)
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    // the streamed pq index equals batch build+append of the same rows
    // (the cached codebooks are the STORED ones, never retrained)
    val pRef = java.nio.file.Files.createTempDirectory("ivfstreampqref").toString
    Similarity.buildIvfIndex(init, SimQueries.ClusterCentPred, SimQueries.Dim, pRef,
      storage = "pq", pqM = SimQueries.PqM, pqK = SimQueries.PqK)
    Similarity.appendToIvfIndex(corpus.filter(s"NOT (${SimQueries.InitPred})"), pRef)
    def pqRows(pp: String): Set[Seq[Any]] =
      Similarity.readIvfAssigned(spark, pp)
        .select(col("c_id"), col("cell"), col("codes"), col("rn"))
        .collect().map(_.toSeq.map {
          case a: scala.collection.Seq[_] => a.toList
          case x => x
        }).toSet
    assert(pqRows(p) == pqRows(pRef),
      "streamed pq appends must encode against the stored codebooks batch-identically")
  }

  test("query path has no assignment sweep") {
    val q = corpus.filter(SimQueries.QueryPred)
    val plan = Similarity.ivfTopKIndexed(spark, path, q, SimQueries.K,
      SimQueries.NProbe).queryExecution.optimizedPlan.toString
    // build-time assignment is a max_by aggregation over the whole
    // corpus; at query time the stored cells are read back instead —
    // no max_by anywhere in the plan
    assert(!plan.contains("max_by"),
      "query-time plan must read stored assignments, not recompute them")
  }

  test("in-memory IVF plans: no crossJoin, no max_by, one Window (the final rank)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window}
    val q = corpus.filter(SimQueries.QueryPred)
    // (windows, condition-less joins, max_by present)
    def shape(df: org.apache.spark.sql.DataFrame): (Int, Int, Boolean) = {
      val p = df.queryExecution.optimizedPlan
      (p.collect { case w: Window => w }.size,
        p.collect { case j: Join if j.condition.isEmpty => j }.size,
        p.toString.contains("max_by"))
    }
    // the assignment and the probe run map-only in the ArgTopCells kernel;
    // the one Window left is rankTopK's per-query top-k, as in the index
    val topk = Similarity.ivfTopK(q, corpus, SimQueries.K,
      SimQueries.ClusterCentPred, SimQueries.NProbe)
    val refined = Similarity.ivfTopKRefined(q, corpus, SimQueries.K,
      SimQueries.ClusterCentPred, SimQueries.NProbe, SimQueries.Dim)
    assert(shape(topk) == ((1, 0, false)))
    assert(shape(refined) == ((1, 0, false)))
    assert(shape(Similarity.ivfRefinedScored(q, corpus, SimQueries.ClusterCentPred,
      SimQueries.NProbe, SimQueries.Dim)) == ((0, 0, false)))
    // an empty centroid set: no cells, no candidates — the typed empty frame
    val empty = Similarity.ivfTopK(q, corpus, SimQueries.K, "vec_id < 0",
      SimQueries.NProbe)
    assert(empty.collect().isEmpty)
    assert(empty.schema.map(f => (f.name, f.dataType)) ==
      topk.schema.map(f => (f.name, f.dataType)))
  }

  test("a carry column named like a kernel scratch column fails the build by name") {
    val p = java.nio.file.Files.createTempDirectory("ivfreserved").toString
    for (c <- Seq("__ac", "__tc")) {
      val e = intercept[IllegalArgumentException](
        Similarity.buildIvfIndex(corpus.withColumn(c, lit(1)),
          SimQueries.ClusterCentPred, SimQueries.Dim, p, carry = Seq(c)))
      assert(e.getMessage.startsWith(s"requirement failed: carry column(s) $c collide"),
        e.getMessage)
    }
  }

  test("duplicate query ids fail the shared probe by name, indexed and in-memory") {
    val q = corpus.filter(SimQueries.QueryPred)
    val dupId = q.select("vec_id").head().getLong(0)
    val dup = q.unionByName(q.filter(col("vec_id") === dupId))
    def check(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains(s"query ids must be unique: vec_id = $dupId"),
        e.getMessage)
    }
    check(Similarity.ivfTopKIndexed(spark, path, dup, SimQueries.K, SimQueries.NProbe))
    check(Similarity.ivfTopK(dup, corpus, SimQueries.K,
      SimQueries.ClusterCentPred, SimQueries.NProbe))
  }

  // ---- the index handle: one read of what a build fixes ------------------

  private def answers(p: String, q: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, SimQueries.NProbe)
      .collect().map(_.toSeq).toSet

  private def copyTree(src: String, dst: String): Unit = {
    val from = java.nio.file.Paths.get(src)
    val to = java.nio.file.Paths.get(dst)
    val files = java.nio.file.Files.walk(from)
    try files.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(f, t)
    } finally files.close()
  }

  test("a rebuild at the same path is never served from the previous build's handle") {
    val p = java.nio.file.Files.createTempDirectory("ivfrebuildform").toString
    // the same index under a second spelling: the rebuild below refreshes
    // the handle it writes through, so only the centroid listing can tell
    // this one that its build is gone
    val alias = s"file:$p"
    val q = corpus.filter(SimQueries.QueryPred)
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    val asFloat = answers(alias, q)
    assert(asFloat == answers(path, q))
    // same path, same JVM: another corpus, another stored form
    val other = corpus.filter("vec_id % 3 <> 1")
    def buildPq(at: String): Unit =
      Similarity.buildIvfIndex(other, SimQueries.ClusterCentPred, SimQueries.Dim, at,
        storage = "pq", pqM = SimQueries.PqM, pqK = SimQueries.PqK)
    buildPq(p)
    val rebuilt = answers(alias, q)
    // a fresh twin: the same build at a path no handle has seen
    val twin = java.nio.file.Files.createTempDirectory("ivfrebuildtwin").toString
    buildPq(twin)
    assert(rebuilt == answers(twin, q))
    assert(answers(p, q) == rebuilt)
    assert(rebuilt != asFloat, "the rebuilt index must answer from its own build")
    assert(Similarity.readIvfAssigned(spark, alias).columns.contains("codes"))
  }

  /** Jobs `body` runs, counted by a SparkListener on this thread's job
    * group. A marker job after the body flushes the listener bus: one
    * listener receives events in order.
    */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"ivf-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-end" => flushed.countDown()
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(s"$group-end", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
    jobs.get
  }

  test("a repeated indexed query re-reads no centroids and infers no schema") {
    val q = corpus.filter(SimQueries.QueryPred)
    answers(path, q) // warm
    // 8 queries over the sf0.001 planted-cluster float32 index: 8 jobs
    // before the index handle (centroid inference + collect and assigned/
    // inference on every call), 5 with it (the probe collect, then the
    // query's own stages). With a live tombstone epoch: 10 -> 6.
    val jobs = jobsOf(answers(path, q))
    assert(jobs <= 5, s"a warm indexed query ran $jobs jobs")
  }

  private def deleteTree(dir: String): Unit = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try files.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => java.nio.file.Files.delete(f))
    finally files.close()
  }

  test("an index without a manifest fails by name on query and on append") {
    val p = java.nio.file.Files.createTempDirectory("ivfmanifested").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p,
      storage = "pq", pqM = SimQueries.PqM, pqK = SimQueries.PqK)
    val q = corpus.filter(SimQueries.QueryPred)
    val expected = answers(p, q)
    // a copy at a fresh path gets a fresh handle, which must read the manifest
    val bare = java.nio.file.Files.createTempDirectory("ivfnomanifest").toString
    copyTree(p, bare)
    deleteTree(s"$bare/_meta")
    // the older layout: one `_meta/manifest` file and no state versions
    val older = java.nio.file.Files.createTempDirectory("ivfoldmanifest").toString
    copyTree(bare, older)
    val m = Similarity.indexState(spark, p).manifest
    assert(new java.io.File(s"$older/_meta").mkdir())
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$older/_meta/manifest"),
      s"""{"storage":"${m.storage}","layout":${m.layout.json}}""".getBytes("UTF-8"))
    for (dir <- Seq(bare, older)) {
      val fails = Seq[(String, () => Unit)](
        "query" -> (() => answers(dir, q)),
        "append" -> (() => Similarity.appendToIvfIndex(corpus.limit(1), dir)))
      for ((op, run) <- fails) {
        val e = intercept[IllegalStateException](run())
        assert(e.getMessage.contains("no index manifest") && e.getMessage.contains("rebuild it"),
          s"$dir $op: ${e.getMessage}")
      }
    }
    assert(!new java.io.File(s"$bare/_meta").exists(), "a failed call wrote a manifest")
    assert(new java.io.File(s"$older/_meta").list().toSeq == Seq("manifest"),
      "a failed call wrote a state")
    assert(answers(p, q) == expected)
  }

  test("a rebuild at the same path with another storage answers like a fresh build") {
    val q = corpus.filter(SimQueries.QueryPred)
    val added = corpus.filter("vec_id < 4")
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    def build(at: String, storage: String): Unit =
      Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, at,
        storage = storage, pqM = SimQueries.PqM, pqK = SimQueries.PqK)
    def schemaOf(at: String) =
      Similarity.readIvfAssigned(spark, at).schema.map(f => (f.name, f.dataType))
    val p = java.nio.file.Files.createTempDirectory("ivfrestore").toString
    build(p, "float32")
    Similarity.deleteFromIvfIndex(spark, p, corpus.filter(DeleteSpecPred).select("vec_id"))
    // every change of stored form, one after another at one path
    for (storage <- Seq("pq", "float32", "int8", "pq")) {
      build(p, storage)
      val fresh = java.nio.file.Files.createTempDirectory(s"ivffresh$storage").toString
      build(fresh, storage)
      assert(Similarity.readStorageManifest(spark, p) == storage)
      assert(schemaOf(p) == schemaOf(fresh), storage)
      assert(answers(p, q) == answers(fresh, q), storage)
      // a second spelling of the path opens its handle from the store
      assert(answers(s"file:$p", q) == answers(fresh, q), storage)
      // and an append encodes in the rebuilt form
      Similarity.appendToIvfIndex(added, p)
      Similarity.appendToIvfIndex(added, fresh)
      assert(schemaOf(p) == schemaOf(fresh), storage)
      assert(answers(p, q) == answers(fresh, q), storage)
      assert(new java.io.File(s"$p/pq_codebooks").exists() == (storage == "pq"), storage)
    }
  }

  test("a delete with ids narrower than the index's c_id still masks and reclaims") {
    val p = java.nio.file.Files.createTempDirectory("ivfintdel").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    assert(Similarity.readIvfAssigned(spark, p).schema("c_id").dataType ==
      org.apache.spark.sql.types.LongType)
    val q = corpus.filter(SimQueries.QueryPred)
    val dSet = corpus.filter(DeleteSpecPred).collect().map(_.getAs[Long]("vec_id")).toSet
    val expected = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, SimQueries.NProbe,
        candidateFilter = Some(!col("c_id").isInCollection(dSet)))
      .collect().map(_.toSeq).toSet
    Similarity.deleteFromIvfIndex(spark, p,
      corpus.filter(DeleteSpecPred).select(col("vec_id").cast("int").as("vec_id")))
    assert(answers(p, q) == expected)
    Similarity.compactIvfIndex(spark, p)
    assert(!Similarity.readIvfAssigned(spark, p).select("c_id").collect()
      .map(_.getLong(0)).exists(dSet), "compaction must reclaim the int-typed ids")
    assert(answers(p, q) == expected)
  }

  // ---- native kernels are plain columns: no session state per call

  test("index lifecycle, LSH and signature kernels leave the session's function registry untouched") {
    val registry = spark.sessionState.functionRegistry
    def snapshot() = registry.listFunction().map(id => id -> registry.lookupFunctionBuilder(id))
    val before = snapshot()
    val q = corpus.filter(SimQueries.QueryPred)
    for (storage <- Seq("float32", "pq")) {
      val p = java.nio.file.Files.createTempDirectory(s"ivfreg$storage").toString
      Similarity.buildIvfIndex(corpus.filter("vec_id % 5 <> 3"), SimQueries.ClusterCentPred,
        SimQueries.Dim, p, storage = storage, pqM = SimQueries.PqM, pqK = SimQueries.PqK)
      Similarity.appendToIvfIndex(corpus.filter("vec_id % 5 = 3"), p)
      assert(answers(p, q).nonEmpty)
      Similarity.deleteFromIvfIndex(spark, p, corpus.filter(DeleteSpecPred).select("vec_id"))
      Similarity.compactIvfIndex(spark, p)
      assert(answers(p, q).nonEmpty)
    }
    Similarity.lshTopKMulti(q, corpus, SimQueries.K, SimQueries.Dim, SimQueries.Planes,
      SimQueries.NTables, SimQueries.ProbeR).collect()
    Similarity.cosinePairsLsh(corpus, 0.9, SimQueries.Dim, SimQueries.Planes,
      SimQueries.NTables).collect()
    val docs = graft.io.Tables.documents(spark, dir).limit(40)
    for (once <- Seq(false, true)) {
      graft.dedup.Dedup.withMinhash(docs, evalOnce = once).collect()
      graft.dedup.Dedup.withSimhash(docs, evalOnce = once).collect()
    }
    val after = snapshot()
    assert(after.map(_._1) == before.map(_._1), "the registered names changed")
    before.zip(after).foreach { case ((id, b0), (_, b1)) =>
      assert(b0.zip(b1).forall { case (x, y) => x eq y }, s"$id was re-registered")
    }
  }

  test("two threads querying two indexes with different centroid tables keep their own tables") {
    val pA = java.nio.file.Files.createTempDirectory("ivfthreadA").toString
    val pB = java.nio.file.Files.createTempDirectory("ivfthreadB").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, pA)
    Similarity.buildIvfIndex(corpus, "vec_id % 53 = 7", SimQueries.Dim, pB)
    val batches = (0 until 20).map(b => corpus.filter(s"vec_id % 25 = $b"))
    // one probe: the answer depends on which cells the centroid table ranks first
    def run(p: String) = batches.map(q =>
      Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, 1).collect().map(_.toSeq).toSet)
    val (twinA, twinB) = (run(pA), run(pB))
    assert(twinA != twinB, "precondition: the two centroid tables answer differently")
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = Seq(pA, pB).map { p =>
      val box = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, Seq[Set[Seq[Any]]]]]()
      val t = new Thread(() => {
        start.await()
        box.set(try Right(run(p)) catch { case e: Throwable => Left(e) })
      })
      t.start()
      (t, box)
    }
    start.countDown()
    results.foreach(_._1.join())
    val Seq(gotA, gotB) = results.map(_._2.get.fold(e => throw e, identity))
    assert(gotA == twinA && gotB == twinB)
  }

  // ---- the index state: one versioned record, one read per call ---------

  /** The state versions in `p/_meta`, ascending. */
  private def stateVersions(p: String): Seq[Long] =
    new java.io.File(s"$p/_meta").list().toSeq
      .filter(_.matches("v\\d+")).map(_.stripPrefix("v").toLong).sorted

  /** Drops state version `v` of the index at `p` and its checksum sidecar. */
  private def dropState(p: String, v: Long): Unit =
    Seq(s"v$v", s".v$v.crc").foreach(n =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$p/_meta/$n")))

  test("state versions stay bounded: 12 compactions keep at most two, answers unchanged") {
    val p = java.nio.file.Files.createTempDirectory("ivfbounded").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    val q = corpus.filter(SimQueries.QueryPred)
    val dSet = corpus.filter(DeleteSpecPred).collect().map(_.getAs[Long]("vec_id")).toSet
    val expected = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, SimQueries.NProbe,
        candidateFilter = Some(!col("c_id").isInCollection(dSet)))
      .collect().map(_.toSeq).toSet
    for (i <- 0 until 12) {
      Similarity.deleteFromIvfIndex(spark, p,
        corpus.filter(s"$DeleteSpecPred AND vec_id % 12 = $i").select("vec_id"))
      Similarity.compactIvfIndex(spark, p)
      assert(stateVersions(p).size <= 2, s"round $i: ${stateVersions(p)}")
    }
    // each delete and each compaction committed one version
    assert(stateVersions(p).last == 24 && Similarity.indexState(spark, p).version == 24)
    assert(answers(p, q) == expected)
    // tombstone epochs and generations stay bounded too
    assert(new java.io.File(s"$p/tombstones").list().count(_.startsWith("epoch=")) <= 2)
    new java.io.File(s"$p/assigned").listFiles().filter(_.getName.startsWith("cell="))
      .foreach(c => assert(c.list().count(_.startsWith("g=")) <= 2, c.getName))
  }

  test("an epoch written but never committed is invisible, and the next delete takes its id") {
    val p = java.nio.file.Files.createTempDirectory("ivfuncommitted").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    val q = corpus.filter(SimQueries.QueryPred)
    val (x, y, z) = ("vec_id % 7 = 1", "vec_id % 7 = 2", "vec_id % 7 = 3")
    def ids(preds: String*): Set[Long] =
      corpus.filter(preds.mkString(" OR ")).collect().map(_.getAs[Long]("vec_id")).toSet
    def without(preds: String*): Set[Seq[Any]] =
      Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, SimQueries.NProbe,
          candidateFilter = Some(!col("c_id").isInCollection(ids(preds: _*))))
        .collect().map(_.toSeq).toSet
    val (expX, expXY, expXZ) = (without(x), without(x, y), without(x, z))
    assert(expX != expXY, "precondition: the second delete changes the answers")
    def delete(pred: String): Long =
      Similarity.deleteFromIvfIndex(spark, p, corpus.filter(pred).select("vec_id"))
    assert(delete(x) == 0L && delete(y) == 1L)
    // the second delete crashed after its epoch write, before its commit
    dropState(p, Similarity.indexState(spark, p).version)
    assert(new java.io.File(s"$p/tombstones/epoch=1").isDirectory)
    assert(answers(p, q) == expX, "an uncommitted epoch must not mask its ids")
    // the next delete takes the uncommitted epoch's id and brings no id back
    assert(delete(z) == 1L)
    assert(answers(p, q) == expXZ)
    assert(liveTombIds(p).contains(ids(x, z)))
  }

  test("no state version records a curation watermark past drops it does not tombstone") {
    val p = java.nio.file.Files.createTempDirectory("ivfcurawm").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    val epochDir = java.nio.file.Files.createTempDirectory("curawm").toString
    val drops = Seq("vec_id % 11 = 5", "vec_id % 11 = 5 OR vec_id % 11 = 6")
    for ((pred, e) <- drops.zipWithIndex) {
      corpus.filter(pred).select(col("vec_id").as("doc_id")).write.parquet(s"$epochDir/epoch=$e")
      assert(Similarity.deleteCurationDropsFromIvfIndex(spark, p, epochDir).isDefined)
    }
    // every kept version, read as the newest: the index a crash right
    // after that version's commit leaves
    val versions = stateVersions(p)
    val marks = versions.map { v =>
      val c = java.nio.file.Files.createTempDirectory("ivfcurawmv").toString
      copyTree(p, c)
      stateVersions(c).filter(_ > v).foreach(dropState(c, _))
      val st = Similarity.indexState(spark, c)
      assert(st.version == v)
      val tombs = liveTombIds(c).getOrElse(Set.empty)
      st.curationApplied.foreach(w => (0L to w).foreach { e =>
        val want = corpus.filter(drops(e.toInt)).collect().map(_.getAs[Long]("vec_id")).toSet
        assert(want.subsetOf(tombs), s"v$v: watermark $w, epoch $e not tombstoned")
      })
      st.curationApplied
    }
    assert(marks == Seq(Some(0L), Some(1L)), s"versions $versions marks $marks")
  }

  test("after build, append, delete and compact an index holds only its stores, cells, epochs and states") {
    import scala.jdk.CollectionConverters._
    for (storage <- Seq("float32", "pq")) {
      val p = java.nio.file.Files.createTempDirectory(s"ivflayout$storage").toString
      Similarity.buildIvfIndex(corpus.filter(SimQueries.InitPred), SimQueries.ClusterCentPred,
        SimQueries.Dim, p, storage = storage, pqM = SimQueries.PqM, pqK = SimQueries.PqK)
      Similarity.appendToIvfIndex(corpus.filter(s"NOT (${SimQueries.InitPred})"), p)
      Similarity.deleteFromIvfIndex(spark, p, corpus.filter(DeleteSpecPred).select("vec_id"))
      Similarity.compactIvfIndex(spark, p)
      Similarity.deleteFromIvfIndex(spark, p, corpus.filter("vec_id = 11").select("vec_id"))
      val allowed = Seq("centroids(/[^/]+)?", "assigned(/cell=\\d+(/g=\\d+(/[^/]+)?)?)?",
        "tombstones(/epoch=\\d+(/[^/]+)?)?", "_meta(/v\\d+)?") ++
        (if (storage == "pq") Seq("pq_codebooks(/[^/]+)?") else Nil)
      val root = java.nio.file.Paths.get(p)
      val walk = java.nio.file.Files.walk(root)
      val stray = try walk.iterator().asScala.drop(1).map(root.relativize(_).toString)
          // Hadoop's job markers and checksum sidecars
          .filterNot { r => val n = r.split('/').last; n == "_SUCCESS" || n.startsWith(".") }
          .filterNot(r => allowed.exists(r.matches)).toList
        finally walk.close()
      assert(stray.isEmpty, s"$storage: $stray")
      assert(new java.io.File(s"$p/pq_codebooks").exists() == (storage == "pq"), storage)
    }
  }

  /** The filesystem calls `body` makes on local paths, as (kind, path). */
  private def recorded(body: => Unit): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    RecordingLocalFs.calls.clear()
    withConf("fs.file.impl" -> classOf[RecordingLocalFs].getName,
             "fs.file.impl.disable.cache" -> "true")(body)
    RecordingLocalFs.calls.asScala.toList
  }

  test("a query and an append read the state once and list no centroids, tombstones or summaries") {
    val p = java.nio.file.Files.createTempDirectory("ivfmetacalls").toString
    Similarity.buildIvfIndex(corpus.filter(SimQueries.InitPred), SimQueries.ClusterCentPred,
      SimQueries.Dim, p)
    // two epochs on disk, the newer live
    Similarity.deleteFromIvfIndex(spark, p, corpus.filter("vec_id % 7 = 1").select("vec_id"))
    Similarity.deleteFromIvfIndex(spark, p, corpus.filter("vec_id % 7 = 2").select("vec_id"))
    val q = corpus.filter(SimQueries.QueryPred)
    val expected = answers(p, q) // opens the handle
    def check(op: String, calls: Seq[(String, String)], stateLists: Int): Unit = {
      def n(kind: String, at: String => Boolean) = calls.count(c => c._1 == kind && at(c._2))
      val msg = s"$op: ${calls.mkString("\n")}"
      assert(n("list", _ == s"$p/_meta") == stateLists, msg)
      assert(n("open", _.startsWith(s"$p/_meta/")) == stateLists, msg)
      assert(!calls.exists(_._2.startsWith(s"$p/centroids")), msg)
      assert(n("list", _ == s"$p/tombstones") == 0, msg)
      assert(!calls.exists(c => c._2.contains("_gens") ||
        c._2.startsWith(s"$p/tombstones") && c._2.endsWith("/_SUCCESS")), msg)
    }
    var got = Set.empty[Seq[Any]]
    val query = recorded { got = answers(p, q) }
    assert(got == expected)
    check("query", query, 1)
    assert(query.count(_ == ("list" -> s"$p/assigned")) == 1, query.mkString("\n"))
    check("append", recorded(Similarity.appendToIvfIndex(
      corpus.filter(s"NOT (${SimQueries.InitPred}) AND vec_id % 7 = 4"), p)), 1)
    // a version pruned between a reader's listing and its open (two
    // commits ran in between): the reader lists again and opens the newer
    val warm = answers(p, q)
    RecordingLocalFs.beforeOpen.set { f =>
      val v = f.getName.stripPrefix("v").toLong
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$p/_meta/v$v"),
        java.nio.file.Paths.get(s"$p/_meta/v${v + 2}"))
      dropState(p, v)
    }
    val relisted = recorded { got = answers(p, q) }
    assert(got == warm)
    check("re-listed query", relisted, 2)
    assert(RecordingLocalFs.beforeOpen.get == null)
  }

  test("two writers committing from one state: the second fails by name, the first's update stands") {
    val p = java.nio.file.Files.createTempDirectory("ivftwowriters").toString
    Similarity.buildIvfIndex(corpus, SimQueries.ClusterCentPred, SimQueries.Dim, p)
    val q = corpus.filter(SimQueries.QueryPred)
    val (x, y) = ("vec_id % 7 = 1", "vec_id % 7 = 2")
    def ids(pred: String): Set[Long] =
      corpus.filter(pred).collect().map(_.getAs[Long]("vec_id")).toSet
    val expected = Similarity.ivfTopKIndexed(spark, p, q, SimQueries.K, SimQueries.NProbe,
        candidateFilter = Some(!col("c_id").isInCollection(ids(s"$x OR $y"))))
      .collect().map(_.toSeq).toSet
    def delete(pred: String): Long =
      Similarity.deleteFromIvfIndex(spark, p, corpus.filter(pred).select("vec_id"))
    delete(x)
    val read = Similarity.indexState(spark, p)
    assert(read.tombs.nonEmpty && read.gens.isEmpty)
    // a compaction commits while a delete holds the state both read
    RecordingLocalFs.beforeOpen.set(_ => Similarity.compactIvfIndex(spark, p))
    val e = intercept[java.util.ConcurrentModificationException](recorded(delete(y)))
    assert(RecordingLocalFs.beforeOpen.get == null)
    assert(e.getMessage.contains(s"v${read.version + 1} already exists") &&
      e.getMessage.contains("another writer"), e.getMessage)
    // the compaction's version stands: nothing tombstoned, cells compacted
    val won = Similarity.indexState(spark, p)
    assert(won.version == read.version + 1 && won.tombs.isEmpty && won.gens.nonEmpty)
    assert(!new java.io.File(s"$p/_meta").list().exists(_.endsWith(".tmp")))
    // the losing delete, retried, applies on top of it
    delete(y)
    assert(answers(p, q) == expected)
    assert(liveTombIds(p).contains(ids(y)))
  }
}

/** The local filesystem, recording the listings, status probes and opens
  * it serves as (kind, path), and running `beforeOpen` once, before the
  * first open of a file under a `_meta` directory.
  */
class RecordingLocalFs extends graft.io.ForkFreeLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}
  import RecordingLocalFs._

  override def listStatus(f: Path): Array[FileStatus] = {
    calls.add("list" -> f.toUri.getPath)
    super.listStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    calls.add("status" -> f.toUri.getPath)
    super.getFileStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    calls.add("open" -> f.toUri.getPath)
    if (f.getParent.getName == "_meta") Option(beforeOpen.getAndSet(null)).foreach(_(f))
    super.open(f, bufferSize)
  }
}

object RecordingLocalFs {
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  val beforeOpen = new java.util.concurrent.atomic.AtomicReference[org.apache.hadoop.fs.Path => Unit]()
}
