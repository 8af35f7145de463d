package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.dedup.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** The streaming curation COMPOSITION: quality → exact-digest →
  * MinHash near-dup as two chained checkpointed queries
  * (CurationStream). Each gate has its own parity spec; this one pins
  * that they compose — the final keeper set equals the batch
  * composition of the same three gate rules on ordered arrival — and
  * that the chain survives a stage-2 restart from its checkpoint with
  * state and output intact, with bounded state in both stateful stages.
  */
class CurationStreamSpec extends SparkSpec {

  import spark.implicits._
  import CurationStream.CurationDoc

  private val (numPerms, bands, th) = (16, 4, 0.5)
  private val r = numPerms / bands
  private val qualityTh = 0.5

  test("chained gates: batch-parity keepers, restart recovery, bounded state") {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "n_chars", "text")
      .as[CurationDoc].collect().sortBy(_.doc_id).take(150)
    assert(base.length == 150)
    // planted rows exercising each gate: an exact copy (stage-1 digest
    // drop), a near variant (stage-2 flag), a junk doc (quality drop).
    // Donors must themselves clear the quality gate or the planted rows
    // never reach the gate they are meant to exercise.
    val qs = graft.text.Text.qualityMetrics(
      org.apache.spark.sql.functions.col("text")).toMap.apply("quality_score")
    val passIds = base.toSeq.toDF().filter(qs >= qualityTh)
      .select("doc_id").as[Long].collect().toSet
    val donors = base.filter(d => passIds.contains(d.doc_id)).take(2)
    assert(donors.length == 2, "fixture must contain quality-passing docs")
    val nearText = {
      val w = donors(1).text.split(' '); w(w.length / 2) = "zzzz"; w.mkString(" ")
    }
    val planted = Seq(
      CurationDoc(9001L, donors(0).lang, donors(0).n_chars, donors(0).text),
      CurationDoc(9002L, donors(1).lang, nearText.length.toLong, nearText),
      CurationDoc(9003L, "en", 1L, "x"))
    val chunks = Seq(base.slice(0, 60).toSeq, base.slice(60, 150).toSeq, planted)

    val root = Files.createTempDirectory("curation").toString
    val (out1, cp1) = (s"$root/out1", s"$root/cp1")
    val (out2, cp2) = (s"$root/out2", s"$root/cp2")

    def stateRows(q: StreamingQuery): Long =
      Option(q.lastProgress).map(_.stateOperators).filter(_.nonEmpty)
        .map(_.head.numRowsTotal).getOrElse(-1L)

    val in = MemoryStream[CurationDoc](spark)
    val q1 = CurationStream.startQualityExactStage(in.toDS().toDF(), qualityTh, out1, cp1)
    val startStage2 = () => CurationStream.startNearDupStage(
      spark, out1, out2, cp2, k = 3, numPerms = numPerms, bands = bands, threshold = th)
    try {
      // chunk 1 through both stages, then stop stage 2 mid-corpus
      in.addData(chunks(0): _*); q1.processAllAvailable()
      val q2a = startStage2()
      q2a.processAllAvailable()
      q2a.stop()
      val dirs0 = new java.io.File(out2).listFiles().map(_.getName)
        .filter(_.startsWith("batch=")).toSet

      // rest of the corpus lands while stage 2 is down
      in.addData(chunks(1): _*); q1.processAllAvailable()
      in.addData(chunks(2): _*); q1.processAllAvailable()

      // stage 2 restarts from its checkpoint and catches up
      val q2b = startStage2()
      q2b.processAllAvailable()

      // restart resumed: pre-stop output dirs intact, new batch ids larger
      val dirs1 = new java.io.File(out2).listFiles().map(_.getName)
        .filter(_.startsWith("batch=")).toSet
      assert(dirs0.subsetOf(dirs1))
      val newIds = (dirs1 -- dirs0).map(_.stripPrefix("batch=").toLong)
      val oldMax = dirs0.map(_.stripPrefix("batch=").toLong).max
      assert(newIds.nonEmpty && newIds.forall(_ > oldMax),
        s"expected post-restart batch ids above $oldMax, got $newIds")

      // ---- batch twin of the same three gate rules -------------------
      // quality + min-id exact: the same gate run in batch mode
      val all = chunks.flatten
      val exact = CurationStream
        .qualityExactGate(all.toDF(), qualityTh)
        .collect().sortBy(_.doc_id)
      assert(exact.length < all.length) // quality + digest gates both bit
      assert(!exact.map(_.doc_id).contains(9001L)) // planted exact copy dropped
      assert(!exact.map(_.doc_id).contains(9003L)) // planted junk dropped

      // greedy ordered MinHash banding rule (flagged docs still register)
      val sigs = Dedup.withMinhash(exact.toSeq.toDF(), numPerms = numPerms)
        .select("doc_id", "minhash").filter("minhash is not null")
        .collect().map(row =>
          row.getAs[Long]("doc_id") -> row.getAs[Seq[Long]]("minhash")).toMap
      val ids = sigs.keys.toSeq.sorted
      val flaggedTwin = (for {
        j <- ids; i <- ids if i < j
        shareBand = (0 until bands).exists(b =>
          sigs(i).slice(b * r, b * r + r) == sigs(j).slice(b * r, b * r + r))
        if shareBand
        est = sigs(i).zip(sigs(j)).count { case (a, b) => a == b }.toDouble / numPerms
        if est >= th
      } yield j).toSet
      assert(flaggedTwin.contains(9002L)) // planted near variant flagged
      val keepersTwin = exact.map(_.doc_id).toSet -- flaggedTwin

      // ---- composed streaming result ---------------------------------
      val got = CurationStream.keepers(spark, out1, out2)
      assert(got.columns.toSet == Set("doc_id", "lang", "n_chars", "text"))
      val gotIds = got.select("doc_id").as[Long].collect().toSet
      assert(gotIds == keepersTwin,
        s"missing=${keepersTwin -- gotIds} extra=${gotIds -- keepersTwin}")

      // ---- bounded state ---------------------------------------------
      // stage 1: one digest row per distinct quality-surviving text
      assert(stateRows(q1) == exact.length)
      // stage 2: one row per occupied (band, band-signature) bucket —
      // and the restarted query's state covers the FULL corpus, proving
      // the checkpoint carried stage-2 state across the restart
      val buckets = (for {
        id <- ids; b <- 0 until bands
      } yield (b, sigs(id).slice(b * r, b * r + r))).toSet
      assert(stateRows(q2b) == buckets.size)
      q2b.stop()
    } finally {
      q1.stop()
      spark.streams.active.foreach(_.stop())
    }
  }

  test("compaction converges the streamed corpus to the batch closure keepers on a bridge") {
    // bridge topology: a (earliest) and c share NOTHING; b arrives LAST and
    // near-dups BOTH (its token set is a's ∪ c's). The greedy at-ingest gate
    // keeps a and c (no earlier match when each arrives) and flags only b;
    // the batch closure clusters {a, b, c} and keeps only min-id a. The
    // compaction pass must land on the closure answer.
    val aTxt = (1 to 15).map(i => s"alpha$i").mkString(" ")
    val cTxt = (1 to 15).map(i => s"gamma$i").mkString(" ")
    val bTxt = aTxt + " " + cTxt
    val docs = Seq(
      CurationDoc(1L, "en", aTxt.length.toLong, aTxt),
      CurationDoc(3L, "en", cTxt.length.toLong, cTxt),
      CurationDoc(5L, "en", bTxt.length.toLong, bTxt))
    // 1-row bands: candidate iff any signature component matches — keeps
    // the bridge's banding hit deterministic at moderate similarity
    val (nP, nB, cth) = (16, 16, 0.3)

    // ---- fixture self-check + batch closure twin ----------------------
    val sigs = Dedup.withMinhash(docs.toDF(), numPerms = nP)
      .select("doc_id", "minhash").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Seq[Long]]("minhash")).toMap
    def est(i: Long, j: Long): Double =
      sigs(i).zip(sigs(j)).count { case (x, y) => x == y }.toDouble / nP
    assert(est(1L, 5L) >= cth, s"fixture: a~b must flag (est ${est(1L, 5L)})")
    assert(est(3L, 5L) >= cth, s"fixture: c~b must flag (est ${est(3L, 5L)})")
    assert(est(1L, 3L) < cth, s"fixture: a~c must NOT flag (est ${est(1L, 3L)})")
    // closure twin: union-find over ALL est-qualifying banded pairs
    val ids = docs.map(_.doc_id)
    val edges = for {
      j <- ids; i <- ids if i < j && est(i, j) >= cth
    } yield (i, j)
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (i, j) => parent(find(i)) = find(j) }
    val closureTwin = ids.groupBy(find).values.map(_.min).toSet

    // ---- three chained queries, strict arrival order a, c, b ----------
    val root = Files.createTempDirectory("compaction").toString
    val (out1, out2, out3) = (s"$root/out1", s"$root/out2", s"$root/out3")
    val in = MemoryStream[CurationDoc](spark)
    val q1 = CurationStream.startQualityExactStage(in.toDS().toDF(), 0.0, out1, s"$root/cp1")
    val q2 = CurationStream.startNearDupStage(spark, out1, out2, s"$root/cp2",
      k = 3, numPerms = nP, bands = nB, threshold = cth)
    val q3 = CurationStream.startCompactionStage(spark, out1, out2, out3, s"$root/cp3",
      fullSnapshot = true, // exercise the opt-in snapshot alongside the drops
      retainEpochs = Some(1)) // and the inline self-pruning (round 10)
    try {
      docs.foreach { d =>
        in.addData(d)
        q1.processAllAvailable(); q2.processAllAvailable(); q3.processAllAvailable()
      }

      // greedy view: a and c both survive (the bridge divergence is real)
      val greedy = CurationStream.keepers(spark, out1, out2)
        .select("doc_id").as[Long].collect().toSet
      assert(greedy == Set(1L, 3L), s"greedy keepers: $greedy")
      assert(greedy != closureTwin, "fixture must actually exercise the bridge gap")

      // the epoch artifact is the DROPPED-id set — O(flags), not a corpus
      // snapshot: exactly the non-minimum members of each closure component
      val closureDrops = ids.toSet -- closureTwin
      val epochs = new java.io.File(out3).listFiles()
        .map(_.getName).filter(_.startsWith("epoch=")).map(_.stripPrefix("epoch=").toLong)
      assert(epochs.nonEmpty)
      // retainEpochs = Some(1): the live query self-pruned after each
      // commit, so exactly the newest committed epoch dir remains (the
      // snapshot dirs below must survive pruning — they are consumer
      // artifacts, not cache)
      assert(epochs.length == 1, s"self-pruning left ${epochs.toSeq.sorted}")
      val last = spark.read.parquet(s"$out3/epoch=${epochs.max}")
      assert(last.columns.toSet == Set("doc_id"),
        s"epoch artifact must be ids only, got ${last.columns.toSeq}")
      val droppedGot = last.select("doc_id").as[Long].collect().toSet
      assert(droppedGot == closureDrops, s"drops $droppedGot != $closureDrops")

      // the COMPOSED view (stage1 ANTI latest-epoch drops) is the closure
      val composed = CurationStream.compactedView(spark, out1, out3)
      assert(composed.columns.toSet == Set("doc_id", "lang", "n_chars", "text"))
      val composedIds = composed.select("doc_id").as[Long].collect().toSet
      assert(composedIds == closureTwin, s"composed $composedIds != $closureTwin")

      // the opt-in full snapshot agrees with the composed view
      val snap = spark.read.parquet(s"$out3/snapshot/epoch=${epochs.max}")
      assert(snap.columns.toSet == Set("doc_id", "lang", "n_chars", "text"))
      assert(snap.select("doc_id").as[Long].collect().toSet == closureTwin)

      // the direct (no-epoch) view agrees too
      val direct = CurationStream.compactedKeepers(spark, out1, out2)
        .select("doc_id").as[Long].collect().toSet
      assert(direct == closureTwin)

      // torn-epoch fallback: a crash mid-write leaves an epoch dir with
      // no _SUCCESS — the view must ignore it and compose against the
      // previous committed epoch, not a partial drop set
      val torn = new java.io.File(s"$out3/epoch=${epochs.max + 1}")
      assert(torn.mkdirs())
      java.nio.file.Files.write(torn.toPath.resolve("part-torn.parquet"),
        Array[Byte](1, 2, 3))
      val afterTorn = CurationStream.compactedView(spark, out1, out3)
        .select("doc_id").as[Long].collect().toSet
      assert(afterTorn == closureTwin,
        s"torn epoch must be ignored, got $afterTorn")
    } finally {
      q1.stop(); q2.stop(); q3.stop()
      spark.streams.active.foreach(_.stop())
    }
  }

  test("live index wiring: each compaction epoch tombstones the ANN index (annIndexPath)") {
    import org.apache.spark.sql.functions.col
    import graft.sim.{PlantedClusters, Similarity}
    // the same bridge fixture as the convergence test: b (doc 5) bridges
    // a and c into one closure component, so the closure drops BOTH 3
    // and 5 (the greedy gate keeps 3) — with annIndexPath wired, those
    // drops must stop being RETRIEVABLE from the vector index within the
    // same compaction interval, no external scheduler
    val aTxt = (1 to 15).map(i => s"alpha$i").mkString(" ")
    val cTxt = (1 to 15).map(i => s"gamma$i").mkString(" ")
    val docs = Seq(
      CurationDoc(1L, "en", aTxt.length.toLong, aTxt),
      CurationDoc(3L, "en", cTxt.length.toLong, cTxt),
      CurationDoc(5L, "en", (aTxt + " " + cTxt).length.toLong, aTxt + " " + cTxt))
    // the docs' embeddings, indexed BEFORE curation verdicts exist —
    // exactly the arrival order a real pipeline has
    val idx = Files.createTempDirectory("curaidx").toString
    val vecs = docs.map(_.doc_id).toDF("doc_id")
      .select(col("doc_id"), PlantedClusters.vecCol(col("doc_id")).as("embedding"))
    Similarity.buildIvfIndex(vecs, "doc_id % 2 = 1", 64, idx, idCol = "doc_id")
    val root = Files.createTempDirectory("curaidxchain").toString
    val (out1, out2, out3) = (s"$root/out1", s"$root/out2", s"$root/out3")
    val in = MemoryStream[CurationDoc](spark)
    val q1 = CurationStream.startQualityExactStage(in.toDS().toDF(), 0.0, out1, s"$root/cp1")
    val q2 = CurationStream.startNearDupStage(spark, out1, out2, s"$root/cp2",
      k = 3, numPerms = 16, bands = 16, threshold = 0.3)
    val q3 = CurationStream.startCompactionStage(spark, out1, out2, out3, s"$root/cp3",
      annIndexPath = Some(idx))
    try {
      docs.foreach { d =>
        in.addData(d)
        q1.processAllAvailable(); q2.processAllAvailable(); q3.processAllAvailable()
      }
      def retrievable: Set[Long] = Similarity.ivfTopKIndexed(spark, idx,
          Seq(999L).toDF("doc_id").select(col("doc_id"),
            PlantedClusters.vecCol(col("doc_id")).as("embedding")),
          k = 10, nprobe = 4, idCol = "doc_id")
        .select("c_id").as[Long].collect().toSet
      // the dropped docs are masked without anyone calling delete
      // explicitly — only the closure keeper remains retrievable
      assert(retrievable == Set(1L),
        s"index must stop retrieving the closure's drops, got $retrievable")
      assert(new java.io.File(s"$idx/tombstones").exists())
      // and the index's own compaction physically reclaims them
      Similarity.compactIvfIndex(spark, idx)
      assert(Similarity.readIvfAssigned(spark, idx)
        .select("c_id").as[Long].collect().toSet == Set(1L))
      assert(retrievable == Set(1L))
    } finally {
      q1.stop(); q2.stop(); q3.stop()
      spark.streams.active.foreach(_.stop())
    }
  }

  test("live index wiring with annCompactEvery: the hook reclaims its own tombstones inline") {
    import org.apache.spark.sql.functions.col
    import graft.sim.{PlantedClusters, Similarity}
    // same bridge fixture as above, but the hook now also OWNS the index
    // maintenance: every epoch (annCompactEvery = 1) it physically
    // reclaims what it tombstoned and retires the applied set — the full
    // drop → mask → reclaim loop with no external scheduler and no
    // manual compactIvfIndex call anywhere
    val aTxt = (1 to 15).map(i => s"alpha$i").mkString(" ")
    val cTxt = (1 to 15).map(i => s"gamma$i").mkString(" ")
    val docs = Seq(
      CurationDoc(1L, "en", aTxt.length.toLong, aTxt),
      CurationDoc(3L, "en", cTxt.length.toLong, cTxt),
      CurationDoc(5L, "en", (aTxt + " " + cTxt).length.toLong, aTxt + " " + cTxt))
    val idx = Files.createTempDirectory("curaidxc").toString
    val vecs = docs.map(_.doc_id).toDF("doc_id")
      .select(col("doc_id"), PlantedClusters.vecCol(col("doc_id")).as("embedding"))
    Similarity.buildIvfIndex(vecs, "doc_id % 2 = 1", 64, idx, idCol = "doc_id")
    val root = Files.createTempDirectory("curaidxcec").toString
    val (out1, out2, out3) = (s"$root/out1", s"$root/out2", s"$root/out3")
    val in = MemoryStream[CurationDoc](spark)
    val q1 = CurationStream.startQualityExactStage(in.toDS().toDF(), 0.0, out1, s"$root/cp1")
    val q2 = CurationStream.startNearDupStage(spark, out1, out2, s"$root/cp2",
      k = 3, numPerms = 16, bands = 16, threshold = 0.3)
    val q3 = CurationStream.startCompactionStage(spark, out1, out2, out3, s"$root/cp3",
      annIndexPath = Some(idx), annCompactEvery = Some(1))
    try {
      docs.foreach { d =>
        in.addData(d)
        q1.processAllAvailable(); q2.processAllAvailable(); q3.processAllAvailable()
      }
      // PHYSICALLY reclaimed by the hook's own cadence — not just masked
      assert(Similarity.readIvfAssigned(spark, idx)
        .select("c_id").as[Long].collect().toSet == Set(1L),
        "the inline cadence must physically reclaim the dropped rows")
      // and the applied set is retired: the live state holds no tombstone
      // epoch, so the query-path anti-join stays broadcast-class by construction
      assert(Similarity.indexState(spark, idx).tombs.isEmpty,
        "the hook must retire the sets it applied")
      // answers agree with the mask-only path: only the keeper remains
      val got = Similarity.ivfTopKIndexed(spark, idx,
          Seq(999L).toDF("doc_id").select(col("doc_id"),
            PlantedClusters.vecCol(col("doc_id")).as("embedding")),
          k = 10, nprobe = 4, idCol = "doc_id")
        .select("c_id").as[Long].collect().toSet
      assert(got == Set(1L))
    } finally {
      q1.stop(); q2.stop(); q3.stop()
      spark.streams.active.foreach(_.stop())
    }
  }

  test("pruneEpochs: committed-older-only, newest kept, torn dirs untouched") {
    val root = Files.createTempDirectory("prune").toString
    val epochDir = s"$root/epochs"
    def commit(id: Long, drops: Seq[Long]): Unit =
      drops.toDF("doc_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$epochDir/epoch=$id")
    def torn(id: Long): Unit = {
      val d = new java.io.File(s"$epochDir/epoch=$id")
      assert(d.mkdirs())
      java.nio.file.Files.write(d.toPath.resolve("part-torn.parquet"),
        Array[Byte](9, 9, 9))
    }
    def dirs(): Set[Long] =
      Option(new java.io.File(epochDir).listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.startsWith("epoch="))
        .map(_.stripPrefix("epoch=").toLong).toSet

    // missing dir: no-op, no throw
    assert(CurationStream.pruneEpochs(spark, epochDir) == Nil)

    commit(0L, Seq(1L)); commit(2L, Seq(1L, 3L)); torn(3L); commit(4L, Seq(3L))
    // default keep=2 (reader-grace retention): only the OLDEST committed
    // epoch goes; torn 3 survives
    assert(CurationStream.pruneEpochs(spark, epochDir) == Seq(0L))
    assert(dirs() == Set(2L, 3L, 4L))
    // explicit keep=1 (minimum retention — the caller's choice now, not
    // the default): epoch 2 goes, newest committed 4 and torn 3 stay
    assert(CurationStream.pruneEpochs(spark, epochDir, keep = 1) == Seq(2L))
    assert(dirs() == Set(3L, 4L))
    // idempotent: nothing older than the newest committed remains
    assert(CurationStream.pruneEpochs(spark, epochDir, keep = 1) == Nil)
    assert(dirs() == Set(3L, 4L))
    // the view still composes against the surviving committed epoch
    intercept[IllegalArgumentException] {
      CurationStream.pruneEpochs(spark, epochDir, keep = 0)
    }
  }

  test("chaos property: compactedView never regresses past the newest committed epoch (50 cases)") {
    // Interleaves the full epoch lifecycle against a fixed stage-1
    // corpus: committed epoch writes, mid-write crashes (a torn dir with
    // junk bytes, or a complete write whose _SUCCESS is then removed —
    // the two torn flavors), replayed-batch-id overwrites of a torn
    // epoch, pruning at random retention, compactedView reads, and a
    // LAGGING reader whose plan resolves one epoch behind a
    // default-retention prune (it must keep answering as of resolve
    // time — the keep=2 default's whole point). The
    // invariant under EVERY interleaving: the view equals stage-1
    // survivors minus the newest COMMITTED epoch's drop set (all
    // survivors while none is committed) — i.e. a torn write is
    // invisible, a replayed overwrite becomes visible exactly when its
    // _SUCCESS lands, and pruning never moves the answer.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val allIds = (1L to 8L).toSet
    val root0 = Files.createTempDirectory("chaos").toString
    val stage1 = s"$root0/out1"
    allIds.toSeq.map(i => CurationDoc(i, "en", 4L, s"doc $i")).toDF()
      .coalesce(1).write.parquet(stage1)

    val caseNo = new java.util.concurrent.atomic.AtomicInteger(0)
    val prop = Prop.forAll(Gen.long) { seed =>
      val rnd = new scala.util.Random(seed)
      val epochDir = s"$root0/epochs-${caseNo.incrementAndGet()}"
      var nextId = 0L
      var tornId = Option.empty[Long] // a torn id is replayable in place
      var committedDrops = Map.empty[Long, Set[Long]]
      def newestCommitted: Option[Set[Long]] =
        committedDrops.keys.reduceOption(_ max _).map(committedDrops)

      def writeCommitted(id: Long): Unit = {
        val drops = allIds.filter(_ => rnd.nextBoolean())
        drops.toSeq.toDF("doc_id").coalesce(1)
          .write.mode("overwrite").parquet(s"$epochDir/epoch=$id")
        committedDrops += id -> drops
      }
      def read(): Prop = {
        val got = CurationStream.compactedView(spark, stage1, epochDir)
          .select("doc_id").as[Long].collect().toSet
        val expect = allIds -- newestCommitted.getOrElse(Set.empty)
        Prop(got == expect) :| s"view $got != $expect (committed ${committedDrops.keys.toSeq.sorted})"
      }

      val checks = (0 until 5).map { _ =>
        rnd.nextInt(6) match {
          case 0 => // committed epoch write
            writeCommitted(nextId); nextId += 1; Prop.passed
          case 1 => // mid-write crash: torn dir, two flavors
            val id = nextId; nextId += 1
            if (rnd.nextBoolean()) {
              val d = new java.io.File(s"$epochDir/epoch=$id")
              d.mkdirs()
              java.nio.file.Files.write(d.toPath.resolve("part-torn.parquet"),
                Array[Byte](1, 2, 3))
            } else { // complete write, then crash before commit marker
              allIds.take(2).toSeq.toDF("doc_id").coalesce(1)
                .write.mode("overwrite").parquet(s"$epochDir/epoch=$id")
              assert(new java.io.File(s"$epochDir/epoch=$id/_SUCCESS").delete())
            }
            tornId = Some(id); Prop.passed
          case 2 => // restart replays the torn batch id: overwrite in place
            tornId match {
              case Some(id) => writeCommitted(id); tornId = None
              case None => ()
            }
            Prop.passed
          case 3 => // prune at random retention; model the survivors
            val keep = 1 + rnd.nextInt(2)
            val pruned = CurationStream.pruneEpochs(spark, epochDir, keep)
            val expectPruned =
              committedDrops.keys.toSeq.sorted.dropRight(keep)
            val ok = Prop(pruned == expectPruned) :|
              s"pruned $pruned != $expectPruned"
            committedDrops --= pruned
            ok
          case 4 => // lagging reader: a plan resolved ONE epoch behind the
            // pruner (the round-10 watch item). Resolve now, let one more
            // epoch commit, run the pruner at its DEFAULT retention — the
            // keep=2 default must leave the resolved epoch's files intact,
            // so the held plan still answers as of its resolve time.
            val held = CurationStream.compactedView(spark, stage1, epochDir)
            val expectHeld = allIds -- newestCommitted.getOrElse(Set.empty)
            writeCommitted(nextId); nextId += 1
            val pruned = CurationStream.pruneEpochs(spark, epochDir)
            committedDrops --= pruned
            val gotHeld = held.select("doc_id").as[Long].collect().toSet
            Prop(gotHeld == expectHeld) :|
              s"lagging reader $gotHeld != $expectHeld after default prune"
          case _ => read()
        }
      }
      checks.reduce(_ && _) && read() // every case ends with a read
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(50).withWorkers(1), prop)
    assert(res.passed, s"chaos property failed: ${res.status}")
  }

  test("replay property: arbitrary batch-prefix replays yield no new verdicts (100 cases)") {
    // The composed end-to-end replay guarantee: DedupStreamSpec pins ONE
    // replay-inversion scenario per gate; this property replays arbitrary
    // prefixes of the delivered batch history through the WHOLE 2-query
    // chain — both replay flavors at once: source-level re-delivery
    // (at-least-once upstream) absorbed by the stage-1 digest gate, and
    // stage-1 CHECKPOINT replay (batch dirs regaining fresh part-file
    // names, which stage 2's file source re-ingests as duplicate rows)
    // absorbed by the near-dup gate's registered-id guard. Each case owns
    // a disjoint doc_id/vocabulary namespace, and the prefix replay rides
    // in the SAME micro-batch round as the case's own delivery — so the
    // invariant is namespace-local and O(1) to check: every emitted
    // stage-1 row must be exactly the case's expected exact-gate
    // survivors (a replayed old doc emitting ANYTHING violates it), and
    // every emitted flag verdict must be about the current case (a flag
    // on an old namespace is a replay-induced verdict). Keeper and
    // compaction views are pure functions of those two emission sets
    // (the tests above pin them), so their invariance follows. The chain
    // restarts every 20 cases to bound file-listing/state growth —
    // history and prefixes are per-chain, prefix capped at 10 batches.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.Encoders
    val out2Schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("dup_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("of_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("est",
        org.apache.spark.sql.types.DoubleType)))

    var q1: StreamingQuery = null
    var q2: StreamingQuery = null
    var in: MemoryStream[CurationDoc] = null
    var out1, out2 = ""
    val history = scala.collection.mutable.ArrayBuffer.empty[Seq[CurationDoc]]
    var known1, known2 = Set.empty[String]
    var flagsEverSeen = 0

    def stopChain(): Unit = { if (q1 != null) q1.stop(); if (q2 != null) q2.stop() }
    def startChain(): Unit = {
      stopChain()
      val root = Files.createTempDirectory("curation-replay").toString
      out1 = s"$root/out1"; out2 = s"$root/out2"
      in = MemoryStream[CurationDoc](spark)
      q1 = CurationStream.startQualityExactStage(in.toDS().toDF(), 0.0, out1, s"$root/cp1")
      q2 = CurationStream.startNearDupStage(spark, out1, out2, s"$root/cp2",
        k = 3, numPerms = numPerms, bands = bands, threshold = th)
      history.clear(); known1 = Set.empty; known2 = Set.empty
    }
    def batchDirs(out: String): Seq[java.io.File] =
      Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("batch=")).toSeq
        .sortBy(_.getName.stripPrefix("batch=").toLong)
    def delta(out: String, known: Set[String]): (Seq[String], Set[String]) = {
      val now = batchDirs(out)
      (now.filterNot(d => known(d.getName)).map(_.getPath),
        now.map(_.getName).toSet)
    }

    val caseNo = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      val prop = Prop.forAll(Gen.long) { seed =>
        val rnd = new scala.util.Random(seed)
        val c = caseNo.incrementAndGet()
        if ((c - 1) % 20 == 0) startChain()
        val vocab = (0 until 18).map(t => s"c${c}t$t")
        def fresh() = Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
        val base = fresh()
        def doc(i: Int, text: String) =
          CurationDoc(c * 100L + i, "en", text.length.toLong, text)
        val docs = scala.collection.mutable.ArrayBuffer(doc(0, base))
        if (rnd.nextBoolean()) { // near variant: 1-token mutation (often flags)
          val w = base.split(' '); w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size))
          docs += doc(1, w.mkString(" "))
        }
        if (rnd.nextInt(3) == 0) docs += doc(2, base) // exact copy (digest drop)

        // replay an arbitrary prefix of this chain's history, both flavors,
        // in the same round as the new case's delivery
        val p = rnd.nextInt(math.min(history.size, 10) + 1)
        history.take(p).foreach(b => in.addData(b: _*)) // source re-delivery
        batchDirs(out1).take(p).foreach { d => // checkpoint-style fresh names
          Option(d.listFiles()).getOrElse(Array.empty)
            // ORIGINALS only: re-copying earlier replay copies would double
            // the dir per round — exponential file fan-out, and the real
            // checkpoint replay overwrites one generation, not all of them
            .filter(f => f.getName.startsWith("part-0") && f.getName.endsWith(".parquet"))
            .foreach { f =>
              java.nio.file.Files.copy(f.toPath, f.toPath.resolveSibling(
                s"part-replay-${java.util.UUID.randomUUID()}.snappy.parquet"))
            }
        }
        in.addData(docs.toSeq: _*)
        q1.processAllAvailable(); q2.processAllAvailable()
        history += docs.toSeq

        // stage-1 delta: exactly this case's exact-gate survivors — any
        // old-namespace id here is a replayed doc re-emitted
        val (new1, k1) = delta(out1, known1); known1 = k1
        val got1 =
          if (new1.isEmpty) Set.empty[Long]
          else spark.read.schema(Encoders.product[CurationDoc].schema)
            .parquet(new1: _*).select("doc_id").as[Long].collect().toSet
        val expect1 = docs.groupBy(_.text).map(_._2.map(_.doc_id).min).toSet

        // stage-2 delta: every flag verdict must be about THIS case
        val (new2, k2) = delta(out2, known2); known2 = k2
        val gotFlags =
          if (new2.isEmpty) Set.empty[(Long, Long)]
          else spark.read.schema(out2Schema).parquet(new2: _*)
            .select("dup_id", "of_id").as[(Long, Long)].collect().toSet
        val foreign = gotFlags.filter(f => f._1 / 100 != c)
        flagsEverSeen += gotFlags.size
        (Prop(got1 == expect1) :|
          s"case $c prefix $p: stage-1 emitted $got1, expected $expect1") &&
        (Prop(foreign.isEmpty) :|
          s"case $c prefix $p: replay-induced verdicts on old docs: $foreign") &&
        (Prop(gotFlags.forall(f => f._1 != f._2)) :|
          s"case $c: self-flag emitted: $gotFlags")
      }
      val res = SCTest.check(SCTest.Parameters.default
        .withMinSuccessfulTests(100).withWorkers(1), prop)
      assert(res.passed, s"replay property failed: ${res.status}")
      assert(flagsEverSeen > 0, "vacuous run: no near-dup flag ever fired")
    } finally {
      stopChain()
      spark.streams.active.foreach(_.stop())
    }
  }
}
