package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BPE merge-rule TRAINING — the learning counterpart of
  * [[Text.bpeEncode]]: derive the merges table from the corpus itself
  * (Sennrich-style byte-pair encoding: repeatedly merge the most frequent
  * adjacent symbol pair), so a pipeline can train its tokenizer and
  * budget tokens with it in the same engine.
  *
  * Scale shape — the part that matters at 100 TB: training is TWO-PHASE.
  * Phase one is the single corpus pass ([[wordFreq]]: pre-tokenize,
  * filter letter runs, one groupBy) producing the word-frequency VOCAB —
  * millions of rows however big the corpus. Phase two iterates over only
  * that vocab: each merge round is one pair-count aggregation over the
  * vocab plus a 1-row argmax collect (the learned rule is driver-side
  * config by nature, exactly like a broadcast-join threshold — the data
  * plane never round-trips). The corpus is never re-read after phase one.
  *
  * Determinism: the argmax tie-break is (count DESC, left ASC,
  * right ASC), identical in the DuckDB twin, so the learned table — and
  * every token count derived from it — is reproducible bit-for-bit.
  * Symbol strings reuse [[Text.bpeEncode]]'s wrapped representation
  * ("(t)(h)(e)"), so applying a learned rule is the same literal
  * `replace` the encoder uses: training and encoding can never disagree
  * on merge semantics.
  */
object BpeTrain {

  /** One learned rule: left symbol, right symbol, summed pair frequency. */
  final case class Merge(a: String, b: String, cnt: Long)

  /** Run the phase-two ROUND LOOP with right-sized round parallelism.
    *
    * Measured motivation (round 13, sf0.1): the post-phase-one vocab is
    * a bounded word-level relation (31 rows at sf0.1, millions at
    * 100 TB — never corpus-scale), yet every one of the 64 sequential
    * argmax rounds inherited the session's full shuffle width plus
    * AQE's per-query replanning round-trips: 165 ms/round, of which
    * ~93 ms was pure scheduling (72 ms/round with one reduce partition
    * and AQE off — the identical aggregation). Phase one (the corpus
    * pass) keeps the session's scale settings; only the loop over the
    * already-materialized vocab runs narrowed, sized from the MEASURED
    * vocab row count (scale-adaptive, not a local-mode constant), and
    * both confs are restored whatever happens. AQE is off inside the
    * loop because its two jobs-per-query replanning is the dominant
    * per-round cost at the width this sizing already fixes; results are
    * plan-identical aggregates either way (the argmax tie-break is in
    * the query, not the planner).
    */
  private def withRoundConfs[T](vocab: DataFrame)(body: => T): T = {
    val conf = vocab.sparkSession.conf
    val oldParts = conf.get("spark.sql.shuffle.partitions")
    val oldAqe = conf.get("spark.sql.adaptive.enabled")
    // the checkpointed vocab's partition count is already byte-sized by
    // AQE's coalescing of the phase-one aggregate — reuse it as the round
    // width instead of paying a count job (1 at sf0.1, grows with vocab)
    val parts = math.max(1, math.min(oldParts.toInt, vocab.rdd.getNumPartitions))
    conf.set("spark.sql.shuffle.partitions", parts.toString)
    conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally {
      conf.set("spark.sql.shuffle.partitions", oldParts)
      conf.set("spark.sql.adaptive.enabled", oldAqe)
    }
  }

  /** Phase one: (word, freq) over the corpus's letter runs — the ONLY
    * pass that touches the corpus. Leading pre-token spaces fold into the
    * word (GPT-Ġ-style), matching [[Text.bpeMergeTokenCount]].
    */
  def wordFreq(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(Text.bpeTokens(col(textCol))).as("t"))
      .filter(col("t").rlike("^ ?[A-Za-z]+$"))
      .select(ltrim(col("t")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))

  // ---- size-gated LOCAL phase two (round 14) ---------------------------
  //
  // The round loop consumes ONLY the materialized vocab, and every one of
  // its ingredients is engine-exact to replicate on the driver for the
  // letter-run vocabulary: symbols are pure ASCII letters (wordFreq's
  // `^ ?[A-Za-z]+$` filter), so Spark's UTF8-binary string ordering equals
  // java.lang.String ordering, pair counts are integer sums, and the merge
  // apply is the same literal all-occurrence `replace`. Under conf
  // `spark.graft.bpe.localLoopMaxVocab` (default 2M words — tens of MB on the
  // driver, the broadcast-boundedness class; a 100 TB corpus with a
  // bigger vocabulary keeps the distributed loop) [[roundLoop]] collects
  // the vocab once and runs its rounds locally: same rounds, same
  // selection code, bit-identical learned tables — measured ~70 ms
  // of fixed distributed cost per round gone (64-round learn at sf0.1:
  // 4.7 s → phase-one cost).

  /** The wrapped sym's symbol list — the driver twin of [[adjacentPairs]]'
    * split (strip the outer parens, split on ")("). */
  private def symsOf(sym: String): Array[String] =
    sym.stripPrefix("(").stripSuffix(")").split("\\)\\(")

  /** Top `fetch` pairs of a local vocab in the argmax order
    * (cnt DESC, a ASC, b ASC) — the driver twin of the round query. */
  private def topPairsLocal(vocab: Array[(Long, String)],
                            fetch: Int): IndexedSeq[Merge] = {
    val counts = new java.util.HashMap[String, Long]()
    val seps = new java.util.HashMap[String, (String, String)]()
    vocab.foreach { case (freq, sym) =>
      val ss = symsOf(sym)
      var i = 0
      while (i < ss.length - 1) {
        // key on the wrapped pair text — unambiguous because symbols
        // never contain parens
        val k = "(" + ss(i) + ")(" + ss(i + 1) + ")"
        counts.merge(k, freq, (x, y) => x + y)
        seps.putIfAbsent(k, (ss(i), ss(i + 1)))
        i += 1
      }
    }
    import scala.jdk.CollectionConverters._
    counts.entrySet().asScala.toIndexedSeq
      .map { e => val (a, b) = seps.get(e.getKey); Merge(a, b, e.getValue) }
      .sortBy(m => (-m.cnt, m.a, m.b))
      .take(fetch)
  }

  /** Apply one merge to a local vocab in place — the driver twin of the
    * `replace(sym, "(a)(b)", "(ab)")` projection. */
  private def applyMergeLocal(vocab: Array[(Long, String)], m: Merge): Unit = {
    val from = s"(${m.a})(${m.b})"
    val to = s"(${m.a}${m.b})"
    var i = 0
    while (i < vocab.length) {
      val (f, s) = vocab(i)
      if (s.contains(from)) vocab(i) = (f, s.replace(from, to))
      i += 1
    }
  }

  /** Adjacent symbol pairs of the wrapped `sym` column as an array of
    * (a, b) structs — empty for single-symbol words. The Spark guard
    * matters: `sequence(1, 0)` DESCENDS instead of being empty.
    */
  private def adjacentPairs(sym: org.apache.spark.sql.Column) = {
    val syms = split(regexp_replace(sym, "^\\(|\\)$", ""), "\\)\\(")
    val idx = when(size(syms) >= 2, sequence(lit(1), size(syms) - 1))
      .otherwise(array().cast("array<int>"))
    transform(idx, i => struct(
      element_at(syms, i).as("a"), element_at(syms, i + 1).as("b")))
  }

  /** The batched round's exact selection from a fetched argmax-ordered
    * window (see [[learnBatched]]'s scaladoc for why the conflict/bound
    * logic is exact).
    */
  private def selectBatch(rows: IndexedSeq[Merge], fetch: Int,
                          remaining: Int): Vector[Merge] = {
    val used = scala.collection.mutable.Set[String]()
    val accepted = Vector.newBuilder[Merge]
    var conflictCnt = -1L
    var sawConflict = false
    var i = 0
    while (i < rows.length && !sawConflict) {
      val m = rows(i)
      if (used(m.a) || used(m.b)) { sawConflict = true; conflictCnt = m.cnt }
      else { accepted += m; used += m.a; used += m.b }
      i += 1
    }
    val acc = accepted.result()
    // count bound for unseen/new pairs: the first conflict, or — when the
    // whole fetch window was disjoint — the last fetched row
    val bound =
      if (sawConflict) conflictCnt
      else if (rows.length == fetch) rows.last.cnt
      else Long.MinValue
    val keep0 = acc.filter(_.cnt > bound)
    (if (keep0.isEmpty) acc.take(1) else keep0).take(remaining)
  }

  /** The epoch's relaxed selection (skip — not stop at — conflicts; an
    * accepted rule may neither consume nor produce a symbol another
    * accepted rule consumes or produces) — see [[learnEpoch]]'s
    * scaladoc.
    */
  private def selectEpoch(rows: IndexedSeq[Merge], want: Int): Vector[Merge] = {
    val used = scala.collection.mutable.Set[String]()
    val produced = scala.collection.mutable.Set[String]()
    val accepted = Vector.newBuilder[Merge]
    var n = 0
    var i = 0
    while (i < rows.length && n < want) {
      val m = rows(i)
      val out = m.a + m.b
      if (!used(m.a) && !used(m.b) && !produced(m.a) && !produced(m.b) &&
          !used(out) && !produced(out)) {
        accepted += m; used += m.a; used += m.b; produced += out; n += 1
      }
      i += 1
    }
    accepted.result()
  }

  /** Collect a checkpointed vocab when it is under the local-loop gate,
    * releasing its executor blocks; None keeps the distributed loop. */
  private def vocabLocal(vocab: DataFrame): Option[Array[(Long, String)]] =
    if (vocab.count() > graft.GraftConf.LocalLoopMaxVocab.get(vocab.sparkSession)) None
    else {
      val rows = vocab.collect().map(r => (r.getLong(0), r.getString(1)))
      graft.dedup.Dedup.releaseCheckpoint(vocab)
      Some(rows)
    }

  /** The phase-two ROUND LOOP, the one every learner runs. Each round
    * ranks the top `fetch(remaining)` pairs in the argmax order, accepts
    * `select(rows, fetch, remaining)` of them, and applies the accepted
    * merges; it stops at `numMerges` rules or when the vocab runs out of
    * adjacent pairs. Under the local-loop gate ([[vocabLocal]]) the pair
    * counts and merges run on the collected vocab; above it the counts
    * are one aggregation job per round and each merge appends a literal
    * `replace` to the sym projection, re-`localCheckpoint`ed once 8
    * merges are pending so the plan stays bounded (the iterative-plan
    * rule, see Dedup.dupClusters). Both paths share the selection code,
    * so they cannot diverge (BpeTrainSpec pins them equal).
    */
  private def roundLoop(docs: DataFrame, textCol: String, numMerges: Int,
                        fetch: Int => Int,
                        select: (IndexedSeq[Merge], Int, Int) => Seq[Merge])
      : (Seq[Merge], BatchStats) = {
    require(numMerges >= 1, "need at least one merge round")
    val vocab0 = wordFreq(docs, textCol)
      .withColumn("sym", regexp_replace(col("word"), "(.)", "($1)"))
      .select("freq", "sym")
      .localCheckpoint(true) // phase one ends: corpus never re-read
    val learned = Vector.newBuilder[Merge]
    var nLearned = 0
    var rounds = 0
    def loop(topPairs: Int => IndexedSeq[Merge], apply: Seq[Merge] => Unit): Unit = {
      var exhausted = false
      while (nLearned < numMerges && !exhausted) {
        rounds += 1
        val f = fetch(numMerges - nLearned)
        val rows = topPairs(f)
        if (rows.isEmpty) exhausted = true
        else {
          val keep = select(rows, f, numMerges - nLearned)
          apply(keep)
          learned ++= keep
          nLearned += keep.length
        }
      }
    }
    vocabLocal(vocab0) match {
      case Some(lv) => loop(topPairsLocal(lv, _), _.foreach(applyMergeLocal(lv, _)))
      case None => withRoundConfs(vocab0) {
        var vocab = vocab0
        var pending = 0
        loop(f => topPairsQuery(vocab, f), { ms =>
          ms.foreach { m =>
            vocab = vocab.withColumn("sym", replace(
              col("sym"), lit(s"(${m.a})(${m.b})"), lit(s"(${m.a}${m.b})")))
          }
          pending += ms.length
          if (pending >= 8) { vocab = vocab.localCheckpoint(true); pending = 0 }
        })
      }
    }
    (learned.result(), BatchStats(rounds, nLearned))
  }

  /** Top `fetch` pairs of a distributed vocab in the argmax order — one
    * pair-count aggregation job; only `fetch` rows reach the driver. */
  private def topPairsQuery(vocab: DataFrame, fetch: Int): IndexedSeq[Merge] =
    vocab
      .select(col("freq"), explode(adjacentPairs(col("sym"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
      .limit(fetch)
      .collect()
      .map(r => Merge(r.getString(0), r.getString(1), r.getLong(2)))
      .toIndexedSeq

  /** Learn `numMerges` rules, one argmax pair per round (Sennrich's
    * sequential algorithm). Stops early if the vocab runs out of adjacent
    * pairs.
    */
  def learn(docs: DataFrame, numMerges: Int,
            textCol: String = "text"): Seq[Merge] =
    roundLoop(docs, textCol, numMerges, _ => 1, (rows, _, _) => rows.take(1))._1

  /** Batched-greedy training: per round, ONE pair-count job selects up to
    * `maxBatch` merge rules instead of one — the production-vocab scale
    * posture. [[learn]]'s cost is `numMerges` sequential driver
    * round-trips (a 32k-merge tokenizer = 32k jobs); this cuts the round
    * count by the accepted-batch size while staying EXACTLY equal to the
    * sequential result, which BpeTrainSpec gates on every fixture.
    * Measured honestly (PLANS.md known-costs): on the natural-text
    * fixtures the symbol-conflict guard below accepts ~1.1 rules/round —
    * early top pairs share common characters — so the reduction is
    * ~7–12% there, growing only where the pair distribution is
    * disjoint; the bench records rounds + mean batch every run.
    *
    * Why the selection is exact (and where it must stop): sort the
    * round's pair counts in the argmax order (cnt DESC, a ASC, b ASC) and
    * walk the prefix. A prefix pair that is symbol-disjoint from every
    * earlier accepted pair has its count untouched by those merges, so it
    * is still the running argmax — EXCEPT that an earlier merge (a,b) can
    * create brand-new pairs (x,ab)/(ab,y). Every such new pair inherits
    * count ≤ cnt(x,a) (each occurrence was an (x,a) occurrence), and
    * (x,a) shares the symbol `a`, so it sits at or past the first
    * CONFLICTING (symbol-sharing) pair in the sorted order. Therefore:
    * stop at the first conflict and keep only accepted pairs with count
    * STRICTLY above the conflict's count (strictness because an equal
    * count could lose the lexicographic tie-break to a new pair) — every
    * kept pair beats every possible new pair, and the batch replays the
    * sequential selection verbatim. When the fetch window itself is the
    * bound (no conflict among the fetched rows), the last fetched count
    * bounds all unfetched pairs the same way. If the guard empties the
    * batch (top-2 tie on a shared symbol), fall back to the plain argmax
    * — one rule, trivially exact — so progress is always ≥ 1 rule/round.
    */
  def learnBatched(docs: DataFrame, numMerges: Int,
                   textCol: String = "text", maxBatch: Int = 64): Seq[Merge] =
    learnBatchedStats(docs, numMerges, textCol, maxBatch)._1

  /** Round-count evidence for [[learnBatched]]: (rounds, merges/round).
    * The batching win is round-count reduction — per-round job cost
    * dominates at fixture scale, so wall time at 64 merges ties the
    * sequential learner; the claim that 32k merges is feasible rests on
    * the measured accepted-batch size, which this makes a benchable
    * number instead of an assertion (see Bench `t7_*_rounds` rows).
    */
  final case class BatchStats(rounds: Int, merges: Int) {
    def meanBatch: Double = if (rounds == 0) 0.0 else merges.toDouble / rounds
  }

  def learnBatchedStats(docs: DataFrame, numMerges: Int,
                        textCol: String = "text", maxBatch: Int = 64): (Seq[Merge], BatchStats) = {
    require(maxBatch >= 1, "need a positive batch size")
    // +1: the conflict probe (see selectBatch)
    roundLoop(docs, textCol, numMerges, rem => maxBatch.min(rem) + 1, selectBatch)
  }

  /** Epoch-synchronized RELAXED training — the scale-safe mode for
    * production merge counts. [[learnBatched]] is rule-for-rule EXACT,
    * but its exactness guard (stop at the first symbol-sharing pair)
    * accepts ~1.1 rules/round on natural text — so a 32k-merge
    * vocabulary still needs ~30k sequential Spark jobs. This variant
    * trades bounded rule-order divergence for round count: pair counts
    * are recomputed ONCE per epoch, and the epoch accepts up to `batch`
    * pairs from that snapshot, greedily in argmax order, SKIPPING (not
    * stopping at) pairs that share a symbol with one already accepted.
    * Rounds ≈ numMerges / batch — a 32k-merge vocabulary at batch 256 is
    * ~125 jobs, not 30k. This is the standard relaxation production BPE
    * trainers make when they batch or parallelize merge selection.
    *
    * The divergence, stated precisely: pairs accepted within one epoch
    * neither CONSUME nor PRODUCE any symbol another accepted pair
    * consumes or produces (operands pairwise disjoint, AND no operand
    * equals another's merged output, AND no two outputs collide — the
    * operand-only guard missed the corner where merge (ab,c)→"abc"
    * creates fresh occurrences for an accepted (x,"abc")), so no
    * accepted merge can create or destroy occurrences of another's
    * pattern: their snapshot counts are exact and their applications
    * commute — every accepted rule was a true top pair of its epoch's
    * REAL distribution. What the relaxation gives up is
    * interleaving with pairs CREATED mid-epoch: sequential BPE could
    * learn a brand-new pair (x, ab) immediately after merging (a, b),
    * while the epoch defers any such pair to the next snapshot (and a
    * skipped conflicting pair may resolve differently there). So the
    * learned rule LIST can reorder or substitute relative to
    * [[learn]]'s within an epoch window, while both stay greedy-valid
    * merge tables; BpeTrainSpec quantifies the realized divergence on
    * the fixture corpus (set overlap + downstream token-count delta)
    * and pins the epoch learner's determinism. Progress is always ≥ 1
    * rule/epoch (the first fetched pair never conflicts).
    */
  def learnEpoch(docs: DataFrame, numMerges: Int,
                 textCol: String = "text", batch: Int = 64): Seq[Merge] =
    learnEpochStats(docs, numMerges, textCol, batch)._1

  def learnEpochStats(docs: DataFrame, numMerges: Int,
                      textCol: String = "text", batch: Int = 64): (Seq[Merge], BatchStats) = {
    require(batch >= 1, "need a positive batch size")
    // fetch headroom: conflicting pairs are SKIPPED, so the window must be
    // deeper than the acceptance target (4x + slack covers natural text,
    // where adjacent top pairs share common characters)
    roundLoop(docs, textCol, numMerges, rem => batch.min(rem) * 4 + 8,
      (rows, _, rem) => selectEpoch(rows, batch.min(rem)))
  }

  /** The learned table in [[Text.bpeEncode]]'s merges format. */
  def asMerges(learned: Seq[Merge]): Seq[(String, String)] =
    learned.map(m => (m.a, m.b))
}
