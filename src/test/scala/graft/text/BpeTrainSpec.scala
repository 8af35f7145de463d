package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BPE merge training: the distributed two-phase loop must equal a naive
  * in-memory reference on hand-checkable corpora, break ties
  * deterministically, stop when the vocab exhausts, and feed its learned
  * table straight into the existing encoder.
  */
class BpeTrainSpec extends SparkSpec {

  import spark.implicits._

  /** Naive reference: Sennrich's algorithm on a word-frequency map. */
  private def naive(words: Map[String, Long], rounds: Int): Seq[(String, String, Long)] = {
    var vocab = words.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val out = Seq.newBuilder[(String, String, Long)]
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), cnt) = counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
        out += ((a, b, cnt))
        vocab = vocab.map { case (syms, f) =>
          val merged = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              merged += (a + b); i += 2
            } else { merged += syms(i); i += 1 }
          }
          (merged.result(), f)
        }
      }
      r += 1
    }
    out.result()
  }

  private def docsOf(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("learned merges equal the naive reference on a hand-checkable corpus") {
    val docs = docsOf(
      "the then there the", "then the anthem", "there and then the")
    val words = docs.select(explode(Text.bpeTokens(col("text"))).as("t"))
      .filter(col("t").rlike("^ ?[A-Za-z]+$"))
      .select(ltrim(col("t")).as("w")).collect()
      .groupBy(_.getString(0)).map { case (w, rs) => w -> rs.length.toLong }
    val expected = naive(words, 6)
    val got = BpeTrain.learn(docs, 6).map(m => (m.a, m.b, m.cnt))
    assert(got == expected)
    // (h,e) and (t,h) both count 9 here; the lexicographic tie-break
    // picks (h,e) — pinned so a tie-break regression fails loudly
    assert((got.head._1, got.head._2) == (("h", "e")))
  }

  test("tie-break is (count desc, left asc, right asc) — deterministic") {
    // "ab" and "cd" both appear exactly twice: the (a, b) pair wins on
    // the lexicographic arm, never on hash or partition order
    val docs = docsOf("ab cd", "cd ab")
    val got = BpeTrain.learn(docs, 1)
    assert(got.map(m => (m.a, m.b)) == Seq(("a", "b")))
  }

  test("training stops early when the vocab runs out of pairs") {
    // single-letter words only: zero adjacent pairs from round 1
    val got = BpeTrain.learn(docsOf("a b c", "b c a"), 5)
    assert(got.isEmpty)
    // two-letter word: exactly one learnable rule, then exhaustion
    val one = BpeTrain.learn(docsOf("ab ab ab"), 5)
    assert(one.map(m => (m.a, m.b)) == Seq(("a", "b")))
  }

  test("learnBatched equals sequential learn rule-for-rule (counts included)") {
    // natural-ish text: batches of disjoint pairs accepted per round
    val docs = docsOf(
      "the then there the quick brown fox", "then the anthem of the north",
      "there and then the quick fox ran", "quick brown foxes run north")
    for (rounds <- Seq(1, 4, 12, 24)) {
      val seqRules = BpeTrain.learn(docs, rounds).map(m => (m.a, m.b, m.cnt))
      val batched = BpeTrain.learnBatched(docs, rounds).map(m => (m.a, m.b, m.cnt))
      assert(batched == seqRules, s"rounds=$rounds")
    }
    // tiny batch windows force the conflict-probe/fetch-bound paths
    for (mb <- Seq(1, 2, 3)) {
      val seqRules = BpeTrain.learn(docs, 10).map(m => (m.a, m.b, m.cnt))
      val batched = BpeTrain.learnBatched(docs, 10, maxBatch = mb)
        .map(m => (m.a, m.b, m.cnt))
      assert(batched == seqRules, s"maxBatch=$mb")
    }
  }

  test("learnBatched strictness guard: top-2 tie on a shared symbol falls back to argmax") {
    // cnt(t,h)=cnt(h,e)=3 share 'h': the batch must NOT take both (merging
    // (h,e) first would change (t,h)'s standing); the guard empties the
    // batch and the fallback takes exactly the argmax, staying sequential
    val docs = docsOf("the the the")
    val seqRules = BpeTrain.learn(docs, 4).map(m => (m.a, m.b, m.cnt))
    val batched = BpeTrain.learnBatched(docs, 4).map(m => (m.a, m.b, m.cnt))
    assert(batched == seqRules)
    // and both equal the naive reference
    val expected = naive(Map("the" -> 3L), 4)
    assert(batched == expected)
  }

  test("learnBatched stops early when the vocab runs out of pairs") {
    assert(BpeTrain.learnBatched(docsOf("a b c", "b c a"), 5).isEmpty)
    val one = BpeTrain.learnBatched(docsOf("ab ab ab"), 5)
    assert(one.map(m => (m.a, m.b)) == Seq(("a", "b")))
  }

  test("learnEpoch: batch=1 degenerates to the exact sequential learner") {
    val docs = docsOf(
      "the then there the quick brown fox", "then the anthem of the north",
      "there and then the quick fox ran", "quick brown foxes run north")
    val seqRules = BpeTrain.learn(docs, 10).map(m => (m.a, m.b, m.cnt))
    val epoch = BpeTrain.learnEpoch(docs, 10, batch = 1).map(m => (m.a, m.b, m.cnt))
    assert(epoch == seqRules)
  }

  test("learnEpoch: rounds ≈ merges/batch, deterministic, bounded divergence from exact") {
    val docs = docsOf(
      "the then there the quick brown fox", "then the anthem of the north",
      "there and then the quick fox ran", "quick brown foxes run north")
    val (rules, stats) = BpeTrain.learnEpochStats(docs, 24, batch = 8)
    // the round-count win learnBatched cannot deliver (its exactness guard
    // accepts ~1.1 rules/round on natural text): ~batch rules per epoch
    assert(stats.rounds <= 4, s"rounds=${stats.rounds}")
    assert(stats.meanBatch >= 4.0, s"meanBatch=${stats.meanBatch}")
    // deterministic: same corpus, same rules, bit-for-bit
    val again = BpeTrain.learnEpochStats(docs, 24, batch = 8)._1
    assert(again.map(m => (m.a, m.b, m.cnt)) == rules.map(m => (m.a, m.b, m.cnt)))
    // divergence vs the exact learner, QUANTIFIED: the epoch relaxation
    // may reorder/substitute rules within an epoch window, but most of
    // the learned set must coincide on natural text
    val seqSet = BpeTrain.learn(docs, 24).map(m => (m.a, m.b)).toSet
    val epochSet = rules.map(m => (m.a, m.b)).toSet
    // realized value on this fixture: 16/24 ≈ 0.67 — a WORST-CASE-ish
    // corpus (4 docs, so 24 merges reach deep into cascading multi-char
    // pairs, exactly where the epoch defers); larger corpora spend more
    // epochs in the flat head of the pair distribution where the sets
    // coincide. Deterministic, so pinned at the measured floor.
    val overlap = (seqSet & epochSet).size.toDouble / math.max(1, seqSet.size)
    assert(overlap >= 0.66, s"overlap=$overlap (seq=${seqSet.size}, epoch=${epochSet.size})")
    // and the epoch table remains a usable greedy merge table downstream
    val merges = BpeTrain.asMerges(rules)
    val n = docs.limit(1)
      .select(Text.bpeSymbolCount(lit("the"), merges).as("n"))
      .collect().head.getAs[Int]("n")
    assert(n == 1, "'the' must compress fully under its own corpus's epoch rules")
  }

  test("learnEpoch stops early when the vocab runs out of pairs") {
    assert(BpeTrain.learnEpoch(docsOf("a b c", "b c a"), 5).isEmpty)
    val one = BpeTrain.learnEpoch(docsOf("ab ab ab"), 5)
    assert(one.map(m => (m.a, m.b)) == Seq(("a", "b")))
  }

  test("the distributed round loop equals the driver-local one (all three learners)") {
    val fixtures = Seq(
      docsOf("the then there the", "then the anthem", "there and then the"),
      docsOf("ab cd", "cd ab"),
      docsOf("a b c", "b c a"),
      docsOf("ab ab ab"),
      docsOf("the the the"),
      docsOf(
        "the then there the quick brown fox", "then the anthem of the north",
        "there and then the quick fox ran", "quick brown foxes run north"))
    def rules(ms: Seq[BpeTrain.Merge]) = ms.map(m => (m.a, m.b, m.cnt))
    def runAll(docs: org.apache.spark.sql.DataFrame) = {
      val (b, bs) = BpeTrain.learnBatchedStats(docs, 12, maxBatch = 2)
      val (e, es) = BpeTrain.learnEpochStats(docs, 24, batch = 8)
      (rules(BpeTrain.learn(docs, 10)), rules(b), bs, rules(e), es)
    }
    val key = "spark.graft.bpe.localLoopMaxVocab"
    for ((docs, i) <- fixtures.zipWithIndex) {
      val local = runAll(docs)
      spark.conf.set(key, "0") // every vocab is over the gate: distributed
      val dist = try runAll(docs) finally spark.conf.unset(key)
      assert(dist == local, s"fixture $i")
    }
  }

  test("the learned table drives the existing encoder") {
    val docs = docsOf("the the the cat", "the cat sat")
    val merges = BpeTrain.asMerges(BpeTrain.learn(docs, 4))
    // 'the' must compress to a single symbol under its own corpus's rules
    val enc = docs.limit(1)
      .select(Text.bpeEncode(lit("the"), merges).as("e"),
        Text.bpeSymbolCount(lit("the"), merges).as("n"))
      .collect().head
    assert(enc.getAs[String]("e") == "(the)")
    assert(enc.getAs[Int]("n") == 1)
  }
}
