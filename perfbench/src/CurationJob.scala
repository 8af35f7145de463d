package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

import graft.dedup.Dedup
import graft.ops.{Ordered, Sampling}
import graft.text.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** A seeded corpus of document families. A family is one text and its
  * planted duplicates: exact copies, and near duplicates that reorder the
  * text's words (same distinct words, so the same SimHash). Low-quality
  * documents (short, no stopwords) ride along and must be filtered out.
  * The expected keepers are the lowest id of every family.
  */
final class DocGen(seed: Long) {
  import CurationJob._

  private val r = new SplittableRandom(seed * 7919L + 17L)
  private val vocab: IndexedSeq[String] = {
    val s = mutable.LinkedHashSet[String]()
    while (s.size < VocabSize)
      s += (0 until 4 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    s.toIndexedSeq
  }
  private val ids = mutable.HashSet[Long]()
  private def freshId(): Long = {
    var id = r.nextLong(1L << 31)
    while (!ids.add(id)) id = r.nextLong(1L << 31)
    id
  }
  /** `n` words of which the first `stops` positions, shuffled in, are
    * stopwords: a fixed stopword share keeps the quality score of a
    * generated document on a known side of the filter.
    */
  private def words(n: Int, stops: Int): Array[String] = {
    val w = Array.tabulate(n)(i =>
      if (i < stops) Stopwords(r.nextInt(Stopwords.size)) else vocab(r.nextInt(VocabSize)))
    (n - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = w(i); w(i) = w(j); w(j) = t
    }
    w
  }
  private def doc(lang: String, w: Array[String]): Doc = {
    val t = w.mkString(" ")
    Doc(freshId(), lang, t, t.length)
  }
  /** A reordering of `w` whose text differs from every text in `seen`. */
  private def reorder(w: Array[String], seen: mutable.Set[String]): Array[String] = {
    var v = w
    while (seen(v.mkString(" "))) {
      v = v.clone()
      val i = r.nextInt(v.length); val j = r.nextInt(v.length)
      val t = v(i); v(i) = v(j); v(j) = t
    }
    seen += v.mkString(" ")
    v
  }

  /** The corpus and the ids the job must keep (before sampling). */
  val (docs: IndexedSeq[Doc], keepers: Set[Long]) = {
    val out = mutable.ArrayBuffer[Doc]()
    val keep = mutable.Set[Long]()
    (0 until Families).foreach { _ =>
      val lang = Langs(r.nextInt(Langs.size))
      val n = 50 + r.nextInt(30)
      val base = words(n, n / 5)
      val seen = mutable.Set(base.mkString(" "))
      val kind = r.nextDouble()
      val texts: Seq[Array[String]] =
        if (kind < 0.55) Seq(base)
        else if (kind < 0.70) Seq.fill(2 + r.nextInt(2))(base)
        else if (kind < 0.85) base +: Seq.fill(1 + r.nextInt(2))(reorder(base, seen))
        else { val v = reorder(base, seen); Seq(base, v, v) }
      val fam = texts.map(doc(lang, _))
      out ++= fam
      keep += fam.map(_.doc_id).min
    }
    (0 until Families * LowQualityPer100 / 100).foreach { _ =>
      out += doc(Langs(r.nextInt(Langs.size)), words(10 + r.nextInt(20), 0))
    }
    (out.toIndexedSeq, keep.toSet)
  }

  /** The job's expected rows: (doc_id, n_chars, cum_size, pack), from the
    * keepers, the mixture rates and the packing rule, computed here
    * without Spark.
    */
  lazy val expected: IndexedSeq[(Long, Int, Long, Long)] = {
    val byId = docs.map(d => d.doc_id -> d).toMap
    val kept = keepers.toSeq.sorted.map(byId).filter(d => sampled(d.doc_id, d.lang))
    var cum = 0L
    kept.map { d =>
      cum += d.n_chars
      (d.doc_id, d.n_chars, cum, (cum - d.n_chars) / Capacity)
    }.toIndexedSeq
  }

  private def sampled(id: Long, lang: String): Boolean = Rates.get(lang).exists { rate =>
    val md5 = MessageDigest.getInstance("MD5").digest((Salt + id).getBytes("UTF-8"))
    val hex = md5.map(b => f"${b & 0xff}%02x").mkString.take(15)
    java.lang.Long.parseLong(hex, 16) < (rate * Sampling.Space).toLong
  }
}

/** The curation batch job, in the order of the engine's end-to-end
  * curation pipeline: quality filter, exact dedup, SimHash near-duplicate
  * pairs, duplicate-cluster closure, mixture sampling, sequence packing.
  * One operation is one job over the whole corpus, read from parquet,
  * with the result collected and compared row for row.
  */
final class CurationJob(ctx: Ctx) extends Workload {
  import CurationJob._
  private val spark = ctx.spark
  import spark.implicits._

  private var gen: DocGen = _
  private var corpus: String = _
  private var nDocs = 0L

  def prepare(): Unit = {
    gen = new DocGen(ctx.seed)
    corpus = ctx.dir("corpus")
    gen.docs.toDF().write.mode("overwrite").parquet(corpus)
    nDocs = gen.docs.size
    gen.expected
  }

  def warmup(rec: Recorder): Unit = (0 until WarmupJobs).foreach(i => step(-1L - i, rec))

  private def docs: DataFrame = spark.read.parquet(corpus)
  private def quality(d: DataFrame): DataFrame =
    d.filter(Text.qualityMetrics(col("text")).toMap.apply("quality_score") >= QualityMin)
  private def exact(q: DataFrame): DataFrame =
    q.join(Dedup.exact(q).select("doc_id"), Seq("doc_id"), "left_semi")
  private def samplePack(kept: DataFrame): DataFrame =
    Ordered.packBySize(
      Sampling.mixtureSample(kept, col("lang"), col("doc_id"), Salt, Rates)
        .select("doc_id", "lang", "n_chars"),
      "doc_id", col("n_chars"), Capacity, BucketWidth)
      .select(col("doc_id"), col("n_chars"), col("cum_size"), col("pack"))

  private def collectRows(df: DataFrame): IndexedSeq[(Long, Int, Long, Long)] =
    df.as[(Long, Int, Long, Long)].collect().sortBy(_._1).toIndexedSeq

  def step(n: Long, rec: Recorder): Unit = {
    val t0 = System.nanoTime()
    var tKeep = 0L
    val rows = ctx.tracer.operation("curation.job", n) {
      val ex = exact(quality(docs))
      val (kept, release) = ctx.tracer.span("dedup.clusters") {
        Dedup.dedupByClustersWithRelease(ex, Dedup.simhashPairs(ex, MaxHamming))
      }
      tKeep = System.nanoTime()
      try ctx.tracer.span("ops.sample_pack") { collectRows(samplePack(kept)) }
      finally release()
    }
    val t1 = System.nanoTime()
    rec.check {
      val want = gen.expected
      val got = rows.map(_._1).toSet
      val exp = want.map(_._1).toSet
      rec.count("jaccard", (got intersect exp).size.toDouble / (got union exp).size.max(1))
      rec.count("jobs", 1)
      if (rows != want) {
        val extra = (got -- exp).take(3)
        val missing = (exp -- got).take(3)
        rec.fail(s"job $n: ${rows.size} rows, want ${want.size}; extra $extra missing $missing")
      } else {
        rec.add("job_s", (t1 - t0) / 1e9)
        rec.add("keepers_s", (tKeep - t0) / 1e9)
        rec.count("docs", nDocs)
      }
    }
  }

  def figures(rec: Recorder, busyS: Double): Seq[Metric] = {
    val job = rec.get("job_s")
    val keep = rec.get("keepers_s")
    Seq(
      Metric("job_p50_s", Stats.p50(job), "s", job.size),
      Metric("keepers_p50_s", Stats.p50(keep), "s", keep.size),
      Metric("docs_per_s", rec.counts("docs") / busyS, "1/s", job.size),
      Metric("keeper_jaccard", rec.counts("jaccard") / rec.counts("jobs").max(1.0), "ratio",
        rec.counts("jobs").toLong))
  }

  /** Each stage materialized alone over its materialized input, and the
    * closure run a second time with the driver-local gate forced off.
    */
  def layers(rec: Recorder, spans: Seq[Span]): Seq[Metric] = {
    val m = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def add(k: String, v: Double): Unit = m.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    def timed[T](k: String)(body: => T): T = {
      val t0 = System.nanoTime(); val x = body; add(k, (System.nanoTime() - t0) / 1e9); x
    }
    (0 until StagedReps).foreach { _ =>
      val q = timed("text.quality_s")(quality(docs).localCheckpoint(true))
      val ex = timed("dedup.exact_s")(exact(q).localCheckpoint(true))
      val pairs = timed("dedup.simhash_pairs_s")(Dedup.simhashPairs(ex, MaxHamming).localCheckpoint(true))
      val (kept, release) = timed("dedup.clusters_s")(Dedup.dedupByClustersWithRelease(ex, pairs))
      add("dedup.sweeps", Dedup.lastSweeps.toDouble)
      add("dedup.local_solve", if (Dedup.lastSweeps == 0) 1.0 else 0.0)
      val keptCk = kept.localCheckpoint(true)
      release()
      val rows = timed("ops.sample_pack_s")(collectRows(samplePack(keptCk)))
      if (rows != gen.expected) throw new IllegalStateException("staged curation result differs")
      add("dedup.pairs", pairs.count().toDouble)
      add("dedup.keepers", keptCk.count().toDouble)
      // the distributed side of the closure gate, on the same pairs
      spark.conf.set(LocalSolveKey, "0")
      try {
        val c = timed("dedup.clusters_dist_s")(Dedup.dupClusters(pairs).localCheckpoint(true))
        add("dedup.sweeps_dist", Dedup.lastSweeps.toDouble)
        Dedup.releaseCheckpoint(c)
      } finally spark.conf.unset(LocalSolveKey)
      Seq(q, ex, pairs, keptCk).foreach(Dedup.releaseCheckpoint)
    }
    val stages = Seq("text.quality_s", "dedup.exact_s", "dedup.simhash_pairs_s",
      "dedup.clusters_s", "ops.sample_pack_s")
    val out = m.toSeq.map { case (k, xs) =>
      Metric(k, Stats.median(xs.toSeq), if (k.endsWith("_s")) "s" else "count", xs.size)
    }
    val job = rec.get("job_s")
    out ++ Seq(
      Metric("curation.stage_sum_s", stages.map(s => Stats.median(m(s).toSeq)).sum, "s", StagedReps),
      Metric("curation.fused_job_s", if (job.isEmpty) 0.0 else Stats.median(job), "s", job.size))
  }

  def close(): Unit = ()
}

object CurationJob {
  final case class Doc(doc_id: Long, lang: String, text: String, n_chars: Int)

  val Families = 2000
  val LowQualityPer100 = 8
  val VocabSize = 20000
  val Stopwords = IndexedSeq("the", "a", "of", "and", "is")
  val Langs = IndexedSeq("en", "zh", "es", "de", "fr", "xx")
  val QualityMin = 0.5
  val MaxHamming = 3
  val Salt = "perfbench:"
  val Rates: Map[String, Double] = Map("en" -> 1.0, "zh" -> 0.8, "es" -> 0.6, "de" -> 0.6, "fr" -> 0.4)
  val Capacity = 4096L
  val BucketWidth = 1000L
  val WarmupJobs = 5
  val StagedReps = 2
  val LocalSolveKey = "spark.graft.cc.localSolveMaxPairs"
}
