package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import graft.sim.Similarity
import org.apache.spark.sql.DataFrame

/** Seeded clustered vectors: `Clusters` unit-norm centres, points at a
  * fixed noise around a random centre. Ids are an affine bijection of the
  * vector number on 31 bits, so they never repeat and are not sorted by
  * cluster.
  */
final class VecGen(seed: Long) {
  import AnnIndex._
  private val r = new SplittableRandom(seed * 104729L + 3L)
  private val centres: Array[Array[Float]] = Array.fill(Clusters) {
    val c = Array.fill(Dim)(r.nextGaussian().toFloat)
    val n = math.sqrt(c.map(x => x * x).sum).toFloat
    c.map(_ / n)
  }
  private val mix = r.nextLong(1L << 31)
  private var made = 0L

  def id(k: Long): Long = (k * 1103515245L + mix) & 0x7fffffffL

  def point(): Array[Float] = {
    val c = centres(r.nextInt(Clusters))
    c.map(x => x + (r.nextGaussian() * Noise).toFloat)
  }

  /** The next `n` vectors, with fresh ids. */
  def next(n: Int): Seq[(Long, Array[Float])] =
    (0 until n).map { _ => val k = made; made += 1; (id(k), point()) }
}

/** Live vectors held by the benchmark, for the brute-force reference. */
final class LiveSet {
  private val ids = mutable.ArrayBuffer[Long]()
  private val vecs = mutable.ArrayBuffer[Array[Float]]()
  private val norms = mutable.ArrayBuffer[Double]()
  private val at = mutable.HashMap[Long, Int]()

  def add(xs: Seq[(Long, Array[Float])]): Unit = xs.foreach { case (i, v) =>
    at(i) = ids.size; ids += i; vecs += v; norms += math.sqrt(v.map(x => x.toDouble * x).sum)
  }
  /** Swap-remove: the last vector takes the removed one's slot. */
  def remove(xs: Seq[Long]): Unit = xs.foreach { i =>
    val k = at.remove(i).get
    val last = ids.size - 1
    if (k != last) { ids(k) = ids(last); vecs(k) = vecs(last); norms(k) = norms(last); at(ids(k)) = k }
    ids.remove(last); vecs.remove(last); norms.remove(last)
  }
  def size: Int = ids.size
  def contains(i: Long): Boolean = at.contains(i)
  def id(k: Int): Long = ids(k)

  /** Exact top-k by cosine, ties to the lower id. */
  def topK(q: Array[Float], k: Int): Seq[Long] = {
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    val best = Array.fill(k)((Double.NegativeInfinity, Long.MaxValue))
    def better(a: (Double, Long), b: (Double, Long)) = a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    var n = 0
    while (n < ids.size) {
      val v = vecs(n)
      var d = 0.0; var j = 0
      while (j < v.length) { d += v(j).toDouble * q(j); j += 1 }
      val c = (d / (norms(n) * qn), ids(n))
      if (better(c, best(k - 1))) {
        var p = k - 1
        while (p > 0 && better(c, best(p - 1))) { best(p) = best(p - 1); p -= 1 }
        best(p) = c
      }
      n += 1
    }
    best.toSeq.map(_._2)
  }
}

/** A persisted IVF index serving a fixed mix from one client. Reads are
  * batches of indexed top-k queries; writes are appends, tombstone
  * deletes, and a periodic compaction, interleaved with the reads so that
  * write-side layout choices show up in read latency.
  */
final class AnnIndex(ctx: Ctx) extends Workload {
  import AnnIndex._
  private val spark = ctx.spark
  import spark.implicits._

  private val gen = new VecGen(ctx.seed)
  private val live = new LiveSet
  private val path = ctx.dir("ivf")
  private val deleted = mutable.HashSet[Long]()
  private var tombstoned = 0
  private val layer = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private def addLayer(n: String, v: Double): Unit =
    layer.getOrElseUpdate(n, mutable.ArrayBuffer[Double]()) += v

  private def frame(xs: Seq[(Long, Array[Float])]): DataFrame = xs.toDF("vec_id", "embedding")

  def prepare(): Unit = {
    val base = gen.next(Corpus)
    live.add(base)
    Similarity.buildIvfIndex(frame(base), CentroidPred, Dim, path)
  }

  /** Whole cycles of the mix, so the window starts on a compacted index. */
  def warmup(rec: Recorder): Unit =
    (0 until WarmupCycles * Mix.size).foreach(i => run(kind(i), -1L - i, rec))

  /** The op at position `n` of the fixed mix. */
  private def kind(n: Long): String = Mix((n % Mix.size).toInt)

  private def timed(rec: Recorder, sample: String, n: Long)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    ctx.tracer.operation(s"ann.$sample", n) { ctx.tracer.span(s"sim.$sample")(body) }
    rec.add(s"${sample}_s", (System.nanoTime() - t0) / 1e9)
  }

  def step(n: Long, rec: Recorder): Unit = run(kind(n), n, rec)

  private def run(kind: String, n: Long, rec: Recorder): Unit = {
    kind match {
      case "query" =>
        val qs = rec.gen(gen.next(QueryBatch).zipWithIndex.map { case ((_, v), i) => (i.toLong, v) })
        val qdf = rec.gen(frame(qs))
        var res: Array[(Long, Long)] = Array.empty
        val t0 = System.nanoTime()
        ctx.tracer.operation("ann.query", n) {
          ctx.tracer.span("sim.query") {
            res = Similarity.ivfTopKIndexed(spark, path, qdf, K, NProbe)
              .select("q_id", "c_id").as[(Long, Long)].collect()
          }
        }
        val dt = (System.nanoTime() - t0) / 1e9
        rec.check {
          val byQ = res.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
          val bad = res.map(_._2).filter(c => deleted(c) || !live.contains(c))
          val recall = qs.map { case (q, v) =>
            val truth = live.topK(v, K)
            truth.count(byQ.getOrElse(q, Set.empty[Long])).toDouble / K
          }.sum / qs.size
          rec.count("recall", recall); rec.count("batches", 1)
          if (bad.nonEmpty) rec.fail(s"query $n returned deleted or unknown ids ${bad.take(3).toSeq}")
          else if (recall < RecallFloor) rec.fail(f"query $n recall@$K $recall%.3f under the floor $RecallFloor")
          else { rec.add("query_s", dt); rec.count("queries", qs.size) }
        }
      case "append" =>
        val xs = rec.gen(gen.next(AppendBatch))
        val df = rec.gen(frame(xs))
        timed(rec, "append", n)(Similarity.appendToIvfIndex(df, path))
        live.add(xs)
      case "delete" =>
        val ids = rec.gen {
          val r = new SplittableRandom(ctx.seed ^ n)
          Iterator.continually(live.id(r.nextInt(live.size))).distinct.take(DeleteBatch).toSeq
        }
        val df = rec.gen(ids.toDF("vec_id"))
        timed(rec, "delete", n)(Similarity.deleteFromIvfIndex(spark, path, df))
        live.remove(ids); deleted ++= ids; tombstoned += ids.size
      case "compact" =>
        timed(rec, "compact", n)(Similarity.compactIvfIndex(spark, path))
        tombstoned = 0
    }
    if (ctx.tracer.enabled) rec.check(walk())
  }

  /** Index layout after an operation: data files, generation directories
    * and live tombstones.
    */
  private def walk(): Unit = {
    val cells = Option(new File(path, "assigned").listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("cell="))
    val gens = cells.flatMap(c => Option(c.listFiles()).getOrElse(Array.empty[File]))
      .filter(_.getName.startsWith("g="))
    addLayer("sim.generations", gens.length.toDouble)
    addLayer("sim.data_files", gens.map(g => Option(g.listFiles()).getOrElse(Array.empty[File])
      .count(_.getName.endsWith(".parquet"))).sum.toDouble)
    addLayer("sim.tombstones", tombstoned.toDouble)
  }

  def figures(rec: Recorder, busyS: Double): Seq[Metric] = {
    val q = rec.get("query_s")
    val a = rec.get("append_s")
    Seq(
      Metric("query_p50_s", Stats.p50(q), "s", q.size),
      Metric("append_p50_s", Stats.p50(a), "s", a.size),
      Metric("queries_per_s", rec.counts("queries") / busyS, "1/s", q.size),
      Metric("recall_at_10", rec.counts("recall") / rec.counts("batches").max(1.0), "ratio",
        rec.counts("batches").toLong)) ++
      Stats.p90(q).map(v => Metric("query_p90_s", v, "s", q.size))
  }

  def layers(rec: Recorder, spans: Seq[Span]): Seq[Metric] = {
    val timing = Seq("query", "append", "delete", "compact").map { k =>
      val xs = spans.filter(_.name == s"sim.$k").map(_.durNs / 1e9)
      Metric(s"sim.${k}_s", if (xs.isEmpty) 0.0 else Stats.median(xs), "s", xs.size)
    }
    // layout counts are averaged over operations: the read amplification
    // a query meets on average
    timing ++ layer.toSeq.map { case (k, xs) => Metric(k, xs.sum / xs.size, "count", xs.size) } ++
      curationStages()
  }

  /** The text, dedup and ops layers, measured here because `curation_job`
    * is not among the driven workloads: its corpus, a warm-up job and two
    * timed fused jobs, then its stage-by-stage and forced-distributed
    * measurements.
    */
  private def curationStages(): Seq[Metric] = {
    val cur = new CurationJob(ctx)
    val r = new Recorder
    cur.prepare()
    cur.step(-1L, new Recorder)
    (0 until 2).foreach(i => cur.step(i.toLong, r))
    if (r.failed > 0) throw new IllegalStateException(s"curation probe failed: ${r.failures.mkString("; ")}")
    cur.layers(r, Nil)
  }

  def close(): Unit = ()
}

object AnnIndex {
  val Dim = 64
  val Clusters = 48
  val Noise = 0.12
  val Corpus = 10000
  val CentroidPred = "vec_id % 1000 = 0"
  val K = 10
  val NProbe = 2
  val QueryBatch = 16
  val AppendBatch = 200
  val DeleteBatch = 100
  /** The fixed mix, repeated: half reads, appends at three in ten, one
    * delete and one compaction in ten.
    */
  val Mix = IndexedSeq("query", "append", "query", "append", "query", "delete",
    "query", "append", "query", "compact")
  val WarmupCycles = 3
  val RecallFloor = 0.5
}
