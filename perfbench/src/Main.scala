package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What a workload run shares: the session, the seed, a scratch directory
  * inside the checkout, and the tracer.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val work: File,
                val tracer: Tracer) {
  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** A metric as printed: name, value, unit, and the samples behind it
  * (0 for a figure that is not a sample statistic).
  */
final case class Metric(name: String, value: Double, unit: String, n: Long = 0L)

/** One closed-loop workload: one client, the next operation only after the
  * previous one returned.
  */
trait Workload {
  /** The set-up: generate the inputs and build or start what the loop
    * needs. Called once.
    */
  def prepare(): Unit

  /** Operations run before the clock so that state, caches and the JIT
    * settle; their samples and failures go to `rec`.
    */
  def warmup(rec: Recorder): Unit

  /** Operation number `n`: generates its inputs outside the clock, times
    * it, checks its outputs and records samples and failures.
    */
  def step(n: Long, rec: Recorder): Unit

  /** The workload's own end-to-end figures over a window of `busyS` seconds
    * of timed work, in the order of [[Main.EndToEnd]]: the median time until
    * the user has the answer, the median time until a write is committed,
    * the input items per busy second, and the answer's quality against the
    * reference; then any p90 the window has the samples for.
    */
  def figures(rec: Recorder, busyS: Double): Seq[Metric]

  /** Per-layer figures gathered while tracing, and measurements that need
    * their own runs (a stage materialized alone, a gate forced the other
    * way). Called once, after the traced window.
    */
  def layers(rec: Recorder, spans: Seq[Span]): Seq[Metric]

  def close(): Unit
}

object Main {

  val Workloads: Map[String, Ctx => Workload] = Map(
    "detect_protect" -> (c => new DetectProtect(c)),
    "curation_job" -> (c => new CurationJob(c)),
    "ann_index" -> (c => new AnnIndex(c)))

  /** The contract metrics of an untraced run, in the order of
    * [[Workload.figures]].
    */
  val EndToEnd = Seq("answer_p50_s", "commit_p50_s", "work_per_s", "answer_quality")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.keys.mkString(", ")})")
    val t = need("--trace")
    require(t == "0" || t == "1", s"--trace must be 0 or 1, got $t")
    val s = need("--seconds").toDouble
    require(s > 0, s"--seconds must be positive, got $s")
    Args(w, need("--seed").toLong, s, t == "1")
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    // Spark may leave non-daemon threads behind; the run is over either way
    System.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    SelfTest.run() // the statistics below must be right before they are used
    if (argv.sameElements(Array("--selftest"))) { println("selftest: ok"); return }
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new File(s".bench_work/${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    val spark = Session.start()
    try {
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val ctx = new Ctx(spark, a.seed, work, new Tracer)
      val w = Workloads(a.workload)(ctx)
      try report(a, ctx, w, jvmStartMs, sessionS) finally w.close()
    } finally {
      spark.stop()
      deleteTree(work)
      deleteTree(Session.localDir)
    }
  }

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** One timed window: closed loop until `seconds` have passed. */
  final case class Window(rec: Recorder, ops: Long, wallS: Double, foreignCores: Double)

  private def window(w: Workload, seconds: Double, firstOp: Long): Window = {
    val rec = new Recorder
    val cpu = new graft.util.ProcCpu
    val c0 = cpu.snap()
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var n = firstOp
    while (System.nanoTime() < end) {
      rec.attempted += 1
      try w.step(n, rec)
      catch { case e: Exception => rec.fail(s"op $n: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      n += 1
    }
    Window(rec, n - firstOp, (System.nanoTime() - t0) / 1e9, cpu.othersCores(c0, cpu.snap()))
  }

  private def report(a: Args, ctx: Ctx, w: Workload, jvmStartMs: Long, sessionS: Double): Unit = {
    // the execution listener must be on the session before the streaming
    // queries start: each query runs on a clone that copies the listeners
    val tap = new SparkTap
    if (a.trace) tap.register(ctx.spark)
    val prep = time(w.prepare())
    val warmRec = new Recorder
    val warm = time(w.warmup(warmRec))
    if (warmRec.failed > 0) throw new IllegalStateException(s"warm-up failed: ${warmRec.failures.mkString("; ")}")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val out = ArrayBuffer[Metric]()
    println(f"geometry: master=${ctx.spark.sparkContext.master} " +
      s"shuffle.partitions=${ctx.spark.conf.get("spark.sql.shuffle.partitions")} " +
      s"xmx_mb=${Runtime.getRuntime.maxMemory / (1024 * 1024)} " +
      s"host_cores=${new graft.util.ProcCpu().hostCores}")
    println(f"setup: total_s=$setupS%.3f session_s=$sessionS%.3f prepare_s=$prep%.3f warmup_s=$warm%.3f")
    warmRec.samples.foreach { case (n, xs) =>
      println(s"warmup: $n n=${xs.size} " + xs.map(x => f"$x%.3f").mkString("samples=[", ",", "]"))
    }

    if (!a.trace) {
      val win = window(w, a.seconds, 0L)
      val heapMb = Session.liveHeapMb()
      val figs = w.figures(win.rec, busy(win))
      steadiness(win)
      figs.foreach(print)
      out ++= endToEnd(setupS, heapMb, figs)
      finish(Seq(win.rec), out.toSeq)
    } else {
      // the first half untraced, the second traced: the difference of the
      // two is the tracing overhead
      val plain = window(w, a.seconds / 2, 0L)
      Session.drainListeners(tap)
      val t0 = tap.snap()
      tap.on = true
      ctx.tracer.enabled = true
      val traced = window(w, a.seconds / 2, plain.ops)
      ctx.tracer.enabled = false
      Session.drainListeners(tap)
      tap.on = false
      val spark = tap.snap() - t0
      tap.unregister(ctx.spark)
      val spans = ctx.tracer.all
      val layer = w.layers(traced.rec, spans)
      val heapMb = Session.liveHeapMb()
      val f0 = w.figures(plain.rec, busy(plain))
      val f1 = w.figures(traced.rec, busy(traced))
      println("# per-layer (traced half)")
      layer.foreach(print)
      println("# span self time (traced half): name count total_s self_s")
      Spans.byName(spans).foreach { case (n, c, tot, self) =>
        println(f"span $n%-28s $c%6d $tot%10.4f $self%10.4f")
      }
      println("# tracing overhead: untraced vs traced half")
      val overhead = f0.zip(f1).map { case (u, t) =>
        println(f"overhead ${u.name}%-22s untraced=${u.value}%.6f traced=${t.value}%.6f ${u.unit}")
        Metric(s"trace.overhead.${u.name}", if (u.value != 0) t.value / u.value else 1.0, "ratio")
      }
      steadiness(traced)
      val perOp = spark.perOp(traced.ops).map { case (n, v, u) => Metric(n, v, u, traced.ops) }
      perOp.foreach(print)
      overhead.foreach(print)
      val traceFile = new File(s".bench_out/trace-${a.workload}-${a.seed}.json")
      traceFile.getParentFile.mkdirs()
      java.nio.file.Files.write(traceFile.toPath, Spans.toJson(spans).getBytes("UTF-8"))
      println(s"trace: ${spans.size} spans written to ${traceFile.getPath}")
      out ++= perOp
      out += Metric("trace.overhead_answer_p50", overhead.head.value, "ratio")
      println(f"heap_live_mb $heapMb%.1f MB")
      finish(Seq(plain.rec, traced.rec), out.toSeq)
    }
  }

  private def busy(win: Window): Double =
    (win.wallS - (win.rec.genNs + win.rec.checkNs) / 1e9).max(1e-9)

  private def endToEnd(setupS: Double, heapMb: Double, figs: Seq[Metric]): Seq[Metric] =
    Seq(Metric("setup_s", setupS, "s"), Metric("heap_live_mb", heapMb, "MB")) ++
      EndToEnd.zip(figs).map { case (n, f) => f.copy(name = n) }

  private def steadiness(win: Window): Unit = {
    val r = win.rec
    println(f"steadiness: ops=${win.ops} window_s=${win.wallS}%.3f " +
      f"generator_outside_clock_s=${r.genNs / 1e9}%.3f check_outside_clock_s=${r.checkNs / 1e9}%.3f " +
      f"foreign_cores=${win.foreignCores}%.3f")
    r.samples.foreach { case (n, xs) =>
      if (xs.size >= 2) {
        val (h1, h2) = Stats.halves(xs.toSeq)
        println(f"steadiness: $n n=${xs.size} first_half_p50=$h1%.6f second_half_p50=$h2%.6f " +
          xs.map(x => f"$x%.3f").mkString("samples=[", ",", "]"))
      }
    }
  }

  private def print(m: Metric): Unit =
    println(f"metric ${m.name}%-30s ${m.value}%14.6f ${m.unit}%-6s n=${m.n}")

  private def finish(recs: Seq[Recorder], metrics: Seq[Metric]): Unit = {
    val attempted = recs.map(_.attempted).sum
    val failed = recs.map(_.failed).sum
    recs.flatMap(_.failures).foreach(f => println(s"FAILED $f"))
    println(s"correctness: ${if (failed == 0) "ok" else "FAILED"} attempted=$attempted failed=$failed")
    val ms = metrics.map(m => s"${Json.str(m.name)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}""")
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }
}
