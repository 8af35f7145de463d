package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.collab.{AlertLog, Collab}
import graft.model.{FlowStat, TopologyEntry}
import graft.streaming.DetectionStream
import graft.streaming.DetectionStream.{DetectConfig, DomainDetectState}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}

/** Seeded flow-counter polls for three domains. Every poll carries each
  * domain's benign flows (cumulative counters, no telnet), the CNC's
  * telnet flood toward four victims, and, in one domain that rotates with
  * the poll number, a wave of fresh bots: a 48101 loading flow (the flag)
  * and a weak telnet probe each.
  */
final class FlowGen(seed: Long) {
  import DetectProtect._

  val hosts: IndexedSeq[String] = (1 to NHosts).map(i => s"10.0.0.$i")
  val cnc = "10.0.0.4"
  private val victims = hosts.filter(_ != cnc).take(4)
  val topology: Seq[TopologyEntry] = hosts.zipWithIndex.map { case (ip, i) =>
    TopologyEntry(s"s${3 + i / 2}", 3L + i / 2, i % 2 + 1, ip, is_host = true)
  }

  private final case class Benign(src: String, dst: String, port: Int, rate: Int, i: Int)

  private val benign: Map[String, IndexedSeq[Benign]] = Domains.zipWithIndex.map { case (d, di) =>
    val r = new SplittableRandom(seed * 1000003L + di)
    d -> (0 until BenignFlows).map { i =>
      Benign(hosts(r.nextInt(NHosts)), hosts(r.nextInt(NHosts)),
        BenignPorts(r.nextInt(BenignPorts.size)), r.nextInt(40) + 1, i)
    }
  }.toMap

  // bot k's address: an affine bijection of k on 22 bits (odd multiplier),
  // so addresses never repeat within a run and differ between seeds
  private val mix = (new SplittableRandom(seed).nextLong() & 0x3fffffL)
  def botIp(k: Long): String = {
    val x = (k * 2654435761L + mix) & 0x3fffffL
    s"100.${64 + (x >> 16)}.${(x >> 8) & 255}.${x & 255}"
  }

  def waveDomain(poll: Long): String = Domains((poll % Domains.size).toInt)
  def wave(poll: Long): Seq[String] = (0 until WaveBots).map(i => botIp(poll * WaveBots + i))

  def poll(p: Long): Seq[FlowStat] = {
    val ts = new Timestamp(1735689600000L + p * 2000L)
    val rows = new mutable.ArrayBuffer[FlowStat](Domains.size * (BenignFlows + 4) + 2 * WaveBots)
    Domains.foreach { d =>
      benign(d).foreach { b =>
        val pc = b.rate.toLong * 2 * (p + 1)
        val udp = b.port == 53 || b.port == 67
        rows += FlowStat(ts, p, d, 3L + b.i % 4, 10, b.i % 4 + 1, None, None,
          Some(b.src), Some(b.dst), Some(if (udp) 17 else 6),
          if (udp) None else Some(1024 + b.i % 1000), if (udp) None else Some(b.port),
          if (udp) Some(b.port) else None, if (udp) Some(b.port) else None,
          2, pc, pc * 60)
      }
      val cncPc = 1000L * (p + 1)
      victims.foreach { v =>
        rows += FlowStat(ts, p, d, 4L, 10, 1, None, None, Some(cnc), Some(v), Some(6),
          Some(40000), Some(23), None, None, 2, cncPc, cncPc * 60)
      }
    }
    val d = waveDomain(p)
    wave(p).zipWithIndex.foreach { case (bot, i) =>
      rows += FlowStat(ts, p, d, 3L + i % 4, 10, i % 4 + 1, None, None, Some(bot), Some(cnc),
        Some(17), None, None, Some(48101), Some(48101), 2, 12L, 7200L)
      val probe = (i % 7 + 1).toLong * 3
      rows += FlowStat(ts, p, d, 3L + i % 4, 10, i % 4 + 1, None, None, Some(bot),
        Some(hosts(i % NHosts)), Some(6), Some(50000 + i), Some(23), None, None, 2, probe, probe * 60)
    }
    rows.toSeq
  }
}

/** The expected alerts of the generated traffic, restated from the
  * thesis's rules independently of the engine: a CNC alert on a domain's
  * first poll, one BOT alert per fresh bot, and the one-shot lockdown once
  * half of the hosts' worth of bots has been alerted.
  */
final class AlertModel(gen: FlowGen) {
  import DetectProtect._
  private val seen = mutable.Set[String]()
  private val alerted = mutable.Map[String, Int]().withDefaultValue(0)
  private val latched = mutable.Set[String]()

  /** (domain, ip, label) alerts of poll `p`. */
  def alerts(p: Long): Seq[(String, String, String)] = Domains.flatMap { d =>
    val out = mutable.ArrayBuffer[(String, String, String)]()
    if (seen.add(d)) out += ((d, gen.cnc, "CNC"))
    if (gen.waveDomain(p) == d) {
      out ++= gen.wave(p).map(b => (d, b, "BOT"))
      alerted(d) += WaveBots
    }
    val pct = 100.0 * alerted(d) / NHosts
    if (!latched(d) && pct >= 50.0) { out += ((d, gen.cnc, pct.toString)); latched += d }
    out
  }
}

/** The detect-to-protect loop of three collaborating domains. One
  * operation: hand in one poll of every domain, run the detection query to
  * completion (its `foreachBatch` publishes each domain's alerts to that
  * domain's log), then run every domain's consumer to completion (foreign
  * logs, decode, mitigations with the 100 s TTL).
  */
final class DetectProtect(ctx: Ctx) extends Workload {
  import DetectProtect._
  private val spark = ctx.spark
  import spark.implicits._

  private val gen = new FlowGen(ctx.seed)
  private val cfg = DetectConfig()
  private val topology = gen.topology.toDF()

  private final class Pipeline {
    val base = ctx.dir("detect")
    val logs: Map[String, String] = Domains.map(d => d -> s"$base/log-$d").toMap
    val mem = MemoryStream[FlowStat](spark)
    @volatile var committedNs = 0L
    val installed: Map[String, ConcurrentLinkedQueue[(Long, Seq[(String, String)])]] =
      Domains.map(d => d -> new ConcurrentLinkedQueue[(Long, Seq[(String, String)])]()).toMap
    var poll = 0L
    val model = new AlertModel(gen)
    val nextOffset = mutable.Map[String, Long]().withDefaultValue(0L)
    val installedKeys: Map[String, mutable.Set[(String, String)]] =
      Domains.map(d => d -> mutable.Set[(String, String)]()).toMap
    // engine state replayed outside Spark, for the direct pollStep timing
    val shadow = mutable.Map[String, DomainDetectState]().withDefaultValue(DomainDetectState.init)
    val lastBatch = mutable.Map[String, Long]().withDefaultValue(-1L)
    var lastAlerts = 0
    var lastInstalls = 0

    private val publish: (Dataset[Row], Long) => Unit = (batch, id) => {
      batch.persist()
      try Domains.foreach { d =>
        ctx.tracer.span("collab.append") {
          AlertLog.sink(logs(d))(batch.filter(col("topic") === s"alert$d"), id)
        }
      } finally batch.unpersist()
      committedNs = System.nanoTime()
    }

    val detect: StreamingQuery =
      Collab.encodeAlerts(DetectionStream.alerts(mem.toDS(), cfg))
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", s"$base/ck-detect")
        .foreachBatch(publish).start()

    val consumers: Map[String, StreamingQuery] = Domains.map { c =>
      val foreign = Collab.fanIn(Domains.filter(_ != c).map(d => AlertLog.stream(spark, logs(d))))
      val record: (Dataset[Row], Long) => Unit = (batch, _) => {
        val rows = batch.select("action", "target_ip").as[(String, String)].collect().toSeq
        if (rows.nonEmpty) installed(c).add((System.nanoTime(), rows))
      }
      c -> DetectionStream.mitigationsWithTtl(Collab.consume(foreign, c), topology)
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", s"$base/ck-consume-$c")
        .foreachBatch(record).start()
    }.toMap

    def stop(): Unit = (detect +: consumers.values.toSeq).foreach(_.stop())
  }

  private var pipe: Pipeline = _
  private val layer = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private def addLayer(n: String, v: Double): Unit =
    layer.getOrElseUpdate(n, mutable.ArrayBuffer[Double]()) += v

  def prepare(): Unit = pipe = new Pipeline

  def warmup(rec: Recorder): Unit = (0 until WarmupPolls).foreach(i => step(-1L - i, rec))

  def step(n: Long, rec: Recorder): Unit = {
    val p = pipe
    val poll = p.poll
    p.poll += 1
    val rows = rec.gen(gen.poll(poll))
    val waveDom = gen.waveDomain(poll)
    val t0 = System.nanoTime()
    ctx.tracer.operation("detect_protect.op", n) {
      ctx.tracer.span("streaming.hand_in") { p.mem.addData(rows) }
      ctx.tracer.span("streaming.detect") { p.detect.processAllAvailable() }
      ctx.tracer.span("collab.consume") { p.consumers.values.foreach(_.processAllAvailable()) }
    }
    val tDone = System.nanoTime()
    rec.check {
      val alertNs = p.committedNs - t0
      val got = Domains.map(d => d -> p.installed(d).asScala.toList).toMap
      Domains.foreach(d => p.installed(d).clear())
      // protection: the last neighbour to hold a mitigation for the wave
      val wave = gen.wave(poll).toSet
      val protectNs = Domains.filter(_ != waveDom).map { c =>
        got(c).find(_._2.exists { case (a, ip) => a == "RATE_LIMIT" && wave(ip) })
          .map(_._1 - t0).getOrElse(Long.MaxValue)
      }.max
      val errs = verify(p, poll, got, rec)
      if (alertNs <= 0 || alertNs > tDone - t0) rec.fail(s"poll $poll: no alert commit in the step")
      else if (protectNs == Long.MaxValue) rec.fail(s"poll $poll: a neighbour installed no mitigation")
      else if (errs.nonEmpty) rec.fail(s"poll $poll: ${errs.mkString("; ")}")
      else {
        rec.add("alert_s", alertNs / 1e9)
        rec.add("protect_s", protectNs / 1e9)
        rec.count("flows", rows.size)
      }
      if (ctx.tracer.enabled) traceStep(p, poll, rows)
    }
  }

  /** Alerts read back from the logs and mitigations recorded by the
    * consumers, against the model. Returns the mismatches.
    */
  private def verify(p: Pipeline, poll: Long,
                     got: Map[String, List[(Long, Seq[(String, String)])]],
                     rec: Recorder): Seq[String] = {
    val errs = mutable.ArrayBuffer[String]()
    val expected = p.model.alerts(poll)
    p.lastAlerts = 0
    p.lastInstalls = 0
    Domains.foreach { d =>
      val published = readNewFrames(p, d).sorted
      p.lastAlerts += published.size
      val want = expected.filter(_._1 == d).map(a => s"${a._2}@${a._3}").sorted
      if (published != want) errs += s"$d alerts ${published.take(3)} != ${want.take(3)}"
    }
    Domains.foreach { c =>
      val want = expected.filter(_._1 != c).map(a => (action(a._3), a._2)).distinct
        .filterNot(p.installedKeys(c))
      val have = got(c).flatMap(_._2)
      p.lastInstalls += have.size
      rec.count("mitigations_expected", want.size)
      rec.count("mitigations_delivered", have.count(want.contains))
      if (have.sorted != want.sorted) errs += s"$c mitigations ${have.take(3)} != ${want.take(3)}"
      p.installedKeys(c) ++= have
    }
    errs.toSeq
  }

  private def readNewFrames(p: Pipeline, d: String): Seq[String] = {
    val dir = Paths.get(p.logs(d))
    if (!Files.isDirectory(dir)) return Nil
    val s = Files.list(dir)
    val segs = try s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".seg")).toList
    finally s.close()
    val from = p.nextOffset(d)
    val fresh = segs.map(n => (n.takeWhile(_ != '-').toLong, n)).filter(_._1 >= from).sortBy(_._1)
    fresh.flatMap { case (b, n) =>
      val lines = Files.readAllLines(dir.resolve(n)).asScala.toList
      p.nextOffset(d) = math.max(p.nextOffset(d), b + lines.size)
      lines.map(_.split('\t')(1))
    }
  }

  private def traceStep(p: Pipeline, poll: Long, rows: Seq[FlowStat]): Unit = {
    def fresh(name: String, q: StreamingQuery): Seq[StreamingQueryProgress] = {
      val ps = q.recentProgress.filter(_.batchId > p.lastBatch(name)).toSeq
      ps.lastOption.foreach(x => p.lastBatch(name) = x.batchId)
      ps
    }
    def ms(ps: Seq[StreamingQueryProgress], keys: String*): Double =
      ps.map(x => keys.map(k => Option(x.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum).sum / 1e3
    val det = fresh("detect", p.detect)
    addLayer("streaming.detect_trigger_s", ms(det, "triggerExecution"))
    addLayer("streaming.detect_planning_s", ms(det, "queryPlanning"))
    addLayer("streaming.detect_addbatch_s", ms(det, "addBatch"))
    addLayer("streaming.detect_commit_s", ms(det, "walCommit", "commitOffsets"))
    det.lastOption.flatMap(_.stateOperators.headOption).foreach { s =>
      addLayer("streaming.state_rows", s.numRowsTotal.toDouble)
      addLayer("streaming.state_mb", s.memoryUsedBytes / (1024.0 * 1024.0))
    }
    addLayer("streaming.state_commit_s", det.flatMap(_.stateOperators.headOption).map(_.commitTimeMs).sum / 1e3)
    addLayer("streaming.state_update_s", det.flatMap(_.stateOperators.headOption).map(_.allUpdatesTimeMs).sum / 1e3)
    val cons = Domains.map(c => fresh(s"consume-$c", p.consumers(c)))
    addLayer("collab.consume_trigger_s", cons.map(ms(_, "triggerExecution")).sum)
    addLayer("collab.consume_list_s", cons.map(ms(_, "latestOffset", "getBatch")).sum)
    addLayer("streaming.mitigate_state_rows", Domains.map(c => Option(p.consumers(c).lastProgress)
      .flatMap(_.stateOperators.headOption).map(_.numRowsTotal).getOrElse(0L)).sum.toDouble)
    addLayer("collab.segments", Domains.map { d =>
      val s = Files.list(Paths.get(p.logs(d)))
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".seg")) finally s.close()
    }.sum.toDouble)
    addLayer("dipa.alerts_per_step", p.lastAlerts.toDouble)
    addLayer("collab.mitigations_per_step", p.lastInstalls.toDouble)
    val byDomain = rows.groupBy(_.domain)
    val t0 = System.nanoTime()
    Domains.foreach { d =>
      val (s2, _) = DetectionStream.pollStep(cfg)(p.shadow(d), poll, byDomain.getOrElse(d, Nil))
      p.shadow(d) = s2
    }
    addLayer("dipa.pollstep_s", (System.nanoTime() - t0) / 1e9)
  }

  def figures(rec: Recorder, busyS: Double): Seq[Metric] = {
    val protect = rec.get("protect_s")
    val alert = rec.get("alert_s")
    Seq(
      Metric("protect_p50_s", Stats.p50(protect), "s", protect.size),
      Metric("alert_p50_s", Stats.p50(alert), "s", alert.size),
      Metric("flows_per_s", rec.counts("flows") / busyS, "1/s", alert.size),
      Metric("delivery_ratio", deliveryRatio(rec), "ratio", rec.counts("mitigations_expected").toLong)) ++
      Stats.p90(protect).map(v => Metric("protect_p90_s", v, "s", protect.size)) ++
      Stats.p90(alert).map(v => Metric("alert_p90_s", v, "s", alert.size))
  }

  /** Installed mitigations over expected ones: the collaborative accuracy. */
  private def deliveryRatio(rec: Recorder): Double =
    rec.counts("mitigations_delivered") / rec.counts("mitigations_expected").max(1.0)

  def layers(rec: Recorder, spans: Seq[Span]): Seq[Metric] = {
    val appendS = spans.filter(_.name == "collab.append").map(_.durNs).sum / 1e9
    val steps = math.max(rec.get("alert_s").size, 1)
    layer.toSeq.map { case (n, xs) =>
      val unit = if (n.endsWith("_s")) "s" else if (n.endsWith("_mb")) "MB" else "count"
      Metric(n, Stats.median(xs.toSeq), unit, xs.size)
    } ++ Seq(
      Metric("collab.append_s", appendS / steps, "s", steps),
      Metric("collab.delivery_ratio", deliveryRatio(rec), "ratio", rec.counts("mitigations_expected").toLong))
  }

  def close(): Unit = if (pipe != null) pipe.stop()
}

object DetectProtect {
  val Domains = Seq("d0", "d1", "d2")
  /** Benign flows per domain poll: the reference's collapse point. */
  val BenignFlows = 7500
  val BenignPorts = IndexedSeq(80, 443, 53, 67, 8080)
  val NHosts = 8
  val WaveBots = 5
  val WarmupPolls = 15

  def action(label: String): String = label match {
    case "BOT" => "RATE_LIMIT"
    case "CNC" => "DROP_TELNET"
    case "BLOCK" => "BLOCK_PORT"
    case _ => "LOCKDOWN"
  }
}
