package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.dipa.Detect
import graft.model.FlowStat
import graft.streaming.DetectionStream._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.OutputMode

import scala.collection.mutable

/** Streaming detection pipeline: flag-once alerts over MemoryStream polls,
  * duplicate-delivery tolerance, checkpoint restart, and parity with the
  * oracle-checked batch pipeline on the same fixture.
  */
class DetectionStreamSpec extends SparkSpec {

  private val T0 = Timestamp.valueOf("2026-01-01 00:00:00")

  private def flow(pollId: Long, src: String, dst: String, pc: Long,
                   tcpDst: Option[Int] = Some(23), udp: Option[Int] = None,
                   priority: Int = 10): FlowStat =
    FlowStat(T0, pollId, "d0", 1L, priority, 1, None, None, Some(src), Some(dst),
      Some(if (udp.isDefined) 17 else 6), None, tcpDst, udp, udp, 2, pc, pc * 100)

  private def flag(pollId: Long, src: String): FlowStat =
    flow(pollId, src, "10.0.0.4", 5, tcpDst = None, udp = Some(48101))

  // polls: cnc 10.0.0.4 dominates telnet; bots get 48101-flagged then score
  private val poll1 = Seq(
    flow(1, "10.0.0.4", "10.0.0.5", 300),
    flag(1, "10.0.0.1"), flow(1, "10.0.0.1", "10.0.0.8", 50))
  private val poll2 = Seq(
    flow(2, "10.0.0.4", "10.0.0.5", 600),
    flow(2, "10.0.0.1", "10.0.0.8", 80),
    flag(2, "10.0.0.2"), flow(2, "10.0.0.2", "10.0.0.8", 100))
  private val poll3 = Seq(
    flow(3, "10.0.0.4", "10.0.0.5", 600),
    flag(3, "10.0.0.3"), flow(3, "10.0.0.3", "10.0.0.8", 10),
    flag(3, "10.0.0.6"), flow(3, "10.0.0.6", "10.0.0.8", 20))

  test("pollStep: flag-once BOT, change-only CNC, one-shot lockdown") {
    val cfg = DetectConfig()
    val (s1, a1) = pollStep(cfg)(DomainDetectState.init, 1, poll1)
    assert(a1.map(a => (a.ip, a.label)).toSet ==
      Set("10.0.0.1" -> "BOT", "10.0.0.4" -> "CNC"))
    val (s2, a2) = pollStep(cfg)(s1, 2, poll2)
    assert(a2.map(a => (a.ip, a.label)) == Seq("10.0.0.2" -> "BOT")) // no CNC re-alert
    val (s3, a3) = pollStep(cfg)(s2, 3, poll3)
    assert(a3.map(_.label).count(_ == "BOT") == 2)
    assert(a3.exists(_.label == "50.0")) // 4 of 8 hosts -> lockdown broadcast
    val (_, a4) = pollStep(cfg)(s3, 4, poll3.map(_.copy(poll_id = 4)))
    assert(a4.isEmpty) // same evidence re-delivered: everything already latched
  }

  test("pollStep: priority filter and gating exclude unflagged sources") {
    val cfg = DetectConfig()
    val rows = poll1 :+ flow(1, "10.0.0.7", "10.0.0.8", 1, priority = 100)
    val (st, alerts) = pollStep(cfg)(DomainDetectState.init, 1, rows)
    assert(!st.traf.keys.exists(_.startsWith("10.0.0.7"))) // priority 100 ignored
    assert(!alerts.exists(_.ip == "10.0.0.5"))             // dst never scored
  }

  test("streaming alerts match batch Detect on the same fixture") {
    import spark.implicits._
    val all = poll1 ++ poll2 ++ poll3
    val streamed = alerts(all.toDS()).collect()
    val streamedBots = streamed.filter(_.label == "BOT").map(_.ip).toSet

    val batch = Detect.detect(all.toDF()).filter("is_suspected").collect()
    val batchBots = batch.map(_.getAs[String]("ipv4_src")).toSet
    assert(streamedBots == batchBots)
    assert(streamedBots == Set("10.0.0.1", "10.0.0.2", "10.0.0.3", "10.0.0.6"))
    assert(streamed.count(_.label == "CNC") == 1)
  }

  test("streaming: checkpoint restart keeps the alerted set (no re-alerts)") {
    import spark.implicits._
    DetectionStreamSpec.sink.clear()
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val in = MemoryStream[FlowStat](spark)
    val collectBatch: (org.apache.spark.sql.Dataset[DomainAlert], Long) => Unit =
      (batch, _) => DetectionStreamSpec.sink.synchronized {
        DetectionStreamSpec.sink ++= batch.collect()
      }
    def start() = alerts(in.toDS()).writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt)
      .foreachBatch(collectBatch)
      .start()

    val q1 = start()
    try { in.addData(poll1); in.addData(poll2); q1.processAllAvailable() }
    finally q1.stop()
    val afterFirst = DetectionStreamSpec.sink.synchronized(DetectionStreamSpec.sink.toList)
    assert(afterFirst.count(_.label == "BOT") == 2)

    val q2 = start() // resume from checkpoint: alerted set must be restored
    try {
      in.addData(poll3.map(_.copy(poll_id = 3)))
      in.addData(poll1.map(_.copy(poll_id = 4))) // duplicate delivery of old evidence
      q2.processAllAvailable()
    } finally q2.stop()
    val all = DetectionStreamSpec.sink.synchronized(DetectionStreamSpec.sink.toList)
    assert(all.count(_.label == "BOT") == 4)        // only poll3's two new bots
    assert(all.count(_.label == "CNC") == 1)        // CNC not re-alerted on restart
    assert(all.map(_.ip).count(_ == "10.0.0.1") == 1)
  }

  test("mitigations: effectively-once dispatch with topology join") {
    import spark.implicits._
    val topo = Seq(
      ("s1", 1L, 1, "10.0.0.1", true), ("s1", 1L, 2, "10.0.0.4", true))
      .toDF("switch_name", "dpid", "port", "attached", "is_host")
    val alerts = Seq(
      ("d0", "10.0.0.1", "BOT"), ("d0", "10.0.0.1", "BOT"), // duplicate delivery
      ("d0", "10.0.0.4", "CNC"), ("d1", "10.0.0.9", "55.5"))
      .toDF("domain", "ip", "label")
    val m = DetectionStream.mitigations(alerts, topo).collect()
    assert(m.length == 3) // dup collapsed
    val byAction = m.map(r => r.getAs[String]("action") -> r).toMap
    assert(byAction("RATE_LIMIT").getAs[String]("switch_name") == "s1")
    assert(byAction("DROP_TELNET").getAs[Int]("priority") == 100)
    assert(byAction.contains("LOCKDOWN"))
  }

  test("a running mitigationsWithTtl stream plans no broadcast exchange or join") {
    import spark.implicits._
    val topo = Seq(("s1", 1L, 1, "10.0.0.1", true))
      .toDF("switch_name", "dpid", "port", "attached", "is_host")
    val in = MemoryStream[(String, String, String)](spark)
    val rows = mutable.ArrayBuffer[Row]()
    val q = DetectionStream.mitigationsWithTtl(in.toDS().toDF("domain", "ip", "label"), topo)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        rows.synchronized(rows ++= b.collect())
        ()
      }.start()
    try {
      in.addData(("d0", "10.0.0.1", "BOT"), ("d0", "10.0.0.9", "CNC"))
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      val broadcasts = plan.collect {
        case e: BroadcastExchangeExec => e
        case j: BroadcastHashJoinExec => j
        case j: BroadcastNestedLoopJoinExec => j
      }
      assert(broadcasts.isEmpty, s"expected no broadcast:\n$plan")
      assert(plan.collect { case g: GenerateExec => g }.nonEmpty, s"no lookup in:\n$plan")
      assert(rows.synchronized(rows.map(r =>
        (r.getAs[String]("action"), r.getAs[String]("switch_name"))).toSet) ==
        Set(("RATE_LIMIT", "s1"), ("DROP_TELNET", null)))
    } finally q.stop()
  }

  test("mitigationsWithTtl: bounded suppression, rule re-install after expiry") {
    import spark.implicits._
    def ts(s: Long) = new Timestamp(T0.getTime + s * 1000)
    val topo = Seq(("s1", 1L, 1, "10.0.0.1", true))
      .toDF("switch_name", "dpid", "port", "attached", "is_host")
    val in = MemoryStream[(Timestamp, String, String, String)](spark)
    val seen = mutable.ArrayBuffer[(String, String)]()
    val q = DetectionStream.mitigationsWithTtl(
        in.toDS().toDF("at", "domain", "ip", "label"), topo,
        ttl = "100 seconds", eventTimeCol = Some("at"))
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen.synchronized {
          seen ++= b.collect().map(r =>
            (r.getAs[String]("action"), r.getAs[String]("target_ip")))
        }
        ()
      }.start()
    try {
      in.addData((ts(0), "d0", "10.0.0.1", "BOT"))
      q.processAllAvailable()
      // redelivery inside the TTL window: suppressed
      in.addData((ts(50), "d0", "10.0.0.1", "BOT"))
      q.processAllAvailable()
      assert(seen.synchronized(seen.count(_ == ("RATE_LIMIT", "10.0.0.1"))) == 1)
      // march the watermark past the key's expiry (0 + 100 s)
      in.addData((ts(300), "d0", "10.0.0.9", "BOT"))
      q.processAllAvailable()
      // the attack is still alerting after the rule lifetime: re-dispatch
      in.addData((ts(310), "d0", "10.0.0.1", "BOT"))
      q.processAllAvailable()
      assert(seen.synchronized(seen.count(_ == ("RATE_LIMIT", "10.0.0.1"))) == 2,
        "an expired suppression must re-install the rule")
      // and the state store stays bounded (evicted keys are gone)
      assert(q.lastProgress.stateOperators.head.numRowsTotal <= 3)
    } finally q.stop()
  }
}

object DetectionStreamSpec {
  val sink: mutable.ListBuffer[DetectionStream.DomainAlert] = mutable.ListBuffer.empty
}
