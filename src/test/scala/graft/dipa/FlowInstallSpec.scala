package graft.dipa

import java.sql.Timestamp

import graft.SparkSpec
import graft.model.PacketEvent
import graft.streaming.StateMachines.MacEntry
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** §3.3 flow-install pipeline: LLDP drop, MAC learning, FLOOD fallback,
  * classification (incl. C7 triggers), and rule emission.
  */
class FlowInstallSpec extends SparkSpec {

  import spark.implicits._

  private val T0 = Timestamp.valueOf("2026-01-01 00:00:00")

  private def pkt(dpid: Long, inPort: Int, src: String, dst: String,
                  ethertype: Int = 0x0800, proto: Option[Int] = Some(6),
                  dstPort: Option[Int] = Some(80), buf: Long = 0): PacketEvent =
    PacketEvent(T0, "vm0", dpid, inPort, src, dst, ethertype,
      Some("10.0.0.1"), Some("10.0.0.2"), proto, Some(1024), dstPort, buf)

  private val history = Seq(
    pkt(1, 1, "aa", "bb", buf = 0),               // learn aa@1
    pkt(1, 2, "bb", "aa", buf = 1),               // learn bb@2
    pkt(1, 3, "aa", "bb", buf = 2),               // aa moves to 3
    pkt(1, 9, "cc", "dd", ethertype = 0x88cc, buf = 3)) // LLDP: never learned

  test("learnedMacs: last-write-wins, LLDP excluded") {
    val t = FlowInstall.learnedMacs(history.toDF())
      .collect().map(r => r.getAs[String]("mac") -> r.getAs[Int]("learned_port")).toMap
    assert(t == Map("aa" -> 3, "bb" -> 2))
  }

  test("install: known dst forwards, unknown dst floods, LLDP dropped") {
    val rules = FlowInstall.install(history.toDF()).collect()
    assert(rules.forall(_.getAs[String]("eth_src") != "cc")) // LLDP row gone
    val byBuf = FlowInstall.install(history.toDF())
    val toBb = byBuf.filter(col("eth_dst") === "bb").select("out_port")
      .distinct().as[Int].collect().toSeq
    assert(toBb == Seq(2)) // learned port
    val flood = FlowInstall.install((history :+ pkt(1, 1, "aa", "zz", buf = 4)).toDF())
      .filter(col("eth_dst") === "zz").select("out_port").as[Int].head()
    assert(flood == FlowInstall.FloodPort)
  }

  test("install: Unknown protocol gets no rule; C7 trigger widens the match") {
    val odd = pkt(1, 1, "aa", "bb", proto = Some(99), dstPort = Some(4444), buf = 5)
    val none = FlowInstall.install((history :+ odd).toDF())
      .filter(col("eth_src") === "aa" && col("dpid") === 1 && col("in_port") === 1)
      .filter(col("protocol") === "Unknown").count()
    assert(none == 0)
    // protoTrig "6" (a consumed collaboration alert) makes ip_proto 99 classify as TCP
    val trigRules = FlowInstall.install((history :+ odd).toDF(), protoTrig = Some("6"))
      .filter(col("protocol") === "TCP").count()
    assert(trigRules >= 1)
  }

  test("streaming MAC learning emits on first sight and on moves only") {
    val entries = FlowInstall.macStream(history.toDS()).collect()
      .sortBy(_.seq).map(e => (e.mac, e.port))
    assert(entries.toSeq == Seq(("aa", 1), ("bb", 2), ("aa", 3)))
  }

  test("streaming MAC learning over micro-batches emits what the batch run emits") {
    // two switches in two domains; hosts move, repeat and return, LLDP
    // interleaves; ids ascend through the history, as a switch's do
    val h = Seq(
      pkt(1, 1, "aa", "bb"), pkt(1, 2, "bb", "aa"), pkt(2, 5, "aa", "cc"),
      pkt(1, 9, "cc", "dd", ethertype = 0x88cc), pkt(1, 1, "aa", "bb"),
      pkt(1, 3, "aa", "bb"), pkt(2, 6, "cc", "aa"), pkt(1, 2, "bb", "aa"),
      pkt(1, 9, "ee", "dd", ethertype = 0x88cc), pkt(1, 1, "aa", "bb"),
      pkt(2, 5, "aa", "cc"), pkt(2, 7, "cc", "aa"), pkt(1, 4, "bb", "aa"))
      .zipWithIndex.map { case (p, i) =>
        p.copy(domain = if (p.dpid == 2) "vm1" else "vm0", buffer_id = i.toLong) }
    def key(e: MacEntry) = (e.domain, e.dpid, e.mac, e.seq, e.port)
    val batch = FlowInstall.macStream(h.toDS()).collect().map(key).sorted.toSeq
    val in = MemoryStream[PacketEvent](spark)
    val q = FlowInstall.macStream(in.toDS()).writeStream
      .format("memory").queryName("mac_stream_out").outputMode(OutputMode.Update()).start()
    try {
      // three micro-batches cut across every key's history, so a key's
      // state must carry from one batch into the next
      Seq(h.take(4), h.slice(4, 9), h.drop(9)).foreach { part =>
        in.addData(part)
        q.processAllAvailable()
      }
      val streamed = spark.table("mac_stream_out").as[MacEntry].collect().map(key).sorted.toSeq
      assert(streamed == batch)
      assert(batch.size == 8)
      assert(batch.map(e => (e._3, e._5)).toSet ==
        Set(("aa", 1), ("bb", 2), ("aa", 5), ("aa", 3), ("cc", 6), ("cc", 7), ("bb", 4)))
    } finally q.stop()
  }
}
