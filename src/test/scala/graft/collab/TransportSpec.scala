package graft.collab

import graft.SparkSpec
import graft.streaming.DetectionStream
import org.apache.spark.sql.streaming.OutputMode

import scala.collection.mutable

/** The transport contract behind the collaboration plane, driven through
  * the [[LogTransport]] trait: at-least-once redelivery suppressed by the
  * consumer, checkpointed resume, producer hook publishing — over
  * FileLog and PartitionedLog alike.
  */
class TransportSpec extends SparkSpec {

  import spark.implicits._

  private def contract(transport: LogTransport): Unit = {
    val ckpt = java.nio.file.Files.createTempDirectory("transport-ck").toString
    val topo = Seq(("s1", 1L, 1, "10.0.0.5", true), ("s1", 1L, 2, "10.0.0.6", true),
        ("s1", 1L, 3, "10.0.0.4", true))
      .toDF("switch_name", "dpid", "port", "attached", "is_host")

    // producer hook publishes a batch of wire frames
    transport.sink(Seq("10.0.0.5@BOT", "10.0.0.4@CNC").toDF("value"), 0L)

    val seen = mutable.ArrayBuffer[(String, String)]()
    def start() = DetectionStream.mitigations(
        Collab.consume(transport.stream(spark), "vm1"), topo)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        seen.synchronized {
          seen ++= b.collect().map(r =>
            (r.getAs[String]("action"), r.getAs[String]("target_ip")))
        }
        ()
      }.start()

    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(seen.synchronized(seen.size) == 2)

    // at-least-once: one frame redelivered, one genuinely new
    transport.sink(Seq("10.0.0.5@BOT", "10.0.0.6@BOT").toDF("value"), 1L)
    val q2 = start() // same checkpoint: position + dedup state restored
    try q2.processAllAvailable() finally q2.stop()

    val all = seen.synchronized(seen.toList)
    assert(all.size == 3, "the redelivered frame must be suppressed")
    assert(all.count(_ == ("RATE_LIMIT", "10.0.0.5")) == 1)
    assert(all.count(_ == ("RATE_LIMIT", "10.0.0.6")) == 1)
    assert(all.count(_ == ("DROP_TELNET", "10.0.0.4")) == 1)

    // the log retains the duplicate at its own offset (honest delivery)
    val frames = transport.read(spark).collect().map(_.getAs[String]("value"))
    assert(frames.count(_ == "10.0.0.5@BOT") == 2)
  }

  test("FileLog satisfies the transport contract (redelivery + restart)") {
    contract(FileLog(java.nio.file.Files.createTempDirectory("transport-log").toString))
  }

  test("PartitionedLog satisfies the transport contract over 4 partitions") {
    contract(PartitionedLog(
      java.nio.file.Files.createTempDirectory("transport-plog").toString, 4))
  }

  test("PartitionedLog: round-robin routing, per-partition contiguous offsets") {
    val log = PartitionedLog(
      java.nio.file.Files.createTempDirectory("plog-order").toString, 4)
    val first = (0 until 10).map(i => s"frame$i")
    log.publishRoundRobin(first)
    log.publishRoundRobin((10 until 14).map(i => s"frame$i"))
    val rows = log.read(spark).collect()
      .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset"),
        r.getAs[String]("value")))
    assert(rows.length == 14)
    // frame i landed on partition i mod 4 (within each publish batch)
    assert(rows.filter(_._3 == "frame5").head._1 == 1)
    assert(rows.filter(_._3 == "frame12").head._1 == 2)
    for (p <- 0 until 4) {
      val inP = rows.filter(_._1 == p).sortBy(_._2)
      // per-partition offsets are contiguous from 0 — each partition is
      // its own totally-ordered log
      assert(inP.map(_._2).toSeq == inP.indices.map(_.toLong))
      // and frames appear in publish order within the partition
      val ids = inP.map(_._3.stripPrefix("frame").toInt)
      assert(ids.toSeq == ids.sorted.toSeq)
      // round-robin restarts per publish batch: frame i of batch 1 (0-9)
      // sits at i mod 4, frame i of batch 2 (10-13) at (i - 10) mod 4
      assert(ids.forall(i => (if (i < 10) i % 4 else (i - 10) % 4) == p))
    }
  }

  test("PartitionedLog: producers on different partitions never contend") {
    val log = PartitionedLog(
      java.nio.file.Files.createTempDirectory("plog-conc").toString, 4)
    // 4 producers append concurrently, one per partition, 20 rounds each —
    // the single-writer collision (IllegalStateException from createLink)
    // must never fire across partitions
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { p =>
      new Thread(() =>
        try (0 until 20).foreach(i => AlertLog.append(log.pdir(p), Seq(s"p$p-$i")))
        catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"cross-partition producers collided: ${errs.peek()}")
    val rows = log.read(spark).collect()
      .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset"),
        r.getAs[String]("value")))
    assert(rows.length == 80)
    for (p <- 0 until 4) {
      val inP = rows.filter(_._1 == p).sortBy(_._2)
      assert(inP.map(_._2).toSeq == (0L until 20L))
      assert(inP.map(_._3).toSeq == (0 until 20).map(i => s"p$p-$i"))
    }
  }
}
