package graft.streaming

import java.net.URI
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.collab.{AlertLog, Collab}
import graft.io.ForkFreeLocalFs
import org.apache.hadoop.fs.FileContext
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** A stateful streaming query checkpoints the same files, and answers the
  * same, on the engine's `file:` FileContext filesystem as on Hadoop's
  * stock `LocalFs`, across a stop and a restart on the same checkpoint.
  */
class CheckpointFsSpec extends SparkSpec {
  import spark.implicits._

  private val Key = "fs.AbstractFileSystem.file.impl"

  /** Three batches of alerts through `mitigationsWithTtl` over an
    * `AlertLog` stream, a stop, a restart and one more batch, with `impl`
    * bound to the `file:` scheme. Returns the sorted (action, target)
    * outputs and the checkpoint tree as sorted relative names.
    */
  private def run(impl: String): (Seq[(String, String)], Seq[String]) = {
    val root = Files.createTempDirectory("graft-ckfs")
    val (log, ckpt) = (root.resolve("log").toString, root.resolve("ckpt"))
    val topo = Seq(("s1", 1L, 1, "10.0.0.5", true), ("s1", 1L, 2, "10.0.0.6", true),
        ("s1", 1L, 3, "10.0.0.4", true), ("s2", 2L, 1, "10.0.0.7", true))
      .toDF("switch_name", "dpid", "port", "attached", "is_host")
    val out = mutable.ArrayBuffer[(String, String)]()
    def start(): StreamingQuery = DetectionStream.mitigationsWithTtl(
        Collab.consume(AlertLog.stream(spark, log), "d1"), topo)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val rows = b.collect().map(r => (r.getAs[String]("action"), r.getAs[String]("target_ip")))
        out.synchronized { out ++= rows }
        ()
      }.start()
    def feed(q: StreamingQuery, frames: String*): Unit = {
      AlertLog.append(log, frames); q.processAllAvailable()
    }
    val prev = spark.conf.get(Key)
    spark.conf.set(Key, impl)
    try {
      val bound = FileContext.getFileContext(new URI("file:///"),
        spark.sessionState.newHadoopConf()).getDefaultFileSystem
      assert(bound.getClass.getName == impl)
      val q1 = start()
      try {
        feed(q1, "10.0.0.5@BOT", "10.0.0.4@CNC")
        feed(q1, "10.0.0.5@BOT", "10.0.0.6@BOT") // a redelivered BOT frame
        feed(q1, "10.0.0.7@BOT")
      } finally q1.stop()
      val q2 = start() // same checkpoint: source position and dedup state restored
      try feed(q2, "10.0.0.6@BOT", "10.0.0.7@BOT", "10.0.0.8@BOT") finally q2.stop()
    } finally spark.conf.set(Key, prev)
    val walk = Files.walk(ckpt)
    val tree = try walk.iterator().asScala.map(p => ckpt.relativize(p).toString).toList.sorted
    finally walk.close()
    (out.synchronized(out.toList.sorted), tree)
  }

  test("checkpoint files and outputs equal Hadoop's LocalFs through a restart") {
    val (stockOut, stockTree) = run("org.apache.hadoop.fs.local.LocalFs")
    val (out, tree) = run(classOf[ForkFreeLocalFs].getName)
    assert(out == stockOut)
    // every alert once: redeliveries suppressed, also across the restart
    assert(out.map(_._2) == Seq("10.0.0.4", "10.0.0.5", "10.0.0.6", "10.0.0.7", "10.0.0.8"))
    assert(tree == stockTree)
    // Hadoop's .crc sidecars, and Spark's own checksum file for each state
    // delta (named `<delta>.crc`, with its own sidecar)
    for (n <- Seq("offsets/.0.crc", "commits/.0.crc", "sources/0/.0.crc",
        "state/0/0/.1.delta.crc", "state/0/0/1.delta.crc", "state/0/0/.1.delta.crc.crc"))
      assert(tree.contains(n), n)
  }
}
