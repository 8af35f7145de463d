package graft.collab

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The collaboration-plane transport contract — the seam where the
  * reference's Pulsar client sits (`ryu/src/deployed_controller/
  * DIPA_Controller.py:67-80` producer/consumer setup, `:357-421` the
  * consume loop). Everything downstream (Collab.consume, the mitigation
  * pipeline, the C7 ClassifierLoop) sees only (offset, value) frames, so
  * swapping transports never touches query logic.
  *
  *  - `stream`: subscribe from the last checkpointed position (Spark
  *    checkpoints the source progress per query — the committed-offset /
  *    Pulsar-ack analog).
  *  - `sink`: a `foreachBatch` publish hook. Delivery is AT-LEAST-ONCE
  *    end-to-end on every transport; effectively-once remains the
  *    consumer's `dropDuplicates` keyed state, exactly as with broker
  *    acks (CollabSpec drives redelivery + checkpoint restart).
  */
trait LogTransport {
  /** Tail the log as a streaming (offset LONG, value STRING) frame. */
  def stream(spark: SparkSession): DataFrame
  /** Batch replay of everything retained (audits, backfills, tests). */
  def read(spark: SparkSession): DataFrame
  /** `foreachBatch` producer hook publishing the `value` column. */
  def sink: (Dataset[Row], Long) => Unit
}

/** The file-backed transport: [[AlertLog]] behind the contract. Runs
  * everywhere (no broker), totally ordered per directory, used by the
  * transport-contract tests.
  */
final case class FileLog(dir: String) extends LogTransport {
  def stream(spark: SparkSession): DataFrame = AlertLog.stream(spark, dir)
  def read(spark: SparkSession): DataFrame = AlertLog.read(spark, dir)
  def sink: (Dataset[Row], Long) => Unit = AlertLog.sink(dir)
}

/** The N-partition file-backed transport — the partitioned-topic shape of
  * the reference's producer (`ryu/src/deployed_controller/
  * DIPA_Controller.py:80` round-robin-routes alerts across topic
  * partitions). Each partition is one [[AlertLog]] directory
  * (`dir/p0 … dir/p{N-1}`) with its OWN contiguous offset sequence;
  * ordering holds WITHIN a partition only — exactly the broker contract,
  * and exactly what the consumer's content-keyed dedup state was already
  * built to not depend on.
  *
  * This removes [[AlertLog]]'s single-writer serialization caveat:
  * producers routed to different partitions never contend (each
  * partition keeps `createLink` race detection against two writers on
  * the SAME partition), while the consumer tails all partitions as one
  * stream, with a `partition` column alongside the contract's
  * (offset, value).
  */
final case class PartitionedLog(dir: String, partitions: Int = 4) extends LogTransport {
  require(partitions >= 1, "need at least one partition")

  def pdir(p: Int): String = s"$dir/p$p"
  private def createAll(): Unit = (0 until partitions).foreach { p =>
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(pdir(p))); ()
  }

  /** partition id recovered from the segment's directory name. */
  private def withPartition(df: DataFrame): DataFrame =
    df.withColumn("partition",
      // Anchored to the segment's PARENT directory: a base dir that itself
      // contains a '/pN/' component (e.g. /data/p2/alerts) must not
      // mis-label rows, so only the last directory before the file counts.
      regexp_extract(input_file_name(), "/p(\\d+)/[^/]+$", 1).cast("int"))

  def stream(spark: SparkSession): DataFrame = {
    createAll()
    withPartition(spark.readStream.schema(AlertLog.Schema)
      .option("sep", "\t").option("quote", "")
      .csv(s"$dir/p*/*.seg"))
  }

  def read(spark: SparkSession): DataFrame = {
    createAll()
    withPartition(spark.read.schema(AlertLog.Schema)
      .option("sep", "\t").option("quote", "")
      .csv(s"$dir/p*/*.seg"))
  }

  /** Round-robin publish: frame `i` of the batch goes to partition
    * `i mod N`, each partition's share appended as one atomic segment at
    * that partition's next offset.
    */
  def publishRoundRobin(frames: Seq[String]): Unit =
    frames.zipWithIndex.groupBy(_._2 % partitions).foreach { case (p, fs) =>
      AlertLog.append(pdir(p), fs.map(_._1)); ()
    }

  /** `foreachBatch` producer hook: deterministic frame order (sorted, as
    * [[AlertLog.sink]]), then round-robin across partitions.
    */
  def sink: (Dataset[Row], Long) => Unit = (batch, _) => {
    val frames = batch.select("value")
      .as[String](org.apache.spark.sql.Encoders.STRING).collect().toSeq.sorted
    if (frames.nonEmpty) publishRoundRobin(frames)
  }
}
