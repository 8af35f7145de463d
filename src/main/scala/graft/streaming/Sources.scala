package graft.streaming

import graft.model.{FlowStat, PacketEvent, PortStat}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Streaming source wiring (SURVEY.md §2.1 S1/S2/S4/S5): the poll cadence
  * and the directory-backed typed sources used when no broker connector is
  * present.
  *
  * The reference polls switches every 2 s (`DIPA_Controller.py:308-320`,
  * thesis Table 4); in Spark that cadence is the processing-time trigger,
  * not a custom source — any `Dataset[FlowStat]` stream (files landing in
  * a directory, Kafka/Pulsar connector, MemoryStream in tests) becomes
  * "the poll source" once the query runs with `pollTrigger`. Swapping the
  * transport means swapping `readStream.format(...)` here and nothing
  * downstream.
  */
object Sources {

  /** S1 — the 2 s poll cadence (thesis §6.2.3, Table 4). */
  val pollTrigger: Trigger = Trigger.ProcessingTime("2 seconds")

  private def dirSource[T <: Product : Encoder](
      spark: SparkSession, dir: String): Dataset[T] = {
    import org.apache.spark.sql.Encoders
    spark.readStream
      .schema(implicitly[Encoder[T]].schema)
      .parquet(dir)
      .as[T]
  }

  /** S1 — FlowStat snapshots landing as parquet drops in a directory. */
  def flowStats(spark: SparkSession, dir: String): Dataset[FlowStat] = {
    import spark.implicits._
    dirSource[FlowStat](spark, dir)
  }

  /** S2 — PortStat snapshots. */
  def portStats(spark: SparkSession, dir: String): Dataset[PortStat] = {
    import spark.implicits._
    dirSource[PortStat](spark, dir)
  }

  /** S4 — packet-in events. */
  def packets(spark: SparkSession, dir: String): Dataset[PacketEvent] = {
    import spark.implicits._
    dirSource[PacketEvent](spark, dir)
  }
}
