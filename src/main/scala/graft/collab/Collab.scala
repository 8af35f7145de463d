package graft.collab

import graft.dipa.Codec
import graft.model.FlowStat
import graft.streaming.DetectionStream
import graft.streaming.DetectionStream.{DetectConfig, DomainAlert}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multi-domain collaboration exchange (SURVEY.md §2.1 S5/S6/S9, §3.2,
  * module 6): the Spark form of the reference's Pulsar topics.
  *
  * A "topic" is a partition of a wire-string DataFrame keyed by
  * `topic = alert<domain>` (`DIPA_Controller.py:67-80`: one topic per
  * domain, shared subscription). Producers encode `"<ip>@<label>"` wire
  * strings (S6); consumers union the topics they subscribe to (S9 fan-in),
  * decode with brace-noise tolerance (O9), and dispatch mitigations (C6)
  * effectively-once (`dropDuplicates` keyed state under at-least-once
  * delivery — the Pulsar-ack analog). In production the wire frames ride
  * any queue/file/Kafka-like transport; everything here is
  * transport-agnostic DataFrame → DataFrame.
  */
object Collab {

  /** S6 — encode alerts as per-domain-topic wire strings. */
  def encodeAlerts(alerts: Dataset[DomainAlert]): DataFrame =
    alerts.toDF().select(
      concat(lit("alert"), col("domain")).as("topic"),
      Codec.encode(col("ip"), col("label")).as("value"))

  /** S5/O9 — consume a wire-string frame: decode (brace-noise tolerated)
    * and tag with the consuming domain.
    */
  def consume(wire: DataFrame, consumerDomain: String): DataFrame =
    Codec.decodeAlert(wire)
      .select(lit(consumerDomain).as("domain"), col("ip"), col("label"))

  /** S9 — fan-in of N per-domain wire streams into one subscriber frame. */
  def fanIn(streams: Seq[DataFrame]): DataFrame =
    streams.reduce(_ unionByName _)

  /** One collaborating domain engine: detect locally, publish wire alerts;
    * consume foreign wire alerts into mitigations. The full TC2-shaped
    * exchange for N domains is `exchange` below.
    */
  final case class DomainEngine(domain: String, cfg: DetectConfig = DetectConfig()) {
    def publish(flows: Dataset[FlowStat]): DataFrame =
      encodeAlerts(DetectionStream.alerts(flows.filter(col("domain") === domain), cfg))

    /** Collects `topology` (a batch frame) once per call, when the frame
      * is built ([[graft.dipa.Detect.mitigations]]).
      */
    def mitigate(foreignWire: DataFrame, topology: DataFrame): DataFrame =
      DetectionStream.mitigations(consume(foreignWire, domain), topology)
  }

  /** The TC2/thesis collaborative-protection exchange: every domain
    * detects on its own flows and publishes; every other domain consumes
    * the union of foreign topics and installs mitigations pre-emptively
    * (`DIPA_Controller.py:357-421`). Returns the mitigation frame per
    * destination domain. Building them collects `topology` once per
    * destination domain (N small driver jobs, before any query starts);
    * a topology change takes a new `exchange`.
    */
  def exchange(flows: Dataset[FlowStat], domains: Seq[String],
               topology: DataFrame,
               cfg: DetectConfig = DetectConfig()): Map[String, DataFrame] = {
    val topics = domains.map { d =>
      d -> DomainEngine(d, cfg).publish(flows)
    }.toMap
    domains.map { dst =>
      val foreign = fanIn(domains.filter(_ != dst).map(topics))
      dst -> DomainEngine(dst, cfg).mitigate(foreign, topology)
    }.toMap
  }
}
