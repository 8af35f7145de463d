package graft.dipa

import graft.ops.Windows
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The TC2 bitrate-threshold DDoS detector
  * (`ryu/testing/experimental_development/TestCase_2/Controller1.py`),
  * composed end to end from the §2 operators: per-flow byte deltas →
  * Kbit/s bitrates (O6) → victims over threshold → attacker attribution
  * through the topology with the MAC/IP zip (J4/J5) → pushback victims
  * with no local attacker (J7) → per-port peace check (A8). The sustained
  * /peace hysteresis on the result stream is
  * graft.streaming.StateMachines.ingress (C1/C2/C9).
  */
object Bitrate {

  /** O6 — per-flow Kbit/s from cumulative byte counters
    * (`Controller1.py:294-297, 516-518`): delta per flow key over the poll
    * interval. Output keeps the flow key + `kbps`.
    */
  def flowRates(flows: DataFrame, intervalS: Double): DataFrame =
    Windows.delta(flows, Detect.flowKey, Seq("poll_id"), "byte_count", "byte_delta")
      .withColumn("kbps", col("byte_delta") * 8 / (intervalS * 1000))

  /** Victim detection (`Controller1.py:300-330`): destinations whose total
    * inbound rate on the latest poll exceeds the bitrate threshold.
    */
  def victims(rates: DataFrame, bitrateThresholdKbps: Double): DataFrame = {
    val latest = Windows.lastPerKey(rates.filter(col("byte_delta").isNotNull),
      Detect.flowKey, Seq("poll_id"))
    latest.groupBy(col("domain"), col("eth_dst"), col("ipv4_dst"))
      .agg(sum(col("kbps")).as("inbound_kbps"))
      .filter(col("inbound_kbps") > bitrateThresholdKbps)
  }

  /** J4/J5 — attacker attribution with the MAC/IP zip
    * (`Controller1.py:476-503`): every (switch, in_port) sending above the
    * per-flow threshold toward a victim, resolved through the topology
    * dimension to the attached host (its IP — `IPMaps`/`MACMaps` zip), with
    * inter-switch links excluded (`is_host`) — [[Detect.atHostPorts]].
    */
  def attackers(rates: DataFrame, victimFrame: DataFrame, topology: DataFrame,
                attackerThresholdKbps: Double): DataFrame =
    Detect.atHostPorts(rates
        .join(victimFrame.select(col("domain"), col("ipv4_dst")), Seq("domain", "ipv4_dst"), "left_semi")
        .filter(col("kbps") > attackerThresholdKbps),
      topology, "attackers")
      .select(col("domain"), col("__host.switch_name").as("switch_name"),
        col("__host.port").as("port"), col("__host.attached").as("attacker_ip"),
        col("ipv4_dst").as("victim_ip"), col("kbps"))

  /** J7 — pushback victims: attacked destinations with no locally-attached
    * attacker — the flood enters from another domain
    * (`Controller1.py:395-413`).
    */
  def pushback(victimFrame: DataFrame, attackerFrame: DataFrame): DataFrame =
    victimFrame.join(
      attackerFrame.select(col("domain"), col("victim_ip").as("ipv4_dst")),
      Seq("domain", "ipv4_dst"), "left_anti")

  /** A8 — per-(switch, port) peace check: all latest flow rates at or
    * below the peace threshold (`Controller1.py:340`). Feeds
    * StateMachines.ingress as `PortRateObs.max_rate`.
    */
  def portPeace(rates: DataFrame, peaceThresholdKbps: Double): DataFrame = {
    val latest = Windows.lastPerKey(rates.filter(col("byte_delta").isNotNull),
      Detect.flowKey, Seq("poll_id"))
    latest.groupBy(col("domain"), col("dpid"), col("in_port"))
      .agg(max(col("kbps")).as("max_rate"))
      .withColumn("at_peace", col("max_rate") <= peaceThresholdKbps)
  }
}
