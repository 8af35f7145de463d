package graft.model

import java.sql.Timestamp

/** Typed record model for the engine's network-telemetry surface
  * (SURVEY.md §1). The reference keeps these as implicit Python dicts; we
  * declare them as case classes so `Dataset[T]` encoders and explicit
  * `StructType`s check the schema at ingest.
  *
  * Nullable match fields (the reference's `try/except KeyError` pattern,
  * `ryu/src/deployed_controller/DIPA_Controller.py:468-473`) are `Option`s.
  */
final case class FlowStat(
    poll_ts: Timestamp,
    poll_id: Long,
    domain: String,
    dpid: Long,
    priority: Int,
    in_port: Int,
    eth_src: Option[String],
    eth_dst: Option[String],
    ipv4_src: Option[String],
    ipv4_dst: Option[String],
    ip_proto: Option[Int],
    tcp_src: Option[Int],
    tcp_dst: Option[Int],
    udp_src: Option[Int],
    udp_dst: Option[Int],
    out_port: Int,
    packet_count: Long,
    byte_count: Long)

/** Per-port counters (`TestCase_2/Controller1.py:521-533`). */
final case class PortStat(
    poll_ts: Timestamp,
    poll_id: Long,
    domain: String,
    dpid: Long,
    port_no: Int,
    rx_packets: Long,
    rx_bytes: Long,
    rx_errors: Long,
    tx_packets: Long,
    tx_bytes: Long,
    tx_errors: Long)

/** Packet-in events with parsed protocol layers
  * (`DIPA_Controller.py:230-270`).
  */
final case class PacketEvent(
    event_ts: Timestamp,
    domain: String,
    dpid: Long,
    in_port: Int,
    eth_src: String,
    eth_dst: String,
    ethertype: Int,
    ipv4_src: Option[String],
    ipv4_dst: Option[String],
    ip_proto: Option[Int],
    l4_src_port: Option[Int],
    l4_dst_port: Option[Int],
    buffer_id: Long)

/** Decoded collaboration alert (`"<ip>@<label>"` wire strings,
  * `DIPA_Controller.py:333-352`). `label` is BOT / CNC / BLOCK or a numeric
  * compromise percentage.
  */
final case class Alert(ip: String, label: String)

/** Global-view update (`demo4.py:361`): `src@dst_port@rate`. */
final case class GlobalUpdate(domain: String, src: String, dst_port: Int, rate: Double)

/** Control-plane timing record (`DIPA_Controller.py:499-501`). */
final case class TimingRecord(domain: String, control_plane_s: Double, wall_ts: Timestamp)

/** Static topology dimension row (`portMaps`, `DIPA_Controller.py:138-144`):
  * one row per (switch, port) with the attached node. At any scale this
  * stays a dimension table. The J1 mitigation lookup (`Detect.mitigations`)
  * and the J4/J5 attribution paths (`Detect.atHostPorts`) collect it when
  * the frame is built, into a host map literal that rides in the plan (a
  * topology change takes a new frame or query).
  */
final case class TopologyEntry(
    switch_name: String, // not `switch`: Java reserved word breaks the encoder
    dpid: Long,
    port: Int,
    attached: String,
    is_host: Boolean)

/** A mitigation decision produced by the engine (the data form of the
  * reference's OFPFlowMod / ovs-vsctl side effects, SURVEY.md §2.1 S10/S11).
  * Side effects stay outside the engine: downstream actuators consume this.
  */
final case class Mitigation(
    action: String, // DROP_48101 | DROP_TELNET | RATE_LIMIT | LOCKDOWN | BLOCK_PORT
    target_ip: Option[String],
    switch_name: Option[String],
    port: Option[Int],
    priority: Int,
    idle_timeout_s: Int,
    hard_timeout_s: Int)
