package graft.queries

import graft.dipa.{Classify, Detect}
import graft.io.Tables
import graft.util.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle rows for the detection-pipeline operators that are pure
  * relational transforms: O1/O3/O4 predicates, O13 bias-ratio, A3
  * suspected-bot thresholding, C6 mitigation dispatch, J4/J5 attacker
  * attribution, and the A1 quirk-parity snapshot mode
  * (`DIPA_Controller.py:459-497` scoring, `:377-413` dispatch,
  * `Controller1.py:476-503` attribution). The queries call the REAL
  * graft.dipa operators over flows-shaped frames synthesized
  * deterministically from the events table — domain = event_type,
  * source = user_id — so the oracle checks the exact code the streaming
  * pipeline runs, not a re-derivation.
  */
object DetectQueries {

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** Flows-shaped telnet totals: per (domain, src) decimal-exact volume. */
  private def totals(e: DataFrame): DataFrame =
    e.groupBy(col("event_type").as("domain"), col("user_id").as("ipv4_src"))
      .agg(dsum(col("value")).as("telnet_total"))

  /** O3 analog: sources flagged by high-volume surveillance traffic. */
  private def flagged(e: DataFrame): DataFrame =
    e.filter(col("value") > 100.0d)
      .select(col("event_type").as("domain"), col("user_id").as("ipv4_src"))
      .distinct()

  /** O13 — bias-ratio scoring through the real biasScores (CNC excluded,
    * J6 gate on): score = 1 - total/(total + cnc_total).
    */
  def o13BiasRatio(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val t = totals(e)
    Detect.biasScores(t, Detect.electCnc(t), flagged(e))
      .select(col("domain"), col("ipv4_src"), col("telnet_total"),
        col("cnc_ip"), col("cnc_total"), col("score"))
  }

  /** A3 — suspected-bot thresholding (0.6 shipped threshold) on O13. */
  def a3Suspected(s: SparkSession, dir: String): DataFrame =
    Detect.suspectedBots(o13BiasRatio(s, dir))

  /** C6 — the mitigation dispatch table over synthesized decoded alerts
    * (every label arm exercised: BOT, CNC, BLOCK, numeric pct, unknown)
    * looked up in a synthesized host-topology dimension (J1; its `port`
    * is a bigint, which the lookup keeps).
    */
  def c6Dispatch(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val alerts = e.select(
      when(col("event_id") % 5 === 0, "BOT")
        .when(col("event_id") % 5 === 1, "CNC")
        .when(col("event_id") % 5 === 2, "BLOCK")
        .when(col("event_id") % 5 === 3, "37.5")
        .otherwise("noise").as("label"),
      concat(lit("10.0.0."), (col("user_id") % 50).cast("string")).as("ip"))
    val topology = e.select((col("user_id") % 50).as("hostnum")).distinct()
      .select(
        concat(lit("10.0.0."), col("hostnum").cast("string")).as("attached"),
        concat(lit("s"), (col("hostnum") % 5).cast("string")).as("switch_name"),
        (col("hostnum") % 48 + 1).as("port"),
        (col("hostnum") < 40).as("is_host"))
    Detect.mitigations(alerts, topology)
  }

  /** O1 — priority filter through the real dataFlows (priority == 10
    * keeps data flows, skips installed block rules).
    */
  def o1PriorityFilter(s: SparkSession, dir: String): DataFrame = {
    val flows = ev(s, dir).select(col("user_id"), col("event_id"),
      when(col("event_id") % 3 === 0, 10).otherwise(100).as("priority"))
    Detect.dataFlows(flows)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_data_flows"))
  }

  /** O3 — the symmetric udp/48101 bot-loading predicate, including the
    * null arm (non-UDP flows never match).
    */
  def o3BotLoading(s: SparkSession, dir: String): DataFrame = {
    val src = when(col("user_id") % 5 === 0, lit(null).cast("int"))
      .when(col("user_id") % 4 === 0, 48101).otherwise(1000)
    val dst = when(col("event_id") % 2 === 0, 48101).otherwise(53)
    ev(s, dir).filter(Classify.isBotLoading(src, dst))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_loading"))
  }

  /** O4 — telnet predicate, strict (23) and with the alt mitigation port
    * (2323) — both arms in one row.
    */
  def o4Telnet(s: SparkSession, dir: String): DataFrame = {
    val dst = when(col("event_id") % 7 === 0, 23)
      .when(col("event_id") % 7 === 1, 2323).otherwise(80)
    ev(s, dir).agg(
      count(when(Classify.isTelnet(dst), 1)).as("n_telnet"),
      count(when(Classify.isTelnet(dst, includeAlt = true), 1)).as("n_telnet_alt"))
  }

  /** J4/J5 — attacker attribution through the real attributeAttackers:
    * above-threshold rates toward victim MACs (semi-join), resolved to
    * the attached host via the (dpid, port) topology map lookup.
    */
  def j5Attribution(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val mac = concat(lit("aa:"), (col("event_id") % 7).cast("string"))
    val rates = e.select(
      col("event_type").as("domain"), (col("user_id") % 4).as("dpid"),
      (col("user_id") % 3 + 1).as("in_port"), mac.as("eth_dst"),
      col("value").as("rate"))
    val victims = e.filter(col("value") > 150.0d)
      .select(col("event_type").as("domain"), mac.as("eth_dst"))
      .distinct()
    val topology = e
      .select((col("user_id") % 4).as("dpid"), (col("user_id") % 3 + 1).as("port"))
      .distinct()
      .select(col("dpid"), col("port"),
        concat(lit("s"), col("dpid").cast("string")).as("switch_name"),
        concat(lit("10.0.1."), (col("dpid") * 10 + col("port")).cast("string")).as("attached"),
        lit(true).as("is_host"))
    Detect.attributeAttackers(rates, victims, topology, threshold = 100.0)
  }

  /** A1 quirk-parity mode — the reference's literal `traf_dict[src] =
    * {dst: count}` bug (each write REPLACES the whole per-source map, so
    * only the most recent (src, dst) counter survives; SURVEY §7.1/§7.5).
    * Runs the real telnetTotals with `quirkLastWriteOnly = true` over a
    * flows-shaped frame; integer packet counts, so the sum is exact.
    */
  def a1QuirkSnapshot(s: SparkSession, dir: String): DataFrame = {
    val flows = ev(s, dir).select(
      col("event_type").as("domain"),
      col("user_id").as("ipv4_src"),
      (col("event_id") % 13).as("ipv4_dst"),
      col("event_id").as("poll_id"),
      ((col("event_id") * 7) % 1000).as("packet_count"),
      lit(10).as("priority"), lit(23).as("tcp_dst"))
    Detect.telnetTotals(flows, quirkLastWriteOnly = true)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a1_quirk_snapshot" -> (a1QuirkSnapshot _),
    "j5_attribution" -> (j5Attribution _),
    "o13_bias_ratio" -> (o13BiasRatio _),
    "a3_suspected" -> (a3Suspected _),
    "c6_dispatch" -> (c6Dispatch _),
    "o1_priority_filter" -> (o1PriorityFilter _),
    "o3_bot_loading" -> (o3BotLoading _),
    "o4_telnet" -> (o4Telnet _)
  )

  private val scoresSql: String =
    """WITH totals AS (
      |  SELECT event_type AS domain, user_id AS ipv4_src,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS telnet_total
      |  FROM events GROUP BY 1, 2
      |), cnc AS (
      |  SELECT domain, ipv4_src AS cnc_ip, telnet_total AS cnc_total FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY domain ORDER BY telnet_total DESC, ipv4_src ASC) AS rk
      |    FROM totals)
      |  WHERE rk = 1
      |), flagged AS (
      |  SELECT DISTINCT event_type AS domain, user_id AS ipv4_src
      |  FROM events WHERE value > 100.0
      |)
      |SELECT t.domain, t.ipv4_src, t.telnet_total, c.cnc_ip, c.cnc_total,
      |  1.0 - t.telnet_total / (t.telnet_total + c.cnc_total) AS score
      |FROM totals t
      |JOIN cnc c USING (domain)
      |JOIN flagged f ON f.domain = t.domain AND f.ipv4_src = t.ipv4_src
      |WHERE t.ipv4_src <> c.cnc_ip""".stripMargin

  val oracle: Map[String, String] = Map(
    "a1_quirk_snapshot" ->
      """WITH flows AS (
        |  SELECT event_type AS domain, user_id AS ipv4_src,
        |    event_id % 13 AS ipv4_dst, event_id AS poll_id,
        |    (event_id * 7) % 1000 AS packet_count
        |  FROM events
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY domain, ipv4_src
        |    ORDER BY poll_id DESC, ipv4_dst DESC) AS rn
        |  FROM flows
        |)
        |SELECT domain, ipv4_src, CAST(SUM(packet_count) AS BIGINT) AS telnet_total
        |FROM ranked WHERE rn = 1 GROUP BY domain, ipv4_src""".stripMargin,
    "o13_bias_ratio" -> scoresSql,
    "a3_suspected" ->
      s"""SELECT * FROM ($scoresSql)
         |WHERE score >= 0.6""".stripMargin,
    "c6_dispatch" ->
      """WITH alerts AS (
        |  SELECT
        |    CASE WHEN event_id % 5 = 0 THEN 'BOT'
        |         WHEN event_id % 5 = 1 THEN 'CNC'
        |         WHEN event_id % 5 = 2 THEN 'BLOCK'
        |         WHEN event_id % 5 = 3 THEN '37.5'
        |         ELSE 'noise' END AS label,
        |    '10.0.0.' || (user_id % 50) AS ip
        |  FROM events
        |), topo AS (
        |  SELECT '10.0.0.' || hostnum AS attached,
        |    's' || (hostnum % 5) AS switch_name,
        |    hostnum % 48 + 1 AS port
        |  FROM (SELECT DISTINCT user_id % 50 AS hostnum FROM events)
        |  WHERE hostnum < 40
        |)
        |SELECT
        |  CASE WHEN label = 'BOT' THEN 'RATE_LIMIT'
        |       WHEN label = 'CNC' THEN 'DROP_TELNET'
        |       WHEN label = 'BLOCK' THEN 'BLOCK_PORT'
        |       WHEN regexp_matches(label, '^[0-9.]+$') THEN 'LOCKDOWN'
        |       ELSE 'UNKNOWN' END AS action,
        |  CASE WHEN label = 'BLOCK' THEN NULL ELSE ip END AS target_ip,
        |  switch_name, port,
        |  CASE WHEN label = 'CNC' THEN 100 ELSE 10 END AS priority,
        |  60 AS idle_timeout_s, 100 AS hard_timeout_s
        |FROM alerts LEFT JOIN topo ON ip = attached""".stripMargin,
    "o1_priority_filter" ->
      """SELECT user_id, COUNT(*) AS n_data_flows FROM events
        |WHERE event_id % 3 = 0 GROUP BY user_id""".stripMargin,
    "o3_bot_loading" ->
      """WITH x AS (
        |  SELECT user_id,
        |    CASE WHEN user_id % 5 = 0 THEN NULL
        |         WHEN user_id % 4 = 0 THEN 48101 ELSE 1000 END AS udp_src,
        |    CASE WHEN event_id % 2 = 0 THEN 48101 ELSE 53 END AS udp_dst
        |  FROM events
        |)
        |SELECT user_id, COUNT(*) AS n_loading FROM x
        |WHERE udp_src = 48101 AND udp_dst = 48101 GROUP BY user_id""".stripMargin,
    "o4_telnet" ->
      """WITH x AS (
        |  SELECT CASE WHEN event_id % 7 = 0 THEN 23
        |              WHEN event_id % 7 = 1 THEN 2323 ELSE 80 END AS tcp_dst
        |  FROM events
        |)
        |SELECT COUNT(CASE WHEN tcp_dst = 23 THEN 1 END) AS n_telnet,
        |  COUNT(CASE WHEN tcp_dst = 23 OR tcp_dst = 2323 THEN 1 END) AS n_telnet_alt
        |FROM x""".stripMargin,
    "j5_attribution" ->
      """WITH rates AS (
        |  SELECT event_type AS domain, user_id % 4 AS dpid,
        |    user_id % 3 + 1 AS in_port,
        |    'aa:' || (event_id % 7) AS eth_dst, value AS rate
        |  FROM events
        |), victims AS (
        |  SELECT DISTINCT event_type AS domain, 'aa:' || (event_id % 7) AS eth_dst
        |  FROM events WHERE value > 150.0
        |), topology AS (
        |  SELECT dpid, port, 's' || dpid AS switch_name,
        |    '10.0.1.' || (dpid * 10 + port) AS attached
        |  FROM (SELECT DISTINCT user_id % 4 AS dpid, user_id % 3 + 1 AS port
        |        FROM events)
        |)
        |SELECT r.domain, t.switch_name, t.port, t.attached AS attacker,
        |  r.eth_dst, r.rate
        |FROM rates r
        |JOIN victims v ON v.domain = r.domain AND v.eth_dst = r.eth_dst
        |JOIN topology t ON t.dpid = r.dpid AND t.port = r.in_port
        |WHERE r.rate > 100.0""".stripMargin
  )
}
