package graft.streaming

import graft.model.TimingRecord
import org.apache.spark.sql.Dataset

/** The §3.4 global-view pipeline (`ryu/testing/global_view_and_timing/
  * threaded_consumer.py:20-114`): N domains stream `(src, dst_port, rate)`
  * updates and `(control_plane_s, wall_ts)` timing records; a central
  * merge computes cross-domain latency statistics behind an
  * all-N-reported barrier (A6) and per-(src, port) anomaly mean/stddev
  * over trailing per-domain windows (A7/W5).
  *
  * Both are StateMachines-style pure steps under flatMapGroupsWithState.
  * The timing barrier is keyed by a single merge point — the reference's
  * one `threaded_consumer`; its input is one record per domain per poll,
  * so the single key is a few rows per trigger, not a hotspot. The
  * anomaly machine keys by (src, dst_port) and shards normally.
  */
object GlobalView {

  // ---- A6 streaming: latency merge with the all-N barrier --------------

  final case class TimingObs(domain: String, seq: Long, detect_s: Double, latency_s: Double)

  /** Per-domain latest (detect, latency) since the last barrier emission —
    * the `np.zeros((n,2))` matrix of `threaded_consumer.py:25,58-59`.
    */
  final case class TimingState(domains: Map[String, (Double, Double)])

  final case class TimingStats(
      seq: Long, n_domains: Int, min_total: Double, max_total: Double, mean_total: Double)

  /** `threaded_consumer.py:63-75`: accumulate per-domain rows; once every
    * domain has reported (`count_nonzero == 2N`), emit min/max/mean of the
    * per-domain detect+latency sums and reset the matrix.
    */
  def timingStep(nDomains: Int)(
      st: TimingState, o: TimingObs): (TimingState, Seq[TimingStats]) = {
    val domains = st.domains + (o.domain -> ((o.detect_s, o.latency_s)))
    if (domains.size >= nDomains) {
      val totals = domains.values.map { case (d, l) => d + l }
      (TimingState(Map.empty),
        Seq(TimingStats(o.seq, domains.size, totals.min, totals.max,
          totals.sum / totals.size)))
    } else (TimingState(domains), Nil)
  }

  /** Wire the barrier machine. Callers build `TimingObs` from decoded
    * `TimingRecord`s (O10: `detect_s = control_plane_s`, `latency_s` =
    * receive-time minus `wall_ts` against the consumer's clock —
    * `threaded_consumer.py:55-59`).
    */
  def timingMerge(obs: Dataset[TimingObs], nDomains: Int): Dataset[TimingStats] = {
    import obs.sparkSession.implicits._
    StateMachines.runMachine(obs, (_: TimingObs) => "global", (_: TimingObs).seq,
      TimingState(Map.empty))(timingStep(nDomains))
  }

  /** O10 adapter: decoded timing records + the consumer's receive instant
    * → barrier observations.
    */
  def toTimingObs(timing: Dataset[TimingRecord], receivedAtMs: Long): Dataset[TimingObs] = {
    import timing.sparkSession.implicits._
    timing.map(t => TimingObs(t.domain, t.wall_ts.getTime, t.control_plane_s,
      (receivedAtMs - t.wall_ts.getTime) / 1000.0))
  }

  // ---- A7/W5 streaming: cross-domain anomaly stats ---------------------

  final case class AnomalyObs(domain: String, src: String, dst_port: Int, seq: Long, rate: Double)

  /** Per-domain trailing deque(5) of rates for one (src, port) key
    * (`threaded_consumer.py:77-87`).
    */
  final case class AnomalyState(windows: Map[String, Seq[Double]])

  final case class AnomalyStats(
      src: String, dst_port: Int, seq: Long, n_domains: Int, mean_rate: Double, std_rate: Double)

  /** `threaded_consumer.py:89-100`: update the per-domain deque, then emit
    * mean/stddev of the per-domain deque means across domains — only once
    * >= 2 domains report ("collaborative mode").
    *
    * The moments are exact, as in the batch A7 query
    * (`EventAnalytics.a7AnomalyStats`, the `a7_anomaly_stats` oracle row):
    * each rate is cast to [[graft.util.Exact.Money]], each deque mean is
    * held as the exact decimal `L / k × Σ` with `L` the lcm of
    * 1..`windowLen` (60 for the reference's deque(5)), the cross-domain
    * sums of those and of their squares are exact, and only they are
    * rounded to double. So the stream's last emission per key equals the
    * batch query over the same rows, bit for bit (GlobalViewSpec pins it).
    */
  def anomalyStep(windowLen: Int = 5)(
      st: AnomalyState, o: AnomalyObs): (AnomalyState, Seq[AnomalyStats]) = {
    val w = (st.windows.getOrElse(o.domain, Nil) :+ o.rate).takeRight(windowLen)
    val windows = st.windows + (o.domain -> w)
    val out = if (windows.size >= 2) {
      val l = (1 to windowLen).foldLeft(1)((a, b) => a / BigInt(a).gcd(b).toInt * b)
      val ms = windows.values.map(r =>
        r.map(BigDecimal(_).setScale(graft.util.Exact.Money.scale,
          BigDecimal.RoundingMode.HALF_UP)).sum * (l / r.size))
      val n = ms.size
      val (s, s2) = (ms.sum.toDouble, ms.map(m => m * m).sum.toDouble)
      Seq(AnomalyStats(o.src, o.dst_port, o.seq, n, s / n / l,
        math.sqrt(math.max(s2 / n - (s / n) * (s / n), 0.0)) / l))
    } else Nil
    (AnomalyState(windows), out)
  }

  /** Wire the anomaly machine. `seq` orders observations within a key
    * (callers derive it from the update's poll id / offset).
    */
  def anomalyStats(obs: Dataset[AnomalyObs], windowLen: Int = 5): Dataset[AnomalyStats] = {
    import obs.sparkSession.implicits._
    StateMachines.runMachine(obs, (o: AnomalyObs) => (o.src, o.dst_port),
      (_: AnomalyObs).seq, AnomalyState(Map.empty))(anomalyStep(windowLen))
  }
}
