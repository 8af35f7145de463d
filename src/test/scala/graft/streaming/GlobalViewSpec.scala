package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.dipa.Codec
import graft.model.TimingRecord
import graft.streaming.GlobalView._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

/** §3.4 global-view merge: the all-N timing barrier and cross-domain
  * anomaly statistics, pure-step and streaming.
  */
class GlobalViewSpec extends SparkSpec {

  import spark.implicits._

  test("A6 barrier: emits only when every domain reported, then resets") {
    var st = TimingState(Map.empty)
    val obs = Seq(
      TimingObs("vm0", 0, 1.0, 2.0),  // partial
      TimingObs("vm1", 1, 2.0, 2.0),  // partial
      TimingObs("vm2", 2, 3.0, 4.0),  // third domain -> barrier fires
      TimingObs("vm0", 3, 9.0, 1.0))  // new cycle starts
    val out = obs.flatMap { o =>
      val (s2, emitted) = timingStep(3)(st, o); st = s2; emitted
    }
    assert(out.size == 1)
    val s = out.head
    assert(s.n_domains == 3 && s.min_total == 3.0 && s.max_total == 7.0)
    assert(math.abs(s.mean_total - (3.0 + 4.0 + 7.0) / 3) < 1e-12)
    assert(st.domains.keySet == Set("vm0")) // matrix reset after emission
  }

  test("A6 barrier: re-reporting before the barrier overwrites, not duplicates") {
    var st = TimingState(Map.empty)
    Seq(TimingObs("vm0", 0, 1.0, 1.0), TimingObs("vm0", 1, 5.0, 5.0))
      .foreach { o => st = timingStep(2)(st, o)._1 }
    assert(st.domains == Map("vm0" -> ((5.0, 5.0))))
  }

  test("O10 adapter: decode wire timing records and derive latency") {
    val wire = Seq("3.25@2026-01-01 00:00:01.500000").toDF("value")
    val decoded = Codec.decodeTiming(wire)
      .select(col("control_plane_s"), col("wall_ts")).collect().head
    assert(decoded.getDouble(0) == 3.25)
    val rec = TimingRecord("vm0", decoded.getDouble(0), decoded.getTimestamp(1))
    val obs = toTimingObs(Seq(rec).toDS(),
      receivedAtMs = decoded.getTimestamp(1).getTime + 2500).collect().head
    assert(obs.detect_s == 3.25 && math.abs(obs.latency_s - 2.5) < 1e-9)
  }

  test("A7 anomaly: collaborative mode needs >= 2 domains; deque(5) bounds history") {
    var st = AnomalyState(Map.empty)
    val only = anomalyStep()(st, AnomalyObs("vm0", "10.0.0.9", 23, 0, 10.0))
    assert(only._2.isEmpty) // single domain: "collaborative mode not in use"
    st = only._1
    val (st2, out) = anomalyStep()(st, AnomalyObs("vm1", "10.0.0.9", 23, 1, 20.0))
    assert(out.size == 1 && out.head.n_domains == 2)
    assert(out.head.mean_rate == 15.0 && out.head.std_rate == 5.0)
    // 7 more vm0 rates: only the last 5 (all 30.0) survive the deque
    var s = st2
    (2 to 8).foreach { i => s = anomalyStep()(s, AnomalyObs("vm0", "10.0.0.9", 23, i.toLong, 30.0))._1 }
    assert(s.windows("vm0") == Seq(30.0, 30.0, 30.0, 30.0, 30.0))
  }

  test("streaming A7: anomalyStats over micro-batches equals the batch a7_anomaly_stats query") {
    // events-shaped rows: user_id is the domain, event_type the (src) key;
    // pairs share a ts so event_id breaks the tie, values are in cents as
    // in the events table, and one type is seen by a single user (never
    // emitted)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 90).map { i =>
      val (user, typ) =
        if (i % 10 == 9) (9L, "solo") else (rnd.nextInt(4).toLong, s"t${rnd.nextInt(3)}")
      (new Timestamp(1700000000000L + (i / 2) * 1000L), 1000L - i, user, typ,
        rnd.nextInt(100000) / 100.0)
    }
    val dir = java.nio.file.Files.createTempDirectory("a7events").toString
    rows.toDF("ts", "event_id", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val batch = graft.queries.EventAnalytics.a7AnomalyStats(spark, dir).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_users"),
        r.getAs[Double]("mean_rate"), r.getAs[Double]("std_rate"))).toSet
    // the stream sees the rows in (ts, event_id) order, as the query ranks them
    val obs = rows.sortBy(r => (r._1.getTime, r._2)).zipWithIndex.map {
      case ((_, _, user, typ, value), seq) => AnomalyObs(user.toString, typ, 0, seq, value)
    }
    val in = MemoryStream[AnomalyObs](spark)
    val q = anomalyStats(in.toDS()).writeStream
      .format("memory").queryName("gv_a7").outputMode(OutputMode.Update()).start()
    try {
      obs.grouped(30).foreach { part =>
        in.addData(part: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    val last = spark.table("gv_a7").as[AnomalyStats].collect()
      .groupBy(_.src).values.map(_.maxBy(_.seq))
      .map(s => (s.src, s.n_domains.toLong, s.mean_rate, s.std_rate)).toSet
    assert(batch.size == 3 && !batch.exists(_._1 == "solo"), batch)
    assert(last == batch)
  }

  test("streaming: barrier fires across micro-batches") {
    val in = MemoryStream[TimingObs](spark)
    val q = timingMerge(in.toDS(), nDomains = 2).writeStream
      .format("memory").queryName("gv_out").outputMode(OutputMode.Update()).start()
    try {
      in.addData(TimingObs("vm0", 0, 1.0, 1.0))
      q.processAllAvailable()
      assert(spark.table("gv_out").count() == 0) // barrier not met
      in.addData(TimingObs("vm1", 1, 2.0, 2.0))
      q.processAllAvailable()
      val s = spark.table("gv_out").as[TimingStats].collect()
      assert(s.length == 1 && s.head.min_total == 2.0 && s.head.max_total == 4.0)
    } finally q.stop()
  }
}
