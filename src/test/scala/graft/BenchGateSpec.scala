package graft

import org.scalatest.funsuite.AnyFunSuite

/** The recall-floor gate (round-11 verdict #4): a silent recall regression
  * must surface in the artifact's `recall_violations` array instead of
  * just stamping a smaller number. Pure-function tests — no Spark.
  */
class BenchGateSpec extends AnyFunSuite {

  test("a recall regression under its floor surfaces as a violation") {
    // the deliberately-broken case: s16's gated 1.0 silently became 0.6
    val broken = Seq("sf10_s16_recall" -> 0.6, "s3_recall" -> 0.95)
    val v = Bench.recallViolations(broken)
    assert(v.size == 1 && v.head.startsWith("sf10_s16_recall=0.6000<"),
      s"violation must name the row, the reading and the floor: $v")
  }

  test("a crashed recall measurement (-1 sentinel) is a violation, not a pass") {
    val v = Bench.recallViolations(Seq("s7_recall" -> -1.0))
    assert(v.exists(_.startsWith("s7_recall=")))
  }

  test("clean ladder and disabled tiers produce no violations") {
    // every gated row at/above its floor; the sf10 rows ABSENT (tier off)
    val clean = Seq("s3_recall" -> 0.95, "s7_recall" -> 1.0,
      "s11_recall" -> 1.0, "s3c_recall" -> 1.0, "s4c_recall" -> 1.0,
      "ann_auto_recall_uniform" -> 0.95, "ann_auto_recall_clustered" -> 1.0)
    assert(Bench.recallViolations(clean).isEmpty)
    // equality gates tolerate FP formatting of a true 1.0
    assert(Bench.recallViolations(Seq("s4c_recall" -> 0.9999999999)).isEmpty)
  }

  test("the documented resolution trades stay ungated") {
    // s4 on the structureless corpus (honest ceiling 0.6) and the raw
    // quantized rows (the refine tier's reason to exist) must not gate
    val trades = Seq("s4_recall" -> 0.6, "sf10_s14_recall" -> 0.7,
      "sf10_s15_recall" -> 0.03)
    assert(Bench.recallViolations(trades).isEmpty)
  }

  // ---- sustained-leg ambient gate + auto-rerun (round-13 verdict #1):
  // BENCH_r12's detect_poll rows were inflated 2.25x/3.8x by a 1.48-core
  // ambient that sailed under the 4.0-core suite gate with `contended`
  // empty. The policy is driven here with synthetic ambient readings.

  private def leg(amb: Double, mean: Double) =
    Seq("x_mean" -> mean, "x_max" -> mean * 2, "x_ambient" -> amb)

  test("a clean sustained run is kept as-is: no rerun, no flag") {
    var runs = 0
    val (rows, reran, dirty) = Bench.rerunOnceIfContaminated(
      Bench.SustainedAmbientGate, "x_ambient",
      () => { runs += 1; leg(amb = 0.1, mean = 0.9) })
    assert(runs == 1 && !reran && !dirty)
    assert(rows.toMap.apply("x_mean") == 0.9)
  }

  test("the r12 contamination shape (1.48 ambient cores) triggers exactly one rerun") {
    // 1.48 cores sailed under the old 4.0-core gate; the sustained gate
    // must catch it, rerun once, and keep the clean second reading
    assert(1.48 > Bench.SustainedAmbientGate && 1.48 < 4.0)
    var runs = 0
    var rerunSeen = -1.0
    val readings = Seq(leg(amb = 1.48, mean = 1.78), leg(amb = 0.0, mean = 0.88))
    val (rows, reran, dirty) = Bench.rerunOnceIfContaminated(
      Bench.SustainedAmbientGate, "x_ambient",
      () => { val r = readings(runs); runs += 1; r },
      onRerun = rerunSeen = _)
    assert(runs == 2 && reran && !dirty)
    assert(rerunSeen == 1.48, "the rerun hook must see the dirty reading")
    assert(rows.toMap.apply("x_mean") == 0.88, "the SECOND (clean) run is what gets stamped")
  }

  test("a box contended across both passes keeps the flag (never a third run)") {
    var runs = 0
    val (rows, reran, dirty) = Bench.rerunOnceIfContaminated(
      Bench.SustainedAmbientGate, "x_ambient",
      () => { runs += 1; leg(amb = 2.0, mean = 3.0) })
    assert(runs == 2 && reran && dirty,
      "still-contaminated after one rerun must surface as contended")
    assert(rows.toMap.apply("x_ambient") == 2.0)
  }

  test("the sustained gate is an order tighter than the suite-wide cores/8 gate") {
    // 32-core host → suite gate 4.0; a ~0.5-core ambient must gate here
    assert(Bench.SustainedAmbientGate <= 0.5 + 1e-9)
    assert(Bench.SustainedAmbientGate > 0.0)
  }

  // ---- the compact last line (the driver keeps a 2,000-char stdout tail)

  test("compact line: elided counts only the timing rows that did not fit") {
    val timing = (1 to 200).map(i => f"q$i%03d_row" -> (1000.0 - i))
    val nonTiming = Seq("s3_recall" -> 0.95, "t7_bpe_64_batched_rounds" -> 60.0,
      "sf1_loadavg" -> 1.2, "x_reran" -> 0.0)
    val line = Bench.compactLine(12.3456, timing ++ nonTiming, 0, "sf")
    val kept = "\"(q\\d{3}_row)\":".r.findAllMatchIn(line).map(_.group(1)).toSeq
    assert(line.length <= 1750 + 64, s"${line.length} chars")
    assert(kept.nonEmpty && kept.size < timing.size)
    // the slowest rows are the ones kept, in descending order
    assert(kept == timing.take(kept.size).map(_._1))
    // the old count (results.size - taken) added the 4 non-timing rows
    assert(line.contains(s"\"elided\":${timing.size - kept.size},"), line.takeRight(80))
    assert(nonTiming.forall { case (k, _) => !line.contains(k) })
  }

  test("compact line: non-timing patterns match key suffixes, not words inside timing keys") {
    val timing = Seq("s16_ivf_pq_reranked" -> 4.27, "sf10_s16_rerank_query" -> 3.5,
      "t6_bpe_merges" -> 0.1)
    val nonTiming = Seq("detect_poll_reran" -> 9.0, "s4_recall" -> 8.0,
      "ann_auto_recall_uniform" -> 7.0, "t7_bpe_512_epoch_merges" -> 90.0)
    val line = Bench.compactLine(20.0, timing ++ nonTiming, 0, "sf")
    timing.foreach { case (k, _) => assert(line.contains(s"\"$k\":"), s"$k dropped: $line") }
    nonTiming.foreach { case (k, _) => assert(!line.contains(k), s"$k kept: $line") }
    assert(line.contains("\"elided\":0,"), line)
  }

  test("compact line: everything fits, so nothing is elided (non-timing rows are not)") {
    val line = Bench.compactLine(3.0, Seq("a" -> 2.0, "b" -> 1.0, "s4_recall" -> 0.6),
      errorsN = 2, sfDir = "/d")
    assert(line == """{"metric":"total","value":3.000,"unit":"sec","queries":""" +
      """{"a":2.000,"b":1.000},"elided":0,"errors_n":2,"full":"bench_out.json","sf":"/d"}""")
  }
}
