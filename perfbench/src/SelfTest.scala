package perfbench

/** Checks of the benchmark's own arithmetic: quantiles, the sample-count
  * rule for tails, run halves, and span self time. Runs at the start of
  * every benchmark run and alone with `--selftest`; throws on the first
  * wrong answer.
  */
object SelfTest {
  private def eq(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new AssertionError(s"selftest $what: got $got, want $want")

  private def near(what: String, got: Double, want: Double): Unit =
    if (math.abs(got - want) > 1e-9) throw new AssertionError(s"selftest $what: got $got, want $want")

  def run(): Unit = {
    // quantiles interpolate between order statistics, whatever the input order
    near("median of odd", Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
    near("median of even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    near("q0", Stats.quantile(Seq(5.0, 7.0), 0.0), 5.0)
    near("q1", Stats.quantile(Seq(5.0, 7.0), 1.0), 7.0)
    near("single sample", Stats.quantile(Seq(9.0), 0.9), 9.0)
    val hundred = (1 to 100).map(_.toDouble)
    near("p90 of 1..100", Stats.quantile(hundred, 0.9), 90.1)
    // a p90 needs 100 samples in the run
    eq("p90 on 99 samples", Stats.p90(hundred.take(99)), None)
    eq("p90 on 100 samples", Stats.p90(hundred).map(v => math.round(v * 10)), Some(901L))
    // halves split in arrival order, not sorted order
    eq("halves", Stats.halves(Seq(10.0, 11.0, 1.0, 2.0)), (10.5, 1.5))
    eq("halves of odd", Stats.halves(Seq(1.0, 5.0, 6.0)), (1.0, 5.5))

    // self time: a parent of 10 with children [2,5) and [4,8) covers 6 once
    val spans = Seq(
      Span(1, -1, 0, "op", 0, 10),
      Span(2, 1, 0, "a", 2, 5),
      Span(3, 1, 0, "b", 4, 8),
      Span(4, 2, 0, "a.inner", 3, 4),
      Span(5, 1, 0, "outside", 9, 12)) // clipped to the parent's end
    val self = Spans.selfNs(spans)
    eq("self of parent", self(1), 10L - 6L - 1L)
    eq("self of child", self(2), 3L - 1L)
    eq("self of leaf", self(4), 1L)
    eq("by name", Spans.byName(spans).find(_._1 == "a").map(_._2), Some(1))

    // the tracer nests spans by thread and hangs them under the operation
    val t = new Tracer
    t.enabled = true
    t.operation("op", 7L) { t.span("x") { t.span("y")(()) } }
    val got = t.all.map(s => s.name -> s.op).toMap
    eq("tracer ops", got, Map("op" -> 7L, "x" -> 7L, "y" -> 7L))
    val byName = t.all.map(s => s.name -> s).toMap
    eq("tracer parent", byName("y").parent, byName("x").id)
    eq("tracer root", byName("x").parent, byName("op").id)
    val off = new Tracer
    eq("disabled tracer records nothing", { off.span("z")(1); off.all.size }, 0)
  }
}
