package perfbench

import scala.collection.mutable.ArrayBuffer

/** Order statistics over one run's latency samples. */
object Stats {

  /** A p90 needs at least this many samples in one run: below it the
    * figure rests on a handful of points and is not reported.
    */
  val MinTailSamples = 100

  /** Linear-interpolation quantile (the "inclusive" definition: q = 0 is
    * the minimum, q = 1 the maximum). Throws on an empty sample.
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The median, or NaN for an empty sample (never a valid metric value). */
  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else median(xs)

  /** The p90, or None when the run gave fewer than [[MinTailSamples]]. */
  def p90(xs: Seq[Double]): Option[Double] =
    if (xs.size >= MinTailSamples) Some(quantile(xs, 0.9)) else None

  /** Medians of the first and second half of a sample in arrival order —
    * a drifting run (state still growing, a cache still filling, a
    * neighbour starting up) shows as two halves that disagree.
    */
  def halves(xs: Seq[Double]): (Double, Double) = {
    require(xs.size >= 2, "halves need at least two samples")
    val (a, b) = xs.splitAt(xs.size / 2)
    (median(a), median(b))
  }
}

/** Named latency samples and operation counts of one timed section. */
final class Recorder {
  val samples = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  var attempted = 0L
  var failed = 0L
  /** Time spent generating inputs inside the window but outside any clock. */
  var genNs = 0L
  /** Time spent checking outputs inside the window but outside any clock. */
  var checkNs = 0L
  val failures = ArrayBuffer[String]()
  /** Work counts of the window: items processed, answers checked. */
  val counts = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)

  def count(name: String, v: Double): Unit = counts(name) += v

  def add(name: String, seconds: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer[Double]()) += seconds

  def get(name: String): Seq[Double] = samples.getOrElse(name, ArrayBuffer[Double]()).toSeq

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 10) failures += msg
  }

  /** Run `body` as generator work: its time is reported, never sampled. */
  def gen[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally genNs += System.nanoTime() - t0
  }

  /** Run `body` as output checking: its time is reported, never sampled. */
  def check[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally checkNs += System.nanoTime() - t0
  }
}
