package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins — as-of and interval/range — as shuffle-friendly
  * rewrites of shapes Spark would otherwise plan as a broadcast
  * nested-loop (or worse, a cartesian) because the join condition is an
  * inequality.
  *
  * Both operators matter for the training-data pipeline this engine
  * targets: as-of joins attach the latest-known context (model version,
  * user state, market quote) to each observation, and interval joins
  * assign events to time windows (incidents, campaigns, capture
  * sessions). At 100 TB neither side broadcasts, so the naive
  * `ts BETWEEN …` join — a BNLJ over every (probe, ref) pair — is the
  * canonical scale cliff. Each rewrite here is pure equi-join/window
  * machinery: one hash shuffle per input, no non-equi join node anywhere
  * (TemporalSpec asserts the plans).
  */
object Temporal {

  /** As-of join: for every `probe` row, the payload of the `ref` row with
    * the greatest `tsCol` at-or-before (`strict = false`, the DuckDB
    * `ASOF JOIN` rule) or strictly-before (`strict = true`) the probe's
    * `tsCol`, within the same `keys`; nulls when no such row.
    *
    * Implementation: NO join at all. Both inputs are tagged and unioned,
    * hash-shuffled once on `keys`, sorted once on (`tsCol`, side), and the
    * payload is carried forward with `last(_, ignoreNulls)` — so a probe
    * row sees exactly the most recent ref payload in event-time order.
    * Cost is one exchange + one in-partition sort regardless of how many
    * ref rows precede each probe row; the window never re-scans.
    *
    * Semantics match the naive equi-join exactly, including nulls: ref
    * rows with a null key or null ts can never match (SQL equality /
    * `>=` never holds) and are filtered out, and probe rows with null
    * keys come through with null payload. The payload travels as ONE
    * struct, so a probe always receives the columns of a single ref row
    * — never a column-wise mix of different refs, even when payload
    * cells are null.
    *
    * Checked requirements: `ref` has at least one payload column (its
    * non-key non-ts columns) and none collides with a probe column name.
    * Caller requirement (NOT checked): `ref` unique per (`keys`,
    * `tsCol`) — pre-aggregate it otherwise, or the winner among
    * equal-ts ref rows is undefined. To also carry the matched ref
    * timestamp, duplicate it into a payload column before calling.
    *
    * Skew note: a hot key serializes its rows into one task's sort, like
    * any keyed window. If one key dominates, sessionize or sub-range the
    * key upstream; the salting rewrites in [[Skew]] do not apply because
    * the carry-forward is order-dependent across the whole key.
    */
  def asofJoin(probe: DataFrame, ref: DataFrame, keys: Seq[String],
               tsCol: String, strict: Boolean = false): DataFrame = {
    val payload = ref.columns.filterNot(c => keys.contains(c) || c == tsCol).toSeq
    require(payload.nonEmpty, "ref has no payload columns beyond keys + ts")
    val clash = payload.intersect(probe.columns)
    require(clash.isEmpty, s"ref payload collides with probe columns: $clash")
    val reserved = Seq("__pay", "__side").intersect(probe.columns ++ ref.columns)
    require(reserved.isEmpty,
      s"inputs use reserved temp column names: $reserved — rename them first")
    // a null-keyed or null-ts ref can never equi-match: drop it up front
    // (the window would otherwise group null keys together and leak it)
    val matchable = (keys :+ tsCol).map(col(_).isNotNull).reduce(_ && _)
    // the payload travels as one struct so a probe gets a whole ref row
    val packed = ref.filter(matchable)
      .withColumn("__pay", struct(payload.map(col): _*))
      .drop(payload: _*)
    // at equal ts the ref row must sort BEFORE the probe row to be visible
    // (inclusive >=); strict (<) puts it after instead
    val refTag = if (strict) 1 else 0
    val tagged = probe.withColumn("__side", lit(1 - refTag))
      .unionByName(packed.withColumn("__side", lit(refTag)),
        allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = tagged
      .withColumn("__pay", last(col("__pay"), ignoreNulls = true).over(w))
      .filter(col("__side") === (1 - refTag))
    payload.foldLeft(filled)((df, c) => df.withColumn(c, col(s"__pay.$c")))
      .drop("__side", "__pay")
  }

  /** Output-density guard thresholds for the KEYLESS [[rangeJoin]] form:
    * warn when the estimated match count exceeds BOTH an absolute floor
    * (small fixtures never warn) and this factor times the combined
    * input rows (the signature of quadratic OUTPUT, which no plan can
    * make linear). Per-decade evidence behind the guard: the sf10
    * century probe deliberately EXCLUDES the keyless z2 shape because
    * 10× density in the same span multiplies its pairs ~100× — an
    * output property, not a plan property; this encodes that footnote
    * at the API.
    */
  val DenseOutputFactor = 16.0
  val DenseOutputFloorRows: Long = 1L << 20

  /** The keyless-density estimate behind [[rangeJoin]]'s guard, exposed
    * for tests and for callers that want the number without the join:
    * expected matches ≈ points × interval-bin-entries ÷ distinct point
    * bins (uniform-occupancy estimate — exact when density is flat,
    * conservative-low under skew, which still catches the quadratic
    * regime because skew only concentrates pairs further). Returns the
    * diagnosis when the estimate crosses BOTH thresholds, None
    * otherwise (including empty inputs). Costs two small aggregate
    * jobs, one per input.
    */
  def keylessDensityDiagnosis(points: DataFrame, ptTs: String,
                              intervals: DataFrame, startCol: String,
                              endCol: String, binWidth: Long): Option[String] = {
    val pAgg = points
      .select(expr(s"$ptTs div $binWidth").as("__bin"))
      .agg(count(lit(1)), countDistinct(col("__bin"))).head()
    val (p, b) = (pAgg.getLong(0), pAgg.getLong(1))
    val iAgg = intervals.filter(col(endCol) > col(startCol))
      .agg(count(lit(1)),
        sum(expr(s"($endCol - 1) div $binWidth - $startCol div $binWidth + 1")))
      .head()
    val i = iAgg.getLong(0)
    val ie = if (iAgg.isNullAt(1)) 0L else iAgg.getLong(1)
    if (p == 0L || ie == 0L) return None
    val estOut = p.toDouble * ie.toDouble / math.max(b, 1L)
    if (estOut > DenseOutputFloorRows && estOut > DenseOutputFactor * (p + i))
      Some(f"[rangeJoin] keyless range join at quadratic output density: " +
        f"~$estOut%.3g estimated matches from $p points × $i intervals " +
        f"(${ie} interval bin entries over $b point bins) — more than " +
        f"${DenseOutputFactor}%.0f× the input. Every point matches every " +
        "overlapping interval, so OUTPUT (not the plan) is the scale " +
        "cliff here. Partition by a real key (the `keys` variant holds " +
        "per-(key, bin) density constant — see z3 vs z2 in PLANS.md), " +
        "shrink the span per call, or pre-aggregate the interval side.")
    else None
  }

  /** Interval (range) join: every (`interval`, `point`) pair of the same
    * `keys` with `startCol <= ts < endCol`, produced as a plain EQUI-join.
    *
    * Implementation: time is cut into fixed `binWidth` bins. Each interval
    * row is exploded to the bins it overlaps (map-side, no shuffle); each
    * point carries its single bin; the join runs on `keys :+ bin` and the
    * exact range predicate filters the bin-collisions out. Each matching
    * pair appears EXACTLY once — the equi-key is the point's unique bin —
    * so no dedup pass is needed. With `keys = Nil` this is a pure range
    * join (the naive plan for which is a full cartesian BNLJ).
    *
    * `binWidth` is the caller's replication/selectivity knob: an interval
    * spans `len/binWidth + 1` bins (its shuffle replication factor), while
    * a bin that is much wider than the intervals makes the equi-join match
    * mostly non-overlapping pairs that the residual filter then discards.
    * `binWidth ≈` the typical interval length keeps replication ≤ 2× and
    * residual waste bounded. Timestamps must be non-negative integers
    * (any unit; `div` truncation = floor only for non-negatives).
    * Empty or inverted intervals (`endCol <= startCol`) are dropped —
    * they can match no point under the `[start, end)` contract.
    *
    * Keyless density guard: with `keys = Nil` the OUTPUT itself is
    * quadratic in per-bin density (every point × every overlapping
    * interval), which no join strategy can make linear — the reason
    * the century scale tier probes the keyed z3 but not keyless z2.
    * The keyless form therefore estimates its match count first
    * ([[keylessDensityDiagnosis]]) and prints the named diagnosis —
    * pointing at the keyed variant — instead of letting a dense call
    * discover the cliff as an executor OOM three stages later. COST: the
    * guard runs two EAGER aggregate jobs at call time — a keyless
    * `rangeJoin` is not pure plan construction, and on UNCACHED inputs
    * each job recomputes the full upstream lineage (a silent ~2×
    * upstream tax when the inputs are expensive derivations rather than
    * table scans). Cache the inputs first for repeated keyless calls.
    */
  def rangeJoin(points: DataFrame, ptTs: String, intervals: DataFrame,
                startCol: String, endCol: String, binWidth: Long,
                keys: Seq[String] = Nil): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    if (keys.isEmpty)
      keylessDensityDiagnosis(points, ptTs, intervals, startCol, endCol,
        binWidth).foreach(System.err.println)
    val clash = intervals.columns.toSeq.intersect(points.columns.toSeq)
      .filterNot(keys.contains)
    require(clash.isEmpty, s"interval/point column collision: $clash")
    val reserved = Seq("__bin").intersect(points.columns ++ intervals.columns)
    require(reserved.isEmpty,
      s"inputs use reserved temp column names: $reserved — rename them first")
    // integer `div` keeps the bin id exact on full-range longs (a double
    // `/` would round past 2^53); end is exclusive, so the last covered
    // bin is the one holding end-1. Empty/inverted intervals (end <= start)
    // can match nothing under [start, end) — drop them BEFORE the explode:
    // sequence(start, stop) DESCENDS when start > stop, so a badly inverted
    // interval would otherwise blow up into a huge bin array.
    val iv = intervals.filter(col(endCol) > col(startCol)).withColumn("__bin",
      explode(sequence(expr(s"$startCol div $binWidth"),
        expr(s"($endCol - 1) div $binWidth"))))
    val pt = points.withColumn("__bin", expr(s"$ptTs div $binWidth"))
    pt.join(iv, keys :+ "__bin")
      .filter(col(ptTs) >= col(startCol) && col(ptTs) < col(endCol))
      .drop("__bin")
  }

  /** Streaming interval join — the incremental form of [[rangeJoin]] for
    * two unbounded inputs (events × incident windows at ingest time).
    *
    * Uses Spark's stream-stream equi-join with an event-time range
    * condition: because the window length is the PLAN-TIME constant
    * `winLen` (a calendar-interval string, e.g. `"30 minutes"`) and both
    * inputs are watermarked by `delay`, the state manager can prove when
    * a buffered row on either side can never match again and evict it —
    * bounded state at any ingest rate. A dynamic per-row end column
    * cannot give the engine that bound, which is why the streaming form
    * fixes the length (the batch [[rangeJoin]] keeps per-row ends).
    *
    * Both inputs need proper timestamp columns (`ptTs` on `points`,
    * `startCol` on `intervals`); rows later than `delay` behind the
    * watermark are dropped, the documented streaming trade. Inner join;
    * column names must be disjoint apart from `keys`.
    */
  def rangeJoinStream(points: DataFrame, ptTs: String,
                      intervals: DataFrame, startCol: String,
                      winLen: String, delay: String,
                      keys: Seq[String] = Nil): DataFrame = {
    val p = points.withWatermark(ptTs, delay)
    val iv = intervals.withWatermark(startCol, delay)
    val range = p(ptTs) >= iv(startCol) &&
      p(ptTs) < iv(startCol) + expr(s"interval $winLen")
    val cond = keys.map(k => p(k) === iv(k)).foldLeft(range)(_ && _)
    keys.foldLeft(p.join(iv, cond))((df, k) => df.drop(iv(k)))
  }

  /** Streaming as-of ENRICHMENT — the incremental counterpart of
    * [[asofJoin]]: every probe row is emitted with the newest reference
    * row of its key whose timestamp is at-or-before the probe's (None
    * before a key's first ref).
    *
    * Built on [[graft.streaming.StateMachines.runMachine]]: probes and
    * refs are unioned into one keyed stream and each key holds exactly
    * ONE state entry — the latest ref seen — regardless of stream
    * length; an idle timeout evicts keys that go quiet. Within a
    * micro-batch rows are processed in (ts, ref-first) order, so batch
    * boundaries are invisible when data arrives roughly in event-time
    * order. The at-ingest trade, documented: a ref that ARRIVES after a
    * probe of the same key was already processed in an earlier batch
    * does not retro-enrich it (the batch [[asofJoin]] is the
    * retrospective form); a probe older than the held ref gets None
    * rather than a ref from its future.
    */
  def asofStream[K, P, R](probes: Dataset[P], refs: Dataset[R])(
      pKey: P => K, rKey: R => K, pTs: P => Long, rTs: R => Long,
      idleTimeoutMs: Option[Long] = None)(
      implicit kEnc: Encoder[K],
      uEnc: Encoder[(Option[P], Option[R])],
      sEnc: Encoder[Option[R]],
      oEnc: Encoder[(P, Option[R])]): Dataset[(P, Option[R])] = {
    val unioned = probes.map(p => (Option(p), Option.empty[R]))
      .union(refs.map(r => (Option.empty[P], Option(r))))
    def ts(i: (Option[P], Option[R])): Long =
      i._1.map(pTs).getOrElse(rTs(i._2.get))
    graft.streaming.StateMachines
      .runMachine[K, (Option[P], Option[R]), Option[R], (P, Option[R])](
        unioned,
        key = i => i._1.map(pKey).getOrElse(rKey(i._2.get)),
        // ref sorts before probe at equal ts => inclusive (asofJoin's rule)
        order = i => ts(i) * 2 + (if (i._1.isDefined) 1 else 0),
        init = Option.empty[R],
        idleTimeoutMs = idleTimeoutMs) {
        case (held, (None, Some(r))) =>
          (if (held.forall(h => rTs(h) <= rTs(r))) Some(r) else held, Nil)
        case (held, (Some(p), _)) =>
          (held, Seq((p, held.filter(h => rTs(h) <= pTs(p)))))
        case (held, _) => (held, Nil)
      }
  }
}
