package graft.text

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval for training-data curation: BM25 top-k over an
  * inverted-posting representation, reciprocal-rank fusion with a vector
  * ranking, and a persisted term-bucketed postings index — the lexical twin
  * of the IVF vector index in [[graft.sim.Similarity]].
  *
  * Why it belongs in this engine: contamination retrieval ("which corpus
  * documents look like this benchmark item"), more-like-this curation, and
  * hybrid lexical+semantic dedup candidate generation are all retrieval
  * problems; BM25 is the standard lexical scorer and RRF the standard
  * zero-tuning fusion of a lexical and a vector ranking.
  *
  * Cross-engine exactness (the oracle contract): the whole scorer avoids
  * transcendentals and order-dependent float sums.
  *  - idf uses the RATIONAL odds-ratio form (N - df + 1/2)/(df + 1/2)
  *    rather than its log — the log is a per-term monotone reshaping whose
  *    libm rounding differs across engines, while the odds ratio is exact
  *    integer arithmetic; the trade (rare terms weigh relatively more in
  *    multi-term sums than under log-idf) is documented, deterministic,
  *    and identical in both engines.
  *  - with k1 = 6/5 and b = 3/4, each per-term score multiplies out to a
  *    ratio of two EXACT int64 products (see [[bm25TermE9]]); the only
  *    float ops are one correctly-rounded division, one multiply by 1e9,
  *    and an exact floor — bit-identical in Spark and DuckDB.
  *  - per-term scores are fixed-point longs (1e-9 units), so the per-doc
  *    SUM is exact integer addition: order-free, engine-free.
  * Domain bound: the int64 products stay double-exact (< 2^53) while
  * S·tf·N < ~4e14 (S = corpus token count, N = doc count) — far past the
  * sf0.1 oracle tier; beyond that they stay correct int64 (< 9.2e18 up to
  * ~corpus 1e8 tokens × tf 100 × 1e6 docs) with sub-ulp score rounding
  * that no longer needs to match an oracle.
  *
  * Scale shape (100 TB): the postings build is the classic inverted-index
  * construction — one map-side tokenize + explode, one (doc, term)
  * aggregate with map-side partial combine, one term aggregate for df.
  * The query side touches ONLY postings of query terms: in memory via a
  * broadcast semi-join on the (tiny) query-term set; persisted via
  * [[buildPostingsIndex]]'s hash-bucketed layout, where the scan is
  * constructed over exactly the query terms' bucket directories — listing
  * and reading O(query-term buckets), not O(vocabulary), same contract as
  * the IVF index's probed-cell reads.
  */
object Lexical {

  /** Letter-run tokenizer: lowercase, split on non-letter runs, drop the
    * empty edge tokens. DuckDB twin:
    * `list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '')`
    * — `[^a-z]+` behaves identically under Java regex and RE2.
    */
  def letterTokens(text: Column): Column =
    filter(split(lower(text), "[^a-z]+"), t => t =!= lit(""))

  /** (doc_id, term, tf) term frequencies — the corpus scan + tokenize +
    * ONE (doc, term) aggregate every other relation derives from. Keep
    * derivations structurally identical over this (same function call):
    * AQE's exchange reuse then materializes the corpus-scan stage ONCE
    * per query however many relations reference it (verified in the h1
    * final plan — see PLANS.md).
    */
  def termFreqs(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(letterTokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** (id, term, tf, dl) posting rows from raw documents: term frequency
    * per (doc, term) plus the document's token length on every row (dl is
    * carried ON the posting so the scorer never joins a doc-length table —
    * at index scale that join would re-shuffle the postings by doc). dl
    * arrives by a doc-partitioned window sum over the tf aggregate — one
    * exchange, no self-join.
    */
  def postings(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    withDocLen(termFreqs(docs, idCol, textCol))

  private def withDocLen(tf: DataFrame): DataFrame =
    tf.withColumn("dl",
      sum(col("tf")).over(Window.partitionBy(col("doc_id"))))

  /** (term, df) document frequencies from [[termFreqs]]/[[postings]] rows.
    * A standalone corpus statistic (profiling, idf tables); the SCORER
    * does not use it — it derives df in place from the query terms'
    * posting rows (see [[bm25TopKFrom]]), because a separate df lineage
    * costs a second corpus scan that Catalyst's aggregate fusion keeps
    * making structurally un-reusable.
    */
  def termDf(post: DataFrame): DataFrame =
    post.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** One-row (n_docs, s_len) corpus totals from [[postings]] output. */
  def totals(post: DataFrame): DataFrame =
    post.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("s_len"))

  /** [[totals]] computed directly from [[termFreqs]] rows — same one-row
    * result, but its plan shares the tf subtree with the other
    * derivations (exchange reuse), where [[totals]] over [[postings]]
    * would drag the window in.
    */
  private def totalsFromTf(tf: DataFrame): DataFrame =
    tf.agg(count_distinct(col("doc_id")).as("n_docs"),
      sum(col("tf")).as("s_len"))

  /** Per-term BM25 partial score in 1e-9 fixed point, as exact integer
    * arithmetic + one correctly-rounded division. With k1 = 6/5, b = 3/4,
    * avgdl = S/D and idf = (2N - 2df + 1)/(2df + 1), the textbook term
    *   idf · tf(k1+1) / (tf + k1(1-b) + k1·b·dl/avgdl)
    * multiplies through by 10·S into
    *   num = 22·S·tf·(2N - 2df + 1)
    *   den = (10·S·tf + 3·S + 9·dl·D) · (2df + 1)
    * — both exact int64 — and the fixed-point score is
    * floor((num/den) · 1e9).
    */
  def bm25TermE9(tf: Column, df: Column, dl: Column,
                 nDocs: Column, sLen: Column): Column = {
    val num = lit(22L) * sLen * tf * (lit(2L) * nDocs - lit(2L) * df + lit(1L))
    val den = (lit(10L) * sLen * tf + lit(3L) * sLen + lit(9L) * dl * nDocs) *
      (lit(2L) * df + lit(1L))
    floor(num.cast("double") / den.cast("double") * lit(1e9)).cast("long")
  }

  /** BM25 top-k documents per query string. `queries` is (q_id, qtext);
    * query terms are DISTINCT (query-side tf is ignored — the standard
    * short-query simplification, documented as the scorer's contract).
    * Output: (q_id, doc_id, score_e9, rank), rank dense per query by
    * (score desc, doc_id asc); only documents sharing at least one query
    * term appear. `excludeSelf` drops doc_id = q_id matches for
    * more-like-this calls where the query IS a corpus document.
    *
    * Plan: the query-term set is tiny → broadcast inner join prunes the
    * postings to query-term rows before anything wide happens; df joins
    * the same broadcast-pruned term set; totals is a one-row broadcast
    * (BroadcastNestedLoopJoin by construction — same documented shape as
    * the centroid sweeps).
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               idCol: String = "doc_id", textCol: String = "text",
               excludeSelf: Boolean = false): DataFrame = {
    val tf = termFreqs(docs, idCol, textCol)
    bm25TopKFrom(withDocLen(tf), totalsFromTf(tf), queries, k, excludeSelf)
  }

  /** Scorer over prepared posting/totals relations — shared by the
    * in-memory path above and the persisted-index path
    * ([[bm25TopKIndexed]]), so both execute the identical scoring plan.
    *
    * df is derived IN PLACE: a term's document frequency equals its
    * posting-row count, and the query-term join keeps every posting row
    * of each (q_id, term), so a window count over (q_id, term) IS df —
    * no separate df relation, which would cost a second corpus scan (a
    * standalone df lineage's aggregate keeps getting fused by Catalyst
    * into a shape AQE exchange reuse cannot match; deriving df from rows
    * the scorer already reads makes the question moot). With this, h1's
    * whole plan materializes the corpus scan ONCE: the postings and
    * totals lineages share the (doc, term) aggregate's exchange
    * verbatim and AQE reuses it (asserted in RetrievalSpec).
    */
  private[graft] def bm25TopKFrom(post: DataFrame,
                                  tot: DataFrame, queries: DataFrame, k: Int,
                                  excludeSelf: Boolean): DataFrame = {
    val qt = queries
      .select(col("q_id"), explode(letterTokens(col("qtext"))).as("term"))
      .distinct()
    val scoredTerms = post
      .join(broadcast(qt), "term")
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("q_id"), col("term"))))
      .crossJoin(broadcast(tot))
      .withColumn("e9", bm25TermE9(col("tf"), col("df"), col("dl"),
        col("n_docs"), col("s_len")))
    val perDoc0 = scoredTerms.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("e9")).as("score_e9"))
    val perDoc = if (excludeSelf) perDoc0.filter(col("doc_id") =!= col("q_id"))
                 else perDoc0
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score_e9").desc, col("doc_id").asc)
    perDoc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("doc_id"), col("score_e9"), col("rank"))
  }

  /** Reciprocal-rank fusion of two rankings (q_id, doc_id, rank):
    * fused = floor(1e9/(60 + rank_a)) + floor(1e9/(60 + rank_b)), with a
    * missing entry contributing 0 (60 is the constant of Cormack et al.
    * 2009) — all-integer, so the fusion is exact in any engine.
    * Output (q_id, doc_id, rrf_e9, rank), top-k per query,
    * ties by doc_id. The floor(1e9/x) form is safe: for x ≤ ~1e6 the true
    * quotient is ≥ 1/x away from any integer it doesn't equal, far outside
    * double rounding range.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    def contrib(r: Column): Column =
      when(r.isNull, lit(0L))
        .otherwise(floor(lit(1e9) / (lit(60.0d) + r.cast("double"))).cast("long"))
    val fused = a.select(col("q_id"), col("doc_id"), col("rank").as("rank_a"))
      .join(b.select(col("q_id"), col("doc_id"), col("rank").as("rank_b")),
        Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_e9", contrib(col("rank_a")) + contrib(col("rank_b")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf_e9").desc, col("doc_id").asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("doc_id"), col("rrf_e9"), col("rank"))
  }

  // ---- persisted postings index ---------------------------------------

  /** Bucket count for [[buildPostingsIndex]]: enough directories that a
    * few query terms prune hard, few enough that the layout stays
    * object-store friendly (one LIST per queried bucket).
    */
  val DefaultTermBuckets = 64

  /** Persist the inverted index: posting rows (term, doc_id, tf, dl)
    * hash-partitioned by `tb = pmod(xxhash64(term), nBuckets)` so a query
    * reads ONLY its terms' bucket directories; 1-row `totals/` beside
    * them as ADDITIVE epochs. Layout:
    *
    *   path/post/tb=<bucket>/...parquet
    *   path/totals/epoch=<k>/...parquet
    *
    * Corpus totals are pure sums, so an APPEND never rewrites them — it
    * adds an epoch and readers sum across epochs (1-row relations, the
    * aggregate is free). Per-term df needs no sidecar at all: the query
    * reads every posting row of its terms anyway, and df IS the
    * term's posting-row count (see [[bm25TopKFrom]]). The write
    * repartitions by bucket first so file count is O(buckets),
    * independent of write parallelism (the IVF assignIntoIndex lesson).
    * Build at an existing path starts clean (full overwrite — the IVF
    * rebuild lesson: stale sidecars must not survive a rebuild).
    */
  def buildPostingsIndex(docs: DataFrame, path: String,
                         nBuckets: Int = DefaultTermBuckets,
                         idCol: String = "doc_id",
                         textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    writeEpoch(docs, path, nBuckets, epoch = 0L, idCol, textCol)
  }

  /** Append whole documents to a [[buildPostingsIndex]] layout: posting
    * rows land in their term-bucket directories beside the existing
    * files, df/totals gain one additive epoch each. The unit of append
    * is the DOCUMENT (a doc must not span batches — its dl is computed
    * within the batch, the same whole-row contract as the IVF append).
    *
    * Maintenance contract (deliberately simpler than the IVF index's
    * generation machinery): the postings build is ONE tokenize +
    * aggregate pass — no quantizer training — so the compaction story
    * for small-file growth and the delete story for dropped documents
    * are both "rebuild", which costs the same single shuffle the
    * original build did. An append-heavy deployment rebuilds on the
    * same cadence it would compact.
    */
  def appendToPostingsIndex(docs: DataFrame, path: String,
                            nBuckets: Int = DefaultTermBuckets,
                            idCol: String = "doc_id",
                            textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totDir = new org.apache.hadoop.fs.Path(s"$path/totals")
    require(fs.exists(totDir), s"no postings index at $path — build first")
    val next = fs.listStatus(totDir).map(_.getPath.getName)
      .filter(_.startsWith("epoch=")).map(_.stripPrefix("epoch=").toLong)
      .foldLeft(-1L)(math.max) + 1L
    writeEpoch(docs, path, nBuckets, next, idCol, textCol)
  }

  /** One epoch's two writes off ONE corpus scan: the tf aggregate is
    * persisted (memory-and-disk — the bounded (doc, term, tf) relation,
    * never the corpus), the bucketed postings write materializes it into
    * cache, and the totals write aggregates the cached rows. Round 13:
    * the previous shape passed the POSTINGS plan to both writes — two
    * separate actions, so AQE's exchange reuse (an intra-query courtesy)
    * never applied and the corpus was scanned + tokenized twice per
    * build/append. totals come from [[totalsFromTf]] (identical one-row
    * result, no window in its lineage).
    */
  private def writeEpoch(docs: DataFrame, path: String, nBuckets: Int,
                         epoch: Long, idCol: String, textCol: String): Unit = {
    val tf = termFreqs(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bucketed = withDocLen(tf)
        .withColumn("tb", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      bucketed
        // pinned count (round 13): REPARTITION_BY_COL lets AQE coalesce
        // the bucketed write to one task, serializing every bucket's
        // parquet writer open/close (the assignIntoIndex measurement);
        // hashing by tb keeps file count O(buckets) at any width
        .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
          col("tb"))
        .write.mode(SaveMode.Append).partitionBy("tb")
        .parquet(s"$path/post")
      totalsFromTf(tf).coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$path/totals/epoch=$epoch")
    } finally { tf.unpersist(false); () }
  }

  /** BM25 top-k against a [[buildPostingsIndex]] layout. The scan is
    * constructed over exactly the query terms' `tb=<bucket>` directories
    * (buckets derived driver-side from the literal query strings — no
    * job over the corpus), so posting LISTING and reading are
    * O(query-term buckets); df is derived from those same rows (a
    * bucket holds EVERY posting of its terms across all append epochs,
    * so the window count is the global df). Answers are row-identical
    * to [[bm25TopK]] on the indexed corpus by construction (shared
    * [[bm25TopKFrom]] scorer).
    */
  def bm25TopKIndexed(spark: SparkSession, path: String,
                      queries: Seq[(String, String)], k: Int,
                      nBuckets: Int = DefaultTermBuckets): DataFrame = {
    import spark.implicits._
    val qdf = queries.toDF("q_id", "qtext")
    // same tokenizer, applied driver-side to the literal query strings:
    // buckets must match the stored pmod(xxhash64) exactly, so reuse the
    // engine's own hash through a 1-row-per-term local frame
    val qTerms = queries.flatMap(_._2.toLowerCase.split("[^a-z]+"))
      .filter(_.nonEmpty).distinct
    val buckets =
      if (qTerms.isEmpty) Array.empty[Long]
      else qTerms.toSeq.toDF("term")
        .select(pmod(xxhash64(col("term")), lit(nBuckets.toLong)).as("tb"))
        .distinct().collect().map(_.getLong(0)).sorted
    val postRoot = s"$path/post"
    val fs = new org.apache.hadoop.fs.Path(postRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = buckets.map(b => s"$postRoot/tb=$b")
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    val empty = {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score_e9").desc, col("doc_id").asc)
      qdf.select(col("q_id"), lit(0L).as("doc_id"), lit(0L).as("score_e9"))
        .limit(0)
        .withColumn("rank", row_number().over(w).cast("long"))
    }
    if (dirs.isEmpty) return empty
    val post = spark.read.option("basePath", postRoot).parquet(dirs: _*).drop("tb")
    // totals are additive epochs (see buildPostingsIndex): readers sum
    // across them — 1-row relations, the aggregate is free
    val tot = spark.read.parquet(s"$path/totals")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("s_len")).as("s_len"))
    bm25TopKFrom(post, tot, qdf, k, excludeSelf = false)
  }
}
