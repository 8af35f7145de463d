package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, shingling, quality metrics, language-ID, fingerprinting.
  *
  * Everything is a pure column expression (whole-stage codegen, no UDFs) and
  * every arithmetic path is engine-portable: integer counts, sequential
  * folds, and double divisions that produce bit-identical results in Spark
  * and DuckDB — which is what lets each downstream query be oracle-checked.
  */
object Text {

  /** Whitespace tokenizer. `split` on `\s+` after trim — identical to
    * DuckDB `string_split_regex(trim(text), '\s+')`.
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** GPT-style pre-tokenization regex (the public GPT-2 pattern shape:
    * contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs, residual whitespace), restricted to ASCII classes
    * so Java regex and RE2 (DuckDB) split identically — non-Latin runs
    * fall into the symbol class as whole tokens. Subword token COUNTS
    * from this are the cheap proxy for LLM token budgeting before a real
    * BPE vocabulary is involved.
    */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  /** Subword tokens under the BPE-ish pre-tokenizer (whole-match runs). */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  /** A small merges table in learned rank order (classic BPE: most
    * frequent English pairs first; every merge's parts are constructible
    * from earlier merges). The ENCODER below is the real algorithm for
    * any such table — swap in a learned vocabulary's merges file to get
    * its token counts; this built-in list exists so the operator is
    * exercisable without shipping a vocabulary.
    */
  val Merges: Seq[(String, String)] = Seq(
    "t" -> "h", "i" -> "n", "a" -> "n", "e" -> "r", "o" -> "n", "r" -> "e",
    "a" -> "t", "e" -> "n", "o" -> "r", "th" -> "e", "an" -> "d",
    "in" -> "g", "i" -> "s", "i" -> "t", "o" -> "u", "a" -> "l", "e" -> "s",
    "e" -> "d", "o" -> "f", "t" -> "o", "s" -> "t", "a" -> "r", "l" -> "e",
    "s" -> "e", "m" -> "e", "d" -> "e", "h" -> "e", "c" -> "h", "w" -> "h",
    "l" -> "l", "v" -> "e", "u" -> "s", "n" -> "t", "e" -> "a", "r" -> "o",
    "h" -> "a", "th" -> "er", "o" -> "o", "s" -> "s", "t" -> "t")

  /** Merges-table BPE encode of a letter-run word — the real algorithm
    * (Sennrich-style: apply each merge rule everywhere, in learned rank
    * order), as a pure column expression. Symbols are wrapped —
    * "the" starts as "(t)(h)(e)" — so a literal replace of "(a)(b)" with
    * "(ab)" can never match across a symbol boundary and adjacent
    * occurrences share no characters (left-to-right non-overlapping
    * replace stays correct on runs like "(a)(b)(a)(b)"). One chained
    * codegen'd expression, no UDF, map-only at any scale.
    */
  def bpeEncode(word: Column, merges: Seq[(String, String)] = Merges): Column = {
    val wrapped = regexp_replace(word, "(.)", "($1)")
    merges.foldLeft(wrapped) { case (c, (a, b)) =>
      replace(c, lit(s"($a)($b)"), lit(s"($a$b)"))
    }
  }

  /** Token count of a word under the merges table: symbols in the encode
    * (split on the ")(" boundary — one fewer string scan than counting
    * parens twice).
    */
  def bpeSymbolCount(word: Column, merges: Seq[(String, String)] = Merges): Column =
    size(split(bpeEncode(word, merges), "\\)\\("))

  /** REAL token count of a document under the merges table: pre-tokenize
    * with [[BpePattern]], BPE-encode each letter run (the leading space
    * folds into the word GPT-Ġ-style, so it adds no symbol), count every
    * other pre-token (digits/punctuation/whitespace runs) as one token.
    * This is the step past [[bpeTokenCount]]'s pre-token proxy: actual
    * vocabulary-dependent token budgeting, under the [[Merges]] table.
    */
  def bpeMergeTokenCount(text: Column): Column =
    aggregate(
      transform(bpeTokens(text), t =>
        when(t.rlike("^ ?[A-Za-z]+$"), bpeSymbolCount(ltrim(t)))
          .otherwise(lit(1))),
      lit(0), (acc, x) => acc + x)

  /** Word k-shingles: overlapping k-grams joined by a single space.
    * Documents shorter than k tokens yield an empty array.
    */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))

  /** Exact sum of token lengths (pure int arithmetic). */
  def sumTokenLen(toks: Column): Column =
    aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)

  /** Count of tokens contained in `words`. */
  def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** Deterministic document fingerprint: polynomial rolling hash over the
    * character codes, mod 2^31-1. A sequential fold — same value in any
    * engine (DuckDB: `list_reduce` over `ascii` codes). Used for cheap
    * content-addressed dedup keys and incremental-corpus diffing; at scale
    * this is a map-only projection (no shuffle).
    */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(split(text, ""), ch => ascii(ch).cast(LongType)),
      lit(0L),
      (acc, c) => (acc * 31 + c) % 2147483647L)

  /** Language markers for the n-gram/stopword language-ID heuristic.
    * Priority order breaks ties (first wins).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "de", "y", "es"),
    "zh" -> Seq("de5", "shi4", "le5") // pinyin-romanized corpora
  )

  /** Stopword-marker language ID: argmax of per-language marker hits with
    * a fixed priority ladder for ties; "und" (undetermined) when no marker
    * hits at all. The CASE ladder shape mirrors the SQL oracle exactly.
    */
  def langId(toks: Column): Column = {
    val hits = LangMarkers.map { case (lang, words) => lang -> hitCount(toks, words) }
    val ladder = hits.zipWithIndex.foldLeft(Option.empty[Column]) {
      case (acc, ((lang, h), i)) =>
        val later = hits.drop(i + 1).map(_._2)
        val cond = later.foldLeft(h > 0)((c, o) => c && h >= o)
        Some(acc.fold(when(cond, lang))(_.when(cond, lang)))
    }
    ladder.get.otherwise("und")
  }

  /** Quality metrics over a text column: char/token counts, mean token
    * length, stopword ratio, and a composite [0,1] quality score (clamped
    * linear blend — the kind of cheap heuristic used to pre-filter web
    * corpora before expensive model-based scoring).
    */
  /** Gopher-style repetition filter thresholds (Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from
    * Training Gopher", Table A1 family — the word-count variant of
    * their character-mass rules, the common reimplementation).
    */
  val DupWordMax = 0.30
  val TopWordMax = 0.20
  val TopBigramMax = 0.18

  /** Per-document repetition metrics — the filter family that catches
    * boilerplate/spam text whose per-token quality looks fine:
    * `dup_word_frac` (1 − distinct/total words), `top_word_frac` and
    * `top_bigram_frac` (mass of the single most repeated 1-/2-gram),
    * plus the composite `keep` verdict at the thresholds above.
    *
    * Distributed shape: one explode per gram order, per-(doc, gram)
    * count, per-doc aggregate — key-local shuffles only, no per-row
    * frequency maps, so a 100 TB corpus is bounded by its gram
    * cardinality, not its document sizes. Docs shorter than 2 tokens
    * have no bigrams: their `top_bigram_frac` is 0 (never filtered on a
    * gram order they can't form).
    */
  def repetitionStats(docs: org.apache.spark.sql.DataFrame,
                      idCol: String = "doc_id",
                      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    val base = docs.select(col(idCol).as("doc_id"), toks.as("tk"))
    def gramStats(gram: Column, nTotal: String, nTop: String) =
      base.select(col("doc_id"), explode(gram).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(
          sum("cnt").as(nTotal), count(lit(1)).as(s"${nTotal}_distinct"),
          max("cnt").as(nTop))
    val words = gramStats(col("tk"), "n_words", "top_word")
    val bigrams = gramStats(shingles(col("tk"), 2), "n_bigrams", "top_bigram")
    val dup = lit(1.0) - col("n_words_distinct").cast(DoubleType) / col("n_words").cast(DoubleType)
    val topW = col("top_word").cast(DoubleType) / col("n_words").cast(DoubleType)
    val topB = coalesce(
      col("top_bigram").cast(DoubleType) / col("n_bigrams").cast(DoubleType), lit(0.0))
    words.join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        dup.as("dup_word_frac"), topW.as("top_word_frac"),
        topB.as("top_bigram_frac"),
        (dup <= DupWordMax && topW <= TopWordMax && topB <= TopBigramMax).as("keep"))
  }

  def qualityMetrics(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nTok = size(toks).cast(DoubleType)
    val meanLen = sumTokenLen(toks).cast(DoubleType) / nTok
    val stopRatio = hitCount(toks, Seq("the", "a", "of", "and", "is")).cast(DoubleType) / nTok
    val lenScore = least(nTok / lit(100.0), lit(1.0))
    val score = greatest(least(
      lit(0.5) * lenScore + lit(0.3) * least(stopRatio * 5, lit(1.0)) +
        lit(0.2) * least(meanLen / 8, lit(1.0)),
      lit(1.0)), lit(0.0))
    Seq(
      "n_chars" -> length(text),
      "n_tokens" -> size(toks),
      "mean_token_len" -> meanLen,
      "stopword_ratio" -> stopRatio,
      "quality_score" -> score)
  }

  /** PII redaction patterns — the standard pre-training scrub (emails,
    * IPv4 addresses, SSN-shaped ids, phone-shaped numbers; cf. the
    * public C4/Dolma curation recipes). Restricted to a regex dialect
    * subset with IDENTICAL semantics in Java regex (Spark codegen) and
    * RE2 (the DuckDB oracle): character classes, bounded repetition,
    * `\b` ASCII word boundaries, no backreferences, no lookaround.
    * ORDER MATTERS and is part of the contract: SSN before phone (an
    * SSN is phone-shaped), email before IPv4 (a raw-IP mail domain is
    * redacted as part of the address).
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>",
    "\\b(?:\\+?\\d{1,2}[- ]?)?\\(?\\d{3}\\)?[- ]?\\d{3}[- ]?\\d{4}\\b" -> "<PHONE>")

  /** Scrub PII spans from a text column: [[PiiPatterns]] applied in
    * order as chained `regexp_replace` — pure codegen'd projection, no
    * UDF, no shuffle; the per-pattern match counts (pre-redaction) ride
    * along via [[piiCounts]] for audit columns.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Per-pattern PII match counts over the ORIGINAL text (each pattern
    * counted after the earlier patterns' redactions, mirroring
    * [[redactPii]]'s chaining so an email's IP-shaped domain is never
    * double-counted).
    */
  def piiCounts(text: Column): Seq[(String, Column)] = {
    val staged = PiiPatterns.scanLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }
    PiiPatterns.zip(staged).map { case ((pat, repl), before) =>
      val name = repl.stripPrefix("<").stripSuffix(">").toLowerCase
      s"n_$name" -> size(regexp_extract_all(before, lit(pat), lit(0)))
    }
  }
}
