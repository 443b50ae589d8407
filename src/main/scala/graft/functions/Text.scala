package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column expressions for LLM-training-data pipelines
  * (SURVEY.md §2.7): language-ID heuristic, quality scoring, token counting,
  * document fingerprinting. All pure `functions._` expressions — whole-stage
  * codegen, no UDFs, safe at 100 TB.
  *
  * The marker tables are public data so the DuckDB oracle SQL can be
  * generated from the same source of truth (see queries.QueriesLlm).
  */
object Text {

  /** Function-word markers per language for the n-gram/char heuristic. The
    * scorer counts marker occurrences; prediction = first language (in
    * [[LangPriority]] order) achieving the max score.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq(" der ", " und ", " die "),
    "en" -> Seq(" the ", " and ", " of "),
    "es" -> Seq(" el ", " la ", " los "),
    "fr" -> Seq(" le ", " les ", " des "),
    "zh" -> Seq("的", "是", "了")
  )
  val LangPriority: Seq[String] = LangMarkers.map(_._1)

  val PunctChars = ".,!?;:"
  val StopMarkers: Seq[String] = Seq(" the ", " and ", " a ")
  val BpeTokenPattern = "[a-z]+|[A-Z][a-z]*|[0-9]|[^\\sa-zA-Z0-9]"

  /** Occurrences of literal `marker` in `text`:
    * (len(text) - len(replace(text, marker))) / len(marker).
    */
  def occurrences(text: Column, marker: String): Column =
    (length(text) - length(call_function("replace", text, lit(marker), lit("")))) / marker.length

  /** Marker-count score for one language. */
  def langScore(text: Column, lang: String): Column =
    LangMarkers.toMap.apply(lang)
      .map(m => occurrences(text, m))
      .reduce(_ + _)

  /** Predicted language: first in priority order hitting the max score. */
  def langId(text: Column): Column = {
    val scores = LangPriority.map(l => l -> langScore(text, l))
    val m = greatest(scores.map(_._2): _*)
    scores.foldRight(lit(LangPriority.last)) { case ((l, s), acc) =>
      when(s === m, lit(l)).otherwise(acc)
    }
  }

  private def native(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftColumnBridge.column(e)
  private def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftColumnBridge.expression(c)

  /** Whitespace-delimited token count — native one-pass codegen twin of
    * `regexp_count(text, '\S+')` (bit-equal, PropertyExprSpec-pinned; the
    * DuckDB oracles keep the regex form).
    */
  def tokenCountWs(text: Column): Column = native(WsTokenCount(expr(text)))

  /** BPE-ish token count: lowercase runs, capitalized words, digits,
    * punctuation singles — native one-pass codegen twin of
    * `regexp_count(text, BpeTokenPattern)` (bit-equal, property-pinned).
    */
  def tokenCountBpe(text: Column): Column = native(BpeTokenCount(expr(text)))

  /** Document quality score in [0,1]: length credit × punctuation penalty ×
    * stopword credit. Deterministic double arithmetic (same op order as the
    * SQL twin).
    */
  def qualityScore(text: Column): Column = {
    val nChars = length(text)
    val nWords = tokenCountWs(text)
    val punct = nChars - length(translate(text, PunctChars, ""))
    val stops = StopMarkers.map(m => occurrences(text, m)).reduce(_ + _)
    val punctRatio = punct.cast("double") / greatest(nChars, lit(1))
    val stopRatio = stops.cast("double") / greatest(nWords, lit(1)).cast("double")
    round(least(lit(1.0), nWords.cast("double") / 100.0) *
      (lit(1.0) - punctRatio) *
      (lit(0.5) + least(stopRatio * 2.0, lit(0.5))), 6)
  }

  /** Portable 60-bit hash both engines compute identically: the first 15 hex
    * chars of sha256 as a BIGINT. DuckDB twin:
    * `CAST('0x' || substr(sha256(x), 1, 15) AS BIGINT)`. Used wherever a
    * signature must be oracle-checkable (minhash shingles, simhash tokens);
    * costlier than murmur but still linear and codegen'd — the oracle-able
    * choice for a verification-gated pipeline.
    */
  def portableHash(c: Column): Column =
    conv(substring(sha2(c, 256), 1, 15), 16, 10).cast("long")

  /** SQL twin of [[portableHash]] for the DuckDB oracle. */
  def portableHashSql(e: String): String =
    s"CAST('0x' || substr(sha256($e), 1, 15) AS BIGINT)"

  /** Polynomial rolling-hash fingerprint over the character codes:
    * fold(acc=0; acc*31 + code mod 1e9+7). ASCII-safe; stays within Long.
    */
  def fingerprint(text: Column): Column =
    aggregate(
      sequence(lit(1), length(text)),
      lit(0L),
      (acc, i) => (acc * 31 + ascii(call_function("substr", text, i, lit(1)))) % 1000000007L)

  /** SHA-256 content digest of a text: the "t:"-prefixed text, or the
    * "null:" sentinel for a NULL text (which no real text's digest can
    * equal, so NULL texts compare as one value instead of dropping out of
    * a null-unsafe join). The one digest scheme of exact dedup, the crawl
    * diff and the persisted dedup index.
    */
  def textDigest(text: Column): Column =
    sha2(coalesce(concat(lit("t:"), text.cast("string")), lit("null:")), 256)

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** One array element per Unicode CODE POINT (Java regex `.` matches a
    * full code point, so a supplementary character — emoji in crawl text —
    * stays one symbol). The tokenizer families' initial segmentation: a
    * zero-width-lookahead `split` would cut between UTF-16 code units and
    * Spark's UTF8String round-trip then mangles the lone surrogates to
    * `?`, silently diverging from both `substring` (per code point) and
    * the DuckDB oracle (`word[i]` indexes characters). `(?s)` so a code
    * point that IS a newline still matches.
    */
  def codePointSplit(s: Column): Column =
    regexp_extract_all(s, lit("(?s)."), lit(0))

  // --- normalization / scrubbing (SURVEY §2.7) ----------------------------
  // Pattern constants are shared with the DuckDB oracle SQL (QueriesLlm), so
  // the two engines run character-identical regexes. Patterns stay inside the
  // RE2 subset (no backrefs, no lookaround) — valid in both Java regex and
  // DuckDB's RE2.

  val NormStripPattern = "[.,!?;:]"
  val UrlPattern = "https?://[^\\s]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}"

  /** Canonical text normalization for dedup preprocessing: lowercase, strip
    * sentence punctuation, collapse whitespace runs, trim. All codegen'd
    * string expressions — linear per row, safe at 100 TB.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), NormStripPattern, ""), "\\s+", " "))

  /** PII redaction: URLs, then emails, then phone numbers (URL first so an
    * address inside a URL is consumed as part of the URL match).
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlPattern, "<URL>"),
        EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Duplicate-token fraction of a document: 1 - distinct/total over the
    * lowercase whitespace tokens. High values flag boilerplate / template
    * spam in a training corpus.
    */
  def repetitionRatio(text: Column): Column = {
    val toks = tokens(text)
    round(lit(1.0) - size(array_distinct(toks)).cast("double") /
      greatest(size(toks), lit(1)).cast("double"), 6)
  }

  /** Word n-gram shingles (space-joined) from a token array. Documents with
    * fewer than n tokens yield an empty array. Codegen'd
    * (functions/ShingleArray — one tight loop per row; the interpreted
    * higher-order formulation it replaced is the spec-side reference).
    */
  def shingles(toks: Column, n: Int): Column = {
    graft.functions.ShingleArray.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("shingle_array", toks, lit(n))
  }

  /** Jaccard similarity of the distinct-shingle sets of two arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val ad = array_distinct(a)
    val bd = array_distinct(b)
    size(array_intersect(ad, bd)).cast("double") /
      size(array_union(ad, bd)).cast("double")
  }
}
