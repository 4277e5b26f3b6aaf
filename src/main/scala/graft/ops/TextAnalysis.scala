package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis kernel for LLM-data pipelines: tokenization, quality
  * scoring, language-ID heuristics, document fingerprints.
  *
  * All hashing goes through `md5` (hex string) so a SQL oracle (DuckDB) can
  * reproduce results byte-for-byte; everything is Column expressions inside
  * whole-stage codegen — the ops scale linearly with no driver involvement.
  */
object TextAnalysis {

  /** Whitespace tokenizer (single-space corpus; trim first so leading /
    * trailing blanks don't produce empty tokens). */
  def tokens(c: Column): Column = split(trim(c), " ")

  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** Small deterministic stopword list used by quality scoring. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  def stopwordCount(c: Column): Column =
    size(filter(tokens(c), t => t.isin(stopwords: _*))).cast("long")

  /** Stopword ratio — IEEE double division of two exact longs, so the
    * oracle reproduces it bit-for-bit. */
  def stopwordRatio(c: Column): Column =
    stopwordCount(c).cast("double") / tokenCount(c)

  /** Punctuation-ish character count (non alnum, non space). */
  def punctCount(c: Column): Column =
    length(regexp_replace(c, "[A-Za-z0-9 ]", "")).cast("long")

  /** Word n-gram shingles (space-joined), empty array when too short.
    * 1-based element_at; guarded so Spark's descending `sequence` on
    * start>stop can never fire. */
  def shingles(c: Column, n: Int): Column = shinglesOf(tokens(c), n)

  /** Shingles from an ALREADY-SPLIT token-array column. Callers on a hot
    * path should project `tokens(text)` into a named column first and
    * shingle that attribute: higher-order functions are CodegenFallback,
    * so an inline `tokens(text)` child is re-evaluated by EVERY
    * element_at — O(tokens²) full-string splits per document. Shingling
    * a materialized array attribute is linear. */
  def shinglesOf(toks: Column, n: Int): Column = {
    val make = transform(sequence(lit(1), size(toks) - lit(n - 1)), i =>
      concat_ws(" ", (0 until n).map(k => element_at(toks, i + lit(k))): _*))
    when(size(toks) >= n, make).otherwise(array().cast("array<string>"))
  }

  /** Winnowing window minima (Schleimer et al.): per position i of the
    * hash-array column `h`, the minimum over the w-length window
    * starting there — the selected-fingerprint sequence before
    * deduplication. `h` must be a PROJECTED attribute (the §6 HOF rule);
    * callers guard size(h) ≥ w. The kernel of text_winnowing. */
  def winnowMinima(h: Column, w: Int): Column =
    transform(sequence(lit(1), size(h) - lit(w - 1)),
      i => array_min(slice(h, i, lit(w))))

  /** Mean token length. The corpus contract is single-space separation
    * (same assumption as [[tokens]]), so total token chars = text length
    * minus the separators — a codegen'd arithmetic identity instead of a
    * higher-order fold over the token array. */
  def meanTokenLen(c: Column): Column =
    (length(trim(c)) - (tokenCount(c) - lit(1))).cast("double") / tokenCount(c)

  /** Number of DISTINCT stopwords present (Gopher-style quality signal:
    * real prose contains several; keyword soup contains none). */
  def distinctStopwordCount(c: Column): Column =
    size(array_intersect(array_distinct(tokens(c)),
      array(stopwords.map(lit): _*))).cast("long")

  /** Symbol ratio: non-alphanumeric-non-space chars over text length. */
  def symbolRatio(c: Column): Column =
    punctCount(c).cast("double") / length(c)

  /** PII patterns (shared with the oracle SQL — RE2/Java-regex common
    * subset: no backreferences, no lookaround). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phonePattern = "\\+\\d{1,3}-\\d{3}-\\d{3,6}"

  /** Redact emails → <EMAIL>, then IPv4 → <IP>, then phone numbers →
    * <PHONE>. Order matters: the email host would otherwise feed the IP
    * pattern's dotted-quad shape. Pure regexp_replace chain — codegen'd,
    * linear, no UDF. */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")

  def piiCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0))).cast("long")

  /** GPT-2-style pre-tokenizer regex (the public BPE pre-split pattern,
    * minus its trailing-space lookahead — RE2 has no lookahead, and this
    * subset behaves identically in Java regex and RE2, so the oracle
    * reproduces the counts): contractions, space-prefixed letter runs,
    * digit runs, punctuation runs, whitespace runs. */
  val bpePattern: String =
    """'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"""

  /** BPE-ish token count: the number of pre-tokenizer segments — the
    * standard cheap proxy for "how many LLM tokens is this document"
    * (each segment maps to >= 1 BPE token). */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(bpePattern), lit(0))).cast("long")

  /** Bag-of-words fingerprint of an already-split token-array column: md5
    * over the sorted distinct token set. Catches word-order-permuted
    * duplicates. */
  def bowFingerprintOf(toks: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(toks))))

  /** Winnowing-style fingerprint of an already-split token-array column:
    * minimum md5 over word-n-gram shingles (native codegen'd kernel — the
    * `array_min(transform(..., md5))` HOF form is CodegenFallback; linear,
    * because the shingle HOF walks a materialized attribute). */
  def minShingleFingerprintOf(toks: Column, n: Int = 3): Column =
    graft.functions.TextFunctions.md5Min(shinglesOf(toks, n))

  /** Marker-word tables for the language-ID heuristic (deterministic,
    * chosen from the synthetic corpus vocabulary). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("join", "sort"),
    "en" -> Seq("the", "data"),
    "es" -> Seq("key", "row"),
    "fr" -> Seq("merge", "scan"),
    "zh" -> Seq("query", "hash"))

  def langScore(c: Column, markers: Seq[String]): Column =
    size(filter(tokens(c), t => t.isin(markers: _*))).cast("long")

  /** Predicted language: arg-max marker-hit count, alphabetical-priority
    * tiebreak — same CASE cascade the oracle uses. */
  def langId(c: Column): Column = {
    val scores = langMarkers.map { case (l, m) => l -> langScore(c, m) }
    val best = greatest(scores.map(_._2): _*)
    // base case is the LAST language, matching the oracle's ELSE branch —
    // also what a NULL text falls through to (every `when` is null-falsy)
    scores.init.foldRight(lit(langMarkers.last._1)) { case ((l, s), acc) =>
      when(s === best, lit(l)).otherwise(acc)
    }
  }
}
