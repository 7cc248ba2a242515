package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for training-data pipelines, as Column
  * expressions that run inside whole-stage codegen (no UDFs: a UDF's
  * row serialization is what turns a 100 TB scan from CPU-bound into
  * serialization-bound).
  *
  * The rule: compose built-ins, unless a per-element hash would be
  * re-evaluated inside a higher-order-function lambda. Catalyst does no
  * subexpression elimination inside lambdas, so a hash nested under two
  * of them runs once per (element, outer iteration). Then write a
  * one-pass expression in `graft.functions` instead — as
  * [[minhashSignature]], [[simhash32]] and [[simhash60]] do.
  *
  * Everything is engine-portable: the DuckDB oracle reproduces each
  * function with the same arithmetic (see graft.Queries / PipelineQueries).
  */
object TextFunctions {

  /** Whitespace tokenization. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** The oracle-side twin of [[tokens]] over the `text` column (DuckDB). */
  val tokensSql: String = "regexp_split_to_array(trim(text), '\\s+')"

  /** BPE-ish pre-tokenization pattern (letter runs | single digits |
    * single non-alnum-non-space) — ASCII-only so the Java-regex and
    * RE2 (DuckDB) dialects agree. */
  val BpeishPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  /** Token count under the BPE-ish pre-tokenizer (the unit a real BPE
    * vocabulary would be trained over). */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeishPattern), lit(0))).cast("long")

  /** Punctuation-ish character count (ASCII non-alnum, non-space). */
  def punctCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  def uniqueTokenCount(c: Column): Column =
    size(array_distinct(tokens(c))).cast("long")

  /** Count of lowercase-alpha characters (quality signal). */
  def alphaCount(c: Column): Column =
    length(regexp_replace(c, "[^a-z]", "")).cast("long")

  /** Tokens found in `words` (stopword density / language evidence). */
  def wordHits(c: Column, words: Seq[String]): Column =
    size(filter(tokens(c), t => t.isin(words: _*))).cast("long")

  /** Character k-shingles (sliding window), deduplicated.
    * Short texts yield their own (single) truncated shingle; NULL text
    * yields no shingles, as the oracle's `list_distinct` (which drops
    * NULLs) does. */
  def shingleSet(c: Column, k: Int): Column =
    when(c.isNull, typedLit(Seq.empty[String])).otherwise(
      array_distinct(transform(
        sequence(lit(1), greatest(length(c) - lit(k - 1), lit(1))),
        i => c.substr(i, lit(k)))))

  /** Word n-grams WITHOUT dedup — the multiset, as repetition measurement
    * needs it. Documents shorter than n tokens yield their single
    * truncated n-gram: `try_element_at` (not `element_at`, which THROWS
    * on out-of-range indices under Spark 4's default ANSI mode) returns
    * null past the end and `concat_ws` skips nulls — the same NULL-skip
    * the DuckDB oracles' `concat_ws(' ', tok[i], …)` performs.
    *
    * The `tok` expression is BOUND ONCE per row by wrapping it as the
    * 1-element input of an outer `transform` and referencing only the
    * lambda variable inside: Catalyst does no subexpression elimination
    * inside higher-order-function lambdas, so the naive form re-evaluates
    * the caller's `tok` (typically `tokens(text)`, a regex split) for
    * EVERY window × EVERY of the n element_at calls — measured 20.4 s →
    * 1.3 s for the sf0.1 10-gram explode (15×). Same family as the
    * CollapseProject/winnowing trap, but fixed at the expression level so
    * no caller can reintroduce it. */
  def wordNgramsAll(tok: Column, n: Int): Column =
    element_at(
      transform(array(tok), a =>
        transform(
          sequence(lit(1), greatest(size(a) - lit(n - 1), lit(1))),
          i => concat_ws(" ", (0 until n).map(o => try_element_at(a, i + lit(o))): _*))),
      1)

  /** Deduplicated word n-grams joined with single spaces. */
  def wordNgrams(tok: Column, n: Int): Column =
    array_distinct(wordNgramsAll(tok, n))

  /** Rolling-hash document fingerprint: lexicographic min/max of md5 over
    * the k-shingle set (md5 is identical across engines, and string min =
    * unsigned numeric min for fixed-width lowercase hex). */
  def fingerprintMin(shingles: Column): Column =
    array_min(transform(shingles, s => md5(s)))

  def fingerprintMax(shingles: Column): Column =
    array_max(transform(shingles, s => md5(s)))

  /** Composite quality score in [0,1]: stopword density, length prior,
    * alpha ratio. Deterministic double arithmetic (left-assoc sum). */
  def qualityScore(nStop: Column, nTokens: Column, nAlpha: Column, nChars: Column): Column =
    lit(0.4) * (nStop / nTokens) +
      lit(0.4) * least(nTokens / lit(200.0), lit(1.0)) +
      lit(0.2) * (nAlpha / nChars)

  /** MinHash signature: ⌈numHashes/4⌉ seeded md5s per shingle (hash a =
    * md5(a || ':' || s)), each split into FOUR independent 8-hex-digit
    * words; entry j = min over shingles of word j%4 of hash ⌊j/4⌋
    * (string min == unsigned numeric min for fixed-width lowercase hex).
    * 16 permutations cost 4 md5s instead of 16 — md5 is the single most
    * expensive expression in the engine. (Kirsch-Mitzenmacher h1+j·h2
    * double hashing would be cheaper still, but it correlates the rows
    * WITHIN an LSH band — one shingle with a small (h1, h2) dominates
    * every permutation — which measured as a candidate-pair explosion;
    * distinct md5 output words carry none of that correlation.)
    * Implemented as a native one-pass Catalyst expression —
    * [[graft.functions.MinhashSignature]] explains why composition of
    * built-ins loses here. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.MinhashSignature(
        org.apache.spark.sql.graft.ColumnBridge.expression(shingles), numHashes))

  /** 32-bit SimHash, returned as BIGINT: bit j is set when at least half
    * of the shingles (count·2 ≥ n) have an odd hex digit j in their md5.
    * One md5 per shingle — see [[graft.functions.Simhash]]. */
  def simhash32(shingles: Column): Column = simhash(shingles, 32)

  /** 60-bit SimHash (pairing-grade fingerprint — see
    * graft.functions.Simhash for the bit semantics and why 60). */
  def simhash60(shingles: Column): Column = simhash(shingles, 60)

  private def simhash(shingles: Column, width: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.Simhash(
        org.apache.spark.sql.graft.ColumnBridge.expression(shingles), width))

  /** Jaccard similarity of two (deduplicated) array columns, as the exact
    * double |∩| / (|a|+|b|-|∩|). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter / (size(a) + size(b) - inter)
  }

  /** n-gram-heuristic language id: argmax of evidence-token hits across
    * language profiles, first profile wins ties. Returns (scores…, lang)
    * via a CASE cascade mirrored by the oracle. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  def langId(c: Column): Column = {
    val hits = langProfiles.map { case (_, ws) => wordHits(c, ws) }
    val Seq(en, de, fr) = hits
    when(en >= de && en >= fr, lit("en"))
      .when(de >= fr, lit("de"))
      .otherwise(lit("fr"))
  }
}
