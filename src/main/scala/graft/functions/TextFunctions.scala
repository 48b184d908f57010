package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text-analysis building blocks for the LLM-data-pipeline
  * operators. Everything is a Catalyst built-in composition (no UDFs), so the
  * expressions stay inside whole-stage codegen and survive ANSI mode (Spark 4
  * default) — no overflowing arithmetic, no out-of-bounds indexing.
  */
object TextFunctions {

  /** Whitespace tokenisation (documents.text is space-separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles. Guarded for texts shorter than n —
    * `sequence(0, negative)` would throw. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
    .otherwise(array().cast("array<string>"))

  /** Count of tokens contained in a fixed vocabulary list. */
  def vocabCount(toks: Column, vocab: Seq[String]): Column =
    size(filter(toks, t => t.isin(vocab.map(lit): _*))).cast("long")

  /** English function-word list present in the synthetic corpus. On real data
    * this would be a per-language table; the mechanism (stopword-density
    * language scoring) is what carries over. */
  val EnglishStopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is", "on")

  /** BPE-ish token pattern: letter runs, digit runs, and single non-alnum
    * symbols — a deterministic stand-in for a real subword tokeniser. */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  /** Normalised text for fingerprinting: lowercase, collapsed whitespace. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), " +", " "))

  /** Content-defined fingerprint: md5 of the normalised text. Used for exact
    * dedup keys that are robust to case/whitespace drift. */
  def fingerprint(text: Column): Column = md5(normalized(text).cast("binary"))

  /** Order-sensitive rolling token hash (xor-rotate fold — multiplication-free
    * so it cannot overflow under ANSI mode). No SQL oracle: cross-engine hash
    * functions differ; covered by ScalaTest instead. */
  def rollingHash(toks: Column): Column =
    aggregate(toks, lit(0L),
      (acc, t) => shiftleft(acc, 5).bitwiseXOR(shiftright(acc, 59)).bitwiseXOR(xxhash64(t)))

  // ---- keyword-scan tier (native Aho–Corasick, graft/plans/KeywordScan.scala):
  // one automaton pass per row, cost independent of dictionary size. The
  // phrase list must be a literal (validated at analysis time).

  /** Sorted distinct dictionary phrases occurring in `text`. A blocklist
    * filter `size(keywordMatches(…)) === 0` plans as the early-exit
    * `keyword_any` probe (the SimplifyKeywordPredicates rewrite). */
  def keywordMatches(text: Column, phrases: Seq[String]): Column =
    call_function("keyword_matches", text, lit(phrases.distinct.sorted.toArray))

  /** Every phrase occurrence as struct<pos:int, phrase:string> (1-based
    * BYTE offsets; overlaps and nestings included). */
  def keywordSpans(text: Column, phrases: Seq[String]): Column =
    call_function("keyword_spans", text, lit(phrases.distinct.sorted.toArray))

  /** `text` with every byte covered by any phrase occurrence masked to '*'
    * (union-of-spans, length-preserving). */
  def keywordRedact(text: Column, phrases: Seq[String]): Column =
    call_function("keyword_redact", text, lit(phrases.distinct.sorted.toArray))
}
