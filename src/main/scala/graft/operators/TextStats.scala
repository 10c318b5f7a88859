package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality heuristics and stopword-profile language ID (the shingle
  * fingerprint is a field of the native `text_stats` kernel). All
  * per-row column expressions (codegen, no shuffle, no UDF) — at 100 TB
  * these run as a single scan stage fused with whatever filter/write
  * follows.
  */
object TextStats {

  /** Tokenize once — the `FromWords` forms below and the native
    * `text_stats` kernel take this column, so a multi-stat projection
    * computes the split a single time (the words column is
    * multi-referenced, which keeps Catalyst from inlining one split per
    * consumer). */
  def words(text: Column): Column = split(text, "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(split(text, "\\s+"))

  def tokenCountFromWords(w: Column): Column = size(w)

  /** BPE-ish subword count: word-characters chunk to runs of ≤4 chars
    * (a crude stand-in for byte-pair merges), punctuation counts singly.
    * Deterministic and cheap — the shape a tokenizer-cost estimator
    * needs, not a real BPE. */
  def subwordCount(text: Column): Column = {
    val words = split(text, "\\s+")
    aggregate(
      transform(words, w => ceil(length(w).cast("double") / 4.0).cast("long")),
      lit(0L), (acc, x) => acc + x)
  }

  /** GPT-2-style pre-tokenizer pattern (public BPE pre-tokenization
    * shape: contraction tail, space-prefixed letter runs, digit runs,
    * punctuation runs, whitespace). Restricted to the ASCII classes so
    * Java-regex (Spark) and RE2 (DuckDB oracle) agree exactly. */
  val BpePattern = "'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+| +"

  /** BPE-ish token count: matches of [[BpePattern]] — the regex half of
    * "whitespace + BPE-ish regex" token counting (subwordCount is the
    * whitespace/length half). Codegen regexp_count, no explode. */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpePattern)).cast("long")

  def distinctTokenCount(text: Column): Column =
    size(array_distinct(split(text, "\\s+")))

  /** Mean token length (0 for empty). */
  def avgTokenLen(text: Column): Column = {
    val words = split(text, "\\s+")
    when(size(words) === 0, lit(0.0))
      .otherwise(
        aggregate(transform(words, length(_).cast("long")), lit(0L), _ + _)
          .cast("double") / size(words).cast("double"))
  }

  /** Ratio of tokens found in `stopwords`. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val words = split(lower(text), "\\s+")
    when(size(words) === 0, lit(0.0)).otherwise(
      aggregate(transform(words,
          w => when(w.isin(stopwords: _*), 1L).otherwise(0L)),
        lit(0L), _ + _).cast("double") / size(words).cast("double"))
  }

  /** Small function-word profiles per language (public common words). */
  val stopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "pour"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"),
  )

  /** Stopword-profile language ID: score = matching-token count per
    * language; prediction = argmax, ties broken by language code order
    * (deterministic). 'und' when no profile matches at all. */
  def langId(text: Column): Column = langIdFromWords(split(lower(text), "\\s+"))

  /** Stopword-profile language ID over a pre-split lowercased words
    * column (see [[langId]]). */
  def langIdFromWords(words: Column): Column = {
    def score(ws: Seq[String]): Column =
      aggregate(transform(words, w => when(w.isin(ws: _*), 1L).otherwise(0L)),
        lit(0L), _ + _)
    val scored = stopwordProfiles.toSeq.sortBy(_._1).map {
      case (lang, ws) => struct(score(ws).as("score"), lit(lang).as("lang"))
    }
    // argmax by (score, reverse-alphabetical lang) = greatest struct;
    // alphabetical tiebreak via array_max over (score, negated-position)
    val best = sortArrayDesc(scored)
    when(best.getField("score") === 0, lit("und")).otherwise(best.getField("lang"))
  }

  /** greatest() over structs: max of (score asc, lang desc) so that on
    * equal scores the alphabetically-first language wins. */
  private def sortArrayDesc(scored: Seq[Column]): Column = {
    val arr = array(scored: _*)
    // sort ascending by (score, lang), then take: we want max score with
    // min lang on ties → sort by score asc then lang desc, take last.
    element_at(array_sort(arr, (l, r) =>
      when(l.getField("score") < r.getField("score"), -1)
        .when(l.getField("score") > r.getField("score"), 1)
        // equal score: later element should be the alphabetically smaller
        .when(l.getField("lang") > r.getField("lang"), -1)
        .when(l.getField("lang") < r.getField("lang"), 1)
        .otherwise(0)), -1)
  }

  /** Quality flags as a compact array of reason strings (mirrors the
    * reference's flag-array idiom, conversions.py:254-261). */
  def qualityFlags(text: Column, minTokens: Int = 20,
      minDiversity: Double = 0.3, maxAvgLen: Double = 12.0): Column = {
    val n = tokenCount(text)
    val flags = array(
      when(n < minTokens, lit("too_short")),
      when(distinctTokenCount(text).cast("double") / greatest(n, lit(1)).cast("double")
        < minDiversity, lit("low_diversity")),
      when(avgTokenLen(text) > maxAvgLen, lit("long_tokens")))
    array_compact(flags)
  }
}
