package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Higher-order-function and aggregate formulations of the native
  * text kernels — the executable specifications NativeTextSpec and
  * LlmOpsSpec compare the kernels against. The Column forms run
  * interpreted (`transform` is CodegenFallback) and re-read the words
  * array n times per window, and the SimHash form shuffles a word
  * explode, which is why the program itself calls the kernels. */
object HofText {

  /** Distinct n-word shingles of a words column: `concat_ws(" ", …)`
    * over each n-window (null words skipped), duplicates dropped in
    * first-occurrence order, empty when fewer than n words. The
    * specification of [[graft.functions.NativeText.shingles]]. */
  def shinglesFromWords(w: Column, n: Int): Column =
    array_distinct(
      when(size(w) < n, array())
        .otherwise(transform(sequence(lit(0), size(w) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j + 1)): _*))))

  /** The per-word statistics the native `text_stats` kernel
    * ([[graft.functions.NativeTextStats.textStats]]) computes in one
    * pass: Σ ceil(chars/4) subwords, distinct tokens, mean token
    * length and the stopword ratio (0.0 for an empty array). */
  def subwordCountFromWords(w: Column): Column =
    aggregate(
      transform(w, x => ceil(length(x).cast("double") / 4.0).cast("long")),
      lit(0L), (acc, x) => acc + x)

  def distinctTokenCountFromWords(w: Column): Column =
    size(array_distinct(w))

  def avgTokenLenFromWords(w: Column): Column =
    when(size(w) === 0, lit(0.0))
      .otherwise(
        aggregate(transform(w, length(_).cast("long")), lit(0L), _ + _)
          .cast("double") / size(w).cast("double"))

  def stopwordRatioFromWords(w: Column, stopwords: Seq[String]): Column =
    when(size(w) === 0, lit(0.0)).otherwise(
      aggregate(transform(w,
          x => when(lower(x).isin(stopwords: _*), 1L).otherwise(0L)),
        lit(0L), _ + _).cast("double") / size(w).cast("double"))

  /** Minimum md5-60 hash over the distinct n-word shingles — the
    * specification of the `fp` field of the native `text_stats`
    * kernel ([[graft.functions.NativeTextStats.textStats]]). */
  def fingerprintFromWords(w: Column, shingleSize: Int = 3): Column =
    array_min(transform(shinglesFromWords(w, shingleSize), TextDedup.hash60 _))

  /** hash60 of each space-joined k-word window, in position order;
    * empty for docs shorter than k (sequence(0, n) DESCENDS for
    * negative n — the guard matters). The specification of
    * [[graft.functions.NativeText.spanHashes]]. */
  def spanHashesSpec(w: Column, k: Int): Column =
    when(size(w) < k, array().cast(ArrayType(LongType)))
      .otherwise(transform(
        sequence(lit(0), size(w) - k),
        i => TextDedup.hash60(concat_ws(" ",
          (0 until k).map(j => element_at(w, i + j + 1)): _*))))

  /** 60-bit SimHash per doc from its distinct words — aggregate
    * formulation: one exploded aggregation with 60 conditional sums
    * (each partial-aggregable). Bit j of the result is 1 iff the sum
    * of (±1 per word, + when word-hash bit j set) is positive. The
    * specification of [[graft.functions.NativeText.simhash60]], which
    * [[TextDedup.simhashNearDups]] computes per row with no explode
    * and no shuffle. Output: (idCol, simhash). */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = docs.select(col(idCol),
        explode(array_distinct(split(col(textCol), " "))).as("w"))
      .select(col(idCol), TextDedup.hash60(col("w")).as("h"))
    val sums = (0 until TextDedup.SimBits).map { j =>
      sum(when(shiftright(col("h"), j) % 2 === 1, 1).otherwise(-1)).as(s"s$j")
    }
    words.groupBy(col(idCol))
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol),
        (0 until TextDedup.SimBits).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }
}
