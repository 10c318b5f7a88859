package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Higher-order-function Column formulations of the native text
  * kernels — the executable specifications NativeTextSpec compares
  * the kernels against. They run interpreted (`transform` is
  * CodegenFallback) and re-read the words array n times per window,
  * which is why the program itself calls the kernels. */
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

  /** Minimum md5-60 hash over the distinct n-word shingles — the
    * specification of the `fp` field of the native `text_stats`
    * kernel ([[graft.functions.NativeTextStats.textStats]]). */
  def fingerprintFromWords(w: Column, shingleSize: Int = 3): Column =
    array_min(transform(shinglesFromWords(w, shingleSize), TextDedup.hash60 _))
}
