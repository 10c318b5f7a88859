package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass kernels for the text-statistics family. Each
  * replaces a stack of interpreted higher-order folds
  * (`aggregate(transform(...))` is CodegenFallback) with a single
  * JIT'd loop over the words array, preserving the exact arithmetic
  * the DuckDB oracles replay:
  *  - subword count  Σ ceil(chars/4)       (integer math, same order)
  *  - char sum       Σ chars               (avg derives by the same division)
  *  - stopword hits  Σ [lower(w) ∈ stops]
  *  - distinct words by string (list_distinct semantics)
  *  - fingerprint    min over md5-60bit of the n-word shingle STRINGS
  *                   (the oracle replays md5, so the hash must stay)
  *
  * Both are hand-written rather than declared [[Kernel]]s: the stopword
  * set and the language profiles are reference objects built once per
  * expression and handed to the generated code.
  */
object NativeTextStats {

  def textStats(words: Column, stopwords: Seq[String], shingleN: Int = 3): Column =
    GraftSqlBridge.column(TextStatsExpr(
      GraftSqlBridge.expression(words), stopwords, shingleN))

  def langId(words: Column, profiles: Seq[(String, Seq[String])]): Column =
    GraftSqlBridge.column(LangIdExpr(GraftSqlBridge.expression(words), profiles))
}

case class TextStatsExpr(child: Expression, stopwords: Seq[String], shingleN: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"text_stats needs array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_subwords", LongType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("fp", LongType, nullable = true)))
  override def prettyName: String = "text_stats"

  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    stopwords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  protected override def nullSafeEval(words: Any): Any =
    TextStatsKernel.stats(words.asInstanceOf[ArrayData], stopSet, shingleN)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextStatsKernel.stats($c, $ref, $shingleN);")
  }
  override protected def withNewChildInternal(newChild: Expression): TextStatsExpr =
    copy(child = newChild)
}

case class LangIdExpr(child: Expression, profiles: Seq[(String, Seq[String])])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lang_id needs array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"

  // language order is the tiebreak order — pin it alphabetically like
  // the column formulation and the oracle's CASE chain
  @transient private lazy val ordered = profiles.sortBy(_._1)
  @transient private lazy val langs: Array[UTF8String] =
    ordered.map(p => UTF8String.fromString(p._1)).toArray
  @transient private lazy val sets: Array[java.util.HashSet[UTF8String]] =
    ordered.map { case (_, ws) =>
      val s = new java.util.HashSet[UTF8String]()
      ws.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }.toArray

  protected override def nullSafeEval(words: Any): Any =
    TextStatsKernel.langId(words.asInstanceOf[ArrayData], langs, sets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val langsRef = ctx.addReferenceObj("langs", langs,
      "org.apache.spark.unsafe.types.UTF8String[]")
    val setsRef = ctx.addReferenceObj("sets", sets, "java.util.HashSet[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextStatsKernel.langId($c, $langsRef, $setsRef);")
  }
  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)
}

object TextStatsKernel {

  private val Space = UTF8String.fromString(" ")

  /** One pass for subword count, char sum, stopword hits, distinct
    * count; a second tight loop for the min-shingle-hash fingerprint
    * (md5 per shingle string — the oracle replays these exact
    * hashes). */
  def stats(words: ArrayData, stops: java.util.HashSet[UTF8String],
      shingleN: Int): GenericInternalRow = {
    val m = words.numElements()
    val seen = new java.util.HashSet[UTF8String](Math.max(16, m * 2))
    var subwords = 0L
    var sumLen = 0L
    var stopHits = 0L
    var i = 0
    while (i < m) {
      val w = words.getUTF8String(i)
      val chars = w.numChars()
      sumLen += chars
      // ceil(chars/4.0) on non-negative ints, in integer math
      subwords += (chars + 3) / 4
      if (stops.contains(w.toLowerCase)) stopHits += 1
      seen.add(w)
      i += 1
    }
    var fp: Any = null
    if (m >= shingleN) {
      var minH = Long.MaxValue
      i = 0
      val last = m - shingleN
      val parts = new Array[UTF8String](shingleN)
      while (i <= last) {
        var j = 0
        while (j < shingleN) { parts(j) = words.getUTF8String(i + j); j += 1 }
        val h = MinhashKernel.md5Hash60(UTF8String.concatWs(Space, parts: _*))
        if (h < minH) minH = h
        i += 1
      }
      fp = minH
    }
    new GenericInternalRow(Array[Any](subwords, sumLen, stopHits,
      seen.size.toLong, fp))
  }

  /** Stopword-profile argmax with alphabetical-first tie order ('und'
    * when no profile matches) — the tie semantics of both the
    * array_sort column formulation and the oracle's ordered CASE
    * chain. */
  def langId(words: ArrayData, langs: Array[UTF8String],
      sets: Array[java.util.HashSet[UTF8String]]): UTF8String = {
    val counts = new Array[Long](langs.length)
    val m = words.numElements()
    var i = 0
    while (i < m) {
      val w = words.getUTF8String(i)
      var k = 0
      while (k < sets.length) {
        if (sets(k).contains(w)) counts(k) += 1
        k += 1
      }
      i += 1
    }
    var best = 0
    var k = 1
    while (k < counts.length) {
      if (counts(k) > counts(best)) best = k
      k += 1
    }
    if (counts(best) == 0) UTF8String.fromString("und") else langs(best)
  }
}
