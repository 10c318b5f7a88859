package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the text-dedup, quality and enrichment paths
  * (SURVEY §2.11: native code where built-ins can't express the
  * semantics efficiently).
  *
  * Each kernel computes a whole per-row summary in ONE pass over the
  * row's value. MinHash and SimHash, for instance, replace a
  * shingle-explode → 64-min-aggregate shuffle and a word-explode →
  * 60-conditional-sum shuffle with per-row work — at 100 TB that
  * removes the two widest intermediate tables in the dedup family
  * (corpus × shingles rows) entirely.
  *
  * Binding: each Column function below calls a [[Kernel]] declared in
  * [[Kernels]], which binds through Catalyst's `StaticInvoke`, so the
  * generated code is one static call into [[MinhashKernel]]. The
  * kernel is plain JVM code (tight primitive loops, no megamorphic
  * dispatch), so HotSpot JITs it like any hand-written hash loop, and
  * the enclosing Project keeps whole-stage fusion. `shapedDate` is the
  * one hand-written expression ([[ShapedDateExpr]]): it resolves the
  * session time zone, and its kernel returns a boxed Long.
  */
object NativeText {

  /** MinHash signature of the `n`-word shingles of `words`:
    * array of [[MinhashKernel.NumHashes]] minima of universal hashes
    * over Z_P. Empty array when the document has fewer than `n` words
    * (mirrors "no shingles → no signature"). The shingle base hash is
    * a rolling xxhash64 combine of per-word hashes — no shingle string
    * is ever materialized. Shingle multiplicity is irrelevant to a min,
    * so no distinct step is needed (min over a multiset equals min over
    * its support set). */
  def minhashSig(words: Column, n: Int): Column =
    Kernels.minhashSig(Seq(words), n)

  /** 60-bit SimHash over the DISTINCT words of `words`, bit-identical
    * to the SQL formulation the DuckDB oracle replays: per distinct
    * word h = first 15 hex digits of md5 (= top 60 bits of the
    * digest), bit j of the result set iff Σ(±1 by bit j of h) > 0. */
  def simhash60(words: Column): Column =
    Kernels.simhash60(Seq(words))

  /** Feature-hashed document vector (the hashing trick, Weinberger et
    * al., ICML'09): token counts folded into a fixed `dim`-bucket
    * signed-count vector — bucket = md5Hash60(w) mod dim, sign = bit 59
    * of the hash. One pass per row, scan speed, no vocabulary table and
    * no shuffle; all entries are exact integers so the DuckDB replay is
    * order-independent-exact. The fixed-dim output plugs directly into
    * the embedding operators (cosine near-dup, ANN). */
  def featureHash(words: Column, dim: Int): Column =
    Kernels.featureHash(Seq(words), dim)

  /** Distinct n-word shingle hashes of `words` — the join key column
    * for shingle-overlap operators (Jaccard verify, decontamination).
    * The hash is the same rolling xxhash64 combine the MinHash kernel
    * uses: joining on it is equivalent to joining on the shingle
    * STRINGS up to 64-bit collisions, the accepted trade of every
    * hash-keyed candidate join here — while never materializing a
    * shingle string or running an interpreted HOF. */
  def shingleHashes(words: Column, n: Int): Column =
    Kernels.shingleHashes(Seq(words), n)

  /** Distinct n-word shingle STRINGS of `words`: each window's words
    * joined by " " with null elements skipped (`concat_ws`
    * semantics), duplicates dropped in first-occurrence order; empty
    * when the document has fewer than `n` words, null for a null
    * array. Value-identical to `array_distinct(transform(sequence(0,
    * size(w) - n), i => concat_ws(" ", w[i+1], …, w[i+n])))` — one
    * native pass per row where that formulation runs an interpreted
    * lambda (NativeTextSpec pins the parity on both eval paths). */
  def shingles(words: Column, n: Int): Column =
    Kernels.shingles(Seq(words), n)

  /** POSITIONAL k-word window hashes (one per window start, order
    * preserved, NOT distinct — posexplode recovers positions). The
    * hash is the md5-based hash60 of the space-joined window,
    * byte-identical to `conv(substr(md5(concat_ws(' ', …)), 1, 15),
    * 16, 10)`, so a DuckDB oracle can replay the key — the passage
    * scrub's keeper election depends on that. One digest pass per
    * window, no window strings materialized, no interpreted HOF. */
  def spanHashes(words: Column, n: Int): Column =
    Kernels.spanHashes(Seq(words), n)

  /** Scientific-name parse (genus, epithet) — the native form of
    * Grabbers.parseSciName: whitespace split, plain-word genus,
    * subgenus skip, rank-marker/authorship exclusion, all in one pass
    * with no regex. Semantics are pinned to the Column formulation by
    * a parity spec over the golden cases. */
  def sciParse(sci: Column): Column =
    Kernels.sciParse(Seq(sci))

  /** Date-format shape classifier for the permissive timestamp
    * cascade: returns which of the non-ISO format families the string
    * matches (0 = none, 1 = y/M/d, 2 = M/d/y, 3 = y.M.d, 4 = "MON d,
    * y", 5 = "d MON y", 6 = "MON y", 7 = "d-MON-y") in ONE pass,
    * replacing seven anchored rlike gates per date column. The parse
    * itself stays in Spark's own try_cast / try_to_timestamp — only
    * the gating moves into the kernel, so parse semantics are
    * untouched. A property spec pins the classifier to the exact
    * regexes it replaced. */
  def dateShape(c: Column): Column =
    Kernels.dateShape(Seq(c))

  /** Native parse of the shaped (non-ISO) date families; null when the
    * value matches no family or fails its family's validation. */
  def shapedDate(c: Column, runYear: Int): Column =
    GraftSqlBridge.column(ShapedDateExpr(GraftSqlBridge.expression(c), runYear))

  /** First number in the string (grabFirstNumber), comma-stripped, as
    * text — callers try_cast to the numeric type they want. One native
    * call replacing a regexp_extract + regexp_replace tree per use
    * (~10 uses in one enrich projection); same java.util.regex engine,
    * same pattern, parity-pinned by EnrichSpec's golden table. */
  def firstNumber(c: Column): Column =
    Kernels.firstNumber(Seq(c))

  /** Fraction-digit count of a plain decimal string (getExponent);
    * 0 for non-decimals AND for null input, like the Column spec. */
  def decimalExponent(c: Column): Column =
    Kernels.decimalExponent(Seq(c))

  /** Repetition statistics of one document (Gopher/C4-style quality
    * signals) in a single pass: word count, distinct-word count, the
    * occurrence count of the most frequent bigram and trigram, and the
    * number of bigram occurrences belonging to bigrams seen more than
    * once. Callers derive the published fractions (duplicate-word
    * fraction, top-n-gram coverage) with plain double division so the
    * DuckDB oracle can replay the exact arithmetic. */
  def repetitionStats(words: Column): Column =
    Kernels.repetitionStats(Seq(words))

  /** Clipped BLEU n-gram match counts of one (candidate, reference)
    * pair in a single pass: c1 = Σ over distinct unigrams of
    * min(count_cand, count_ref), c2 = the same over the space-joined
    * adjacent bigrams — the per-pair modified-precision numerators of
    * corpus BLEU-2 (Papineni et al., ACL'02). Counting keys on the
    * token STRINGS (bigrams on the exact "w1 w2" concatenation the
    * relational formulation joined on), so the result is byte-equal to
    * the explode → count → join → least() pipeline it replaces — while
    * never materializing the corpus × grams stream, its two shuffles,
    * or the gram-keyed join. */
  def bleuClip(cand: Column, ref: Column): Column =
    Kernels.bleuClip(Seq(cand, ref))

  /** DSIR importance score (Xie et al., NeurIPS'23 "Data Selection
    * for Language Models via Importance Resampling"): the document's
    * hashed-token counts dotted with a `dim`-bucket log-likelihood-
    * ratio table, computed in one pass over the words array without
    * materializing the count vector. `llr` is nano-nat-quantized
    * BIGINTs (the q_entropy discipline), so the score is an exact
    * integer and the oracle replay is order-independent. */
  def dsirScore(words: Column, llr: Column, dim: Int): Column =
    Kernels.dsirScore(Seq(words, llr), dim)
}

/** Parse the non-ISO date families (shapes 1-13 of
  * [[NativeText.dateShape]]) in one native call. The Column cascade
  * this replaces (kept in the tests as `DateCascade.permissiveTimestamp`,
  * the executable spec EnrichSpec pins parity against) generated
  * 15-20 KB of bytecode PER USE (two uses per enrich pipeline), blowing
  * every fused span past the 8 KB JIT ceiling; this call is ~40 bytes.
  * ISO forms stay on Spark's own `try_cast(… AS TIMESTAMP)` in front of
  * it, so cast semantics are untouched. `runYear` pins dateutil's
  * two-digit-year window at plan build; the session time zone arrives
  * via the standard TimeZoneAwareExpression resolution. Hand-written
  * rather than a declared [[Kernel]]: the zone is resolved per
  * expression, and the kernel's boxed `Long` result is null for an
  * unparsed value, which a primitive binding would unbox. */
case class ShapedDateExpr(child: Expression, runYear: Int,
    timeZoneId: Option[String] = None)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.TimeZoneAwareExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shaped_date needs string, got ${other.catalogString}")
  }
  override def withTimeZone(timeZoneId: String): ShapedDateExpr =
    copy(timeZoneId = Some(timeZoneId))
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override def prettyName: String = "shaped_date"
  protected override def nullSafeEval(c: Any): Any =
    MinhashKernel.parseShapedDate(c.asInstanceOf[UTF8String], runYear, zoneId)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val zoneRef = ctx.addReferenceObj("zoneId", zoneId, "java.time.ZoneId")
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long r = graft.functions.MinhashKernel.parseShapedDate(
        $c, $runYear, $zoneRef);
      if (r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = r.longValue(); }""")
  }
  override protected def withNewChildInternal(newChild: Expression): ShapedDateExpr =
    copy(child = newChild)
}

/** The per-document kernels. Static methods so generated code calls
  * them directly; primitive arrays and while-loops so HotSpot JITs
  * them into the same machine code a hand-rolled native engine would
  * get. */
object MinhashKernel {

  /** Universal-hash modulus; fits in 31 bits so a*h + b stays well
    * inside a positive Long (a, h < P ⇒ a*h < 2^62). */
  val P: Long = 1000000007L
  val NumHashes = 64

  /** Deterministic (a_k, b_k) parameters, seeded — no runtime RNG.
    * Kept identical to the historical TextDedup parameters so the
    * aggregate formulation and this kernel describe the same hash
    * family. */
  val perms: IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(424242L)
    IndexedSeq.fill(NumHashes)((rnd.nextLong(P - 1) + 1, rnd.nextLong(P)))
  }
  private val permA: Array[Long] = perms.map(_._1).toArray
  private val permB: Array[Long] = perms.map(_._2).toArray

  private val XxSeed = 42L
  private val FnvPrime = 0x100000001b3L

  /** splitmix64 finalizer — avalanches the rolling shingle combine so
    * universal-hash minima aren't biased by the weak fold. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** MinHash signature over the n-word shingles of `words`; empty
    * array when fewer than n words. One pass, no allocation beyond the
    * two primitive arrays. */
  def sig(words: ArrayData, n: Int): ArrayData = {
    val m = words.numElements()
    if (m < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val wh = new Array[Long](m)
    var i = 0
    while (i < m) {
      wh(i) = XXH64.hashUTF8String(words.getUTF8String(i), XxSeed)
      i += 1
    }
    val mins = new Array[Long](NumHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    i = 0
    val last = m - n
    while (i <= last) {
      var acc = wh(i)
      var j = 1
      while (j < n) { acc = acc * FnvPrime ^ wh(i + j); j += 1 }
      val hm = java.lang.Long.remainderUnsigned(mix64(acc), P)
      var k = 0
      while (k < NumHashes) {
        val v = (permA(k) * hm + permB(k)) % P
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Distinct rolling shingle hashes, insertion-ordered for
    * determinism. Same per-shingle value as the [[sig]] base hash. */
  def shingleHashes(words: ArrayData, n: Int): ArrayData = {
    val m = words.numElements()
    if (m < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val wh = new Array[Long](m)
    var i = 0
    while (i < m) {
      wh(i) = XXH64.hashUTF8String(words.getUTF8String(i), XxSeed)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    val last = m - n
    while (i <= last) {
      var acc = wh(i)
      var j = 1
      while (j < n) { acc = acc * FnvPrime ^ wh(i + j); j += 1 }
      seen.add(mix64(acc))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private val Space = UTF8String.fromString(" ")

  /** Distinct space-joined n-word windows, first-occurrence order.
    * `UTF8String.concatWs` is the `concat_ws` kernel itself (null
    * inputs skipped, a fresh byte array per window), so every shingle
    * is byte-equal to the Column formulation's and owns its bytes. */
  def shingles(words: ArrayData, n: Int): ArrayData = {
    val m = words.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val w = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      w(i) = if (words.isNullAt(i)) null else words.getUTF8String(i)
      i += 1
    }
    val window = new Array[UTF8String](n)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    i = 0
    val last = m - n
    while (i <= last) {
      System.arraycopy(w, i, window, 0, n)
      seen.add(UTF8String.concatWs(Space, window: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  // --- scientific-name parse -------------------------------------------

  private def isJavaWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Java `split("\\s+", -1)` semantics over ASCII whitespace: leading
    * separator yields a leading empty token, trailing likewise. */
  private def splitWs(s: UTF8String): Array[UTF8String] = {
    val b = s.getBytes
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var i = 0
    while (i <= b.length) {
      val start = i
      while (i < b.length && !isJavaWs(b(i))) i += 1
      out += UTF8String.fromBytes(b, start, i - start)
      if (i == b.length) return out.toArray
      while (i < b.length && isJavaWs(b(i))) i += 1
      if (i == b.length) { // trailing separator keeps "" (limit -1)
        out += UTF8String.EMPTY_UTF8
        return out.toArray
      }
    }
    out.toArray
  }

  /** ^[a-z][a-z0-9-]+$ as a byte loop (pure-ASCII classes: any
    * multibyte char fails the class exactly like the regex). */
  private def isWord(t: UTF8String): Boolean = {
    val b = t.getBytes
    if (b.length < 2) return false
    if (b(0) < 'a' || b(0) > 'z') return false
    var i = 1
    while (i < b.length) {
      val c = b(i)
      val ok = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '-'
      if (!ok) return false
      i += 1
    }
    true
  }

  private val RankMarkers: Array[UTF8String] =
    Array("var", "subsp", "ssp", "f", "cf", "aff", "sp", "spp", "x")
      .map(UTF8String.fromString)

  // hybrid markers: the lowercased letter form and the real sign
  private val HybridX = UTF8String.fromString("x")
  private val HybridSign = UTF8String.fromString("×")
  private def isHybridTok(t: UTF8String): Boolean =
    t != null && (t.equals(HybridX) || t.equals(HybridSign))

  /** First plausible authorship year in a token: strip surrounding
    * bracket/punctuation bytes, require exactly four digits in
    * [1500, 2099]; -1 when the token is not a year. */
  private def yearOf(t: UTF8String): Int = {
    val b = t.getBytes
    var s = 0; var e = b.length
    def p(c: Byte) = c == '(' || c == ')' || c == '[' || c == ']' ||
      c == ',' || c == '.' || c == ';' || c == ':'
    while (s < e && p(b(s))) s += 1
    while (e > s && p(b(e - 1))) e -= 1
    if (e - s != 4 || !allDigits(b, s, e)) return -1
    val v = (b(s) - '0') * 1000 + (b(s + 1) - '0') * 100 +
      (b(s + 2) - '0') * 10 + (b(s + 3) - '0')
    if (v >= 1500 && v <= 2099) v else -1
  }

  /** Rank marker with an optional trailing dot ("var" / "var."). */
  private def isMarkerTok(t: UTF8String): Boolean = {
    if (t == null) return false
    val b = t.getBytes
    val core =
      if (b.length >= 2 && b(b.length - 1) == '.')
        UTF8String.fromBytes(b, 0, b.length - 1)
      else t
    RankMarkers.exists(_.equals(core))
  }

  private def isParenGroup(t: UTF8String): Boolean =
    t != null && t.numBytes() >= 2 && {
      val b = t.getBytes
      b(0) == '(' && b(b.length - 1) == ')'
    }

  /** Authorship connector words skipped between author names — the
    * small botanical/zoological linking vocabulary ("smith ex jones",
    * "smith & jones"). */
  private val Connectors: Array[UTF8String] =
    Array("and", "et", "ex", "in", "apud", "non", "&")
      .map(UTF8String.fromString)

  /** Author-token normalization: drop grouping/separator punctuation
    * anywhere in the token (keeps dots and hyphens — initials like
    * "l." and compound names survive); null when nothing remains, the
    * token is a connector, or it is all digits (years and stray
    * numerals are not author names). */
  private def cleanAuthorTok(t: UTF8String): UTF8String = {
    val b = t.getBytes
    val out = new Array[Byte](b.length)
    var i = 0; var o = 0; var digits = 0
    while (i < b.length) {
      val c = b(i)
      val drop = c == '(' || c == ')' || c == '[' || c == ']' ||
        c == ',' || c == ';' || c == ':'
      if (!drop) { out(o) = c; if (c >= '0' && c <= '9') digits += 1; o += 1 }
      i += 1
    }
    if (o == 0 || digits == o) return null
    val s = UTF8String.fromBytes(out, 0, o)
    if (Connectors.exists(_.equals(s))) null else s
  }

  /** Grabbers.parseSciName semantics in one pass (parity spec pins
    * them): whitespace split of the trimmed name, plain-word genus,
    * parenthesized-subgenus skip, rank-marker exclusion; null parts
    * when the respective shape doesn't parse.
    *
    * Structured authorship (gnparser-shaped, the detail level of the
    * reference's socket parser response that conversions.py:745-768
    * consumed only genus/species from): the authorship TAIL starts at
    * the first token after the genus that is neither a plain name word
    * nor a rank marker nor a hybrid sign (nor, directly after the
    * genus, a parenthesized subgenus) — with lowercased input the
    * surviving authorship signal is punctuation, so an unpunctuated
    * lowercase author ("aus bus smith") is indistinguishable from an
    * infraspecific epithet and stays name-side (documented
    * divergence; gnparser sees the original capitals). A leading
    * parenthesized group is the basionym (original-combination)
    * authorship, everything after it the combination authorship;
    * connector words, years, and stray numerals are dropped from both
    * groups, initials keep their dots. Empty groups are null. */
  def sciParse(sci: UTF8String)
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val toks = splitWs(sci.trim())
    // a leading hybrid marker ("× sorbaronia fallax") prefixes the whole
    // name — shift the genus/epithet window one token right
    val off = if (toks.length >= 1 && isHybridTok(toks(0))) 1 else 0
    val t1 = if (toks.length >= off + 1) toks(off) else null
    val genus: UTF8String = if (t1 != null && isWord(t1)) t1 else null
    val t2: UTF8String = if (toks.length >= off + 2) toks(off + 1) else null
    val isParen = isParenGroup(t2)
    // skip a parenthesized subgenus OR an infix hybrid marker
    // ("salix × sepulcralis" — a named hybrid keeps genus + epithet)
    val cand: UTF8String =
      if (isParen || isHybridTok(t2))
        (if (toks.length >= off + 3) toks(off + 2) else null)
      else t2
    val isMarker = cand != null && RankMarkers.exists(_.equals(cand))
    val epithet: UTF8String =
      if (genus != null && cand != null && isWord(cand) && !isMarker) cand
      else null
    // authorship year: first punctuation-stripped 4-digit token in range
    var year: Any = null
    var i = 0
    while (i < toks.length && year == null) {
      val y = yearOf(toks(i))
      if (y > 0) year = y
      i += 1
    }
    // authorship tail: first non-name token after the genus window
    var tailStart = -1
    if (genus != null) {
      var j = off + 1
      while (tailStart < 0 && j < toks.length) {
        val t = toks(j)
        val nameTok = isWord(t) || isMarkerTok(t) || isHybridTok(t) ||
          (j == off + 1 && isParenGroup(t))
        if (!nameTok) tailStart = j
        j += 1
      }
    }
    var basionym: Any = null
    var combination: Any = null
    if (tailStart >= 0) {
      val first = toks(tailStart)
      var combStart = tailStart
      if (first.numBytes() >= 1 && first.getBytes()(0) == '(') {
        // basionym group: up to and including the first ')'-terminated
        // token; an unclosed paren swallows the rest of the tail
        var close = -1
        var k = tailStart
        while (close < 0 && k < toks.length) {
          val b = toks(k).getBytes
          if (b.length >= 1 && b(b.length - 1) == ')') close = k
          k += 1
        }
        val end = if (close >= 0) close else toks.length - 1
        val bas = toks.slice(tailStart, end + 1).flatMap(t => Option(cleanAuthorTok(t)))
        if (bas.nonEmpty) basionym =
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            bas.asInstanceOf[Array[Any]])
        combStart = end + 1
      }
      val comb = toks.slice(combStart, toks.length)
        .flatMap(t => Option(cleanAuthorTok(t)))
      if (comb.nonEmpty) combination =
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          comb.asInstanceOf[Array[Any]])
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](genus, epithet, year, basionym, combination))
  }

  // --- date-format shape classifier ------------------------------------

  private def allDigits(b: Array[Byte], from: Int, to: Int): Boolean = {
    if (to <= from) return false
    var i = from
    while (i < to) { if (b(i) < '0' || b(i) > '9') return false; i += 1 }
    true
  }
  private def allUpper(b: Array[Byte], from: Int, to: Int): Boolean = {
    if (to <= from) return false
    var i = from
    while (i < to) { if (b(i) < 'A' || b(i) > 'Z') return false; i += 1 }
    true
  }

  /** Shape id of the non-ISO date families the permissive-timestamp
    * cascade gates on (0 = none; see NativeText.dateShape). Each case
    * replicates one anchored regex exactly — pinned by a property
    * spec against the original patterns. */
  def dateShape(c: UTF8String): Int = {
    val b = c.getBytes
    val n = b.length
    var i = 0
    while (i < n) { if (b(i) < 0) return 0; i += 1 }

    def split3(sep: Byte): Array[Int] = { // (s0,e0,s1,e1,s2,e2) or null
      var p1 = -1; var p2 = -1
      var i = 0
      while (i < n) {
        if (b(i) == sep) {
          if (p1 < 0) p1 = i
          else if (p2 < 0) p2 = i
          else return null // more than two separators
        }
        i += 1
      }
      if (p2 < 0) null else Array(0, p1, p1 + 1, p2, p2 + 1, n)
    }
    def dig(s: Int, e: Int, min: Int, max: Int) =
      (e - s) >= min && (e - s) <= max && allDigits(b, s, e)
    def up(s: Int, e: Int, min: Int, max: Int) =
      (e - s) >= min && (e - s) <= max && allUpper(b, s, e)
    // "1ST".."31TH": 1-2 digits + an uppercase English ordinal suffix
    def ordDay(s: Int, e: Int): Boolean = {
      if (e - s < 3 || e - s > 4 || !allDigits(b, s, e - 2)) return false
      val c0 = b(e - 2); val c1 = b(e - 1)
      (c0 == 'S' && c1 == 'T') || (c0 == 'N' && c1 == 'D') ||
      (c0 == 'R' && c1 == 'D') || (c0 == 'T' && c1 == 'H')
    }

    // "\d{1,2}:\d{1,2}(:\d{1,2})?( ?[AP]M?)?" over [s, e0) — the
    // meridiem may be the bare letter ("9:30 A" / "9:30P"): dateutil's
    // lexer splits at the letter boundary and applies A/P to the hour
    // exactly like AM/PM; minutes and seconds may be 1-digit ("3:5 PM"
    // → 15:05, probed — dateutil's tokenizer has no width minimum)
    def timeTail(s: Int, e0: Int): Boolean = {
      var e = e0
      if (e - s >= 2 && b(e - 1) == 'M' && (b(e - 2) == 'A' || b(e - 2) == 'P')) {
        e -= 2
        if (e > s && b(e - 1) == ' ') e -= 1
      } else if (e - s >= 2 && (b(e - 1) == 'A' || b(e - 1) == 'P')) {
        e -= 1
        if (e > s && b(e - 1) == ' ') e -= 1
      }
      var j = s
      while (j < e && b(j) != ':') j += 1
      if (!dig(s, j, 1, 2)) return false
      var q = j + 1
      while (q < e && b(q) >= '0' && b(q) <= '9') q += 1
      if (!dig(j + 1, q, 1, 2)) return false
      if (q == e) return true
      if (b(q) != ':') return false
      var r = q + 1
      while (r < e && b(r) >= '0' && b(r) <= '9') r += 1
      r == e && dig(q + 1, r, 1, 2)
    }

    // "\d{1,2}:\d{1,2}(:\d{1,2})?(\.\d+)?" over [s, e) — 1-digit
    // minutes/seconds accepted ("1:2" → 01:02, probed); the fraction
    // needs ≥ 1 digit ("9:30." stays unparsed)
    def timeIsoTail(s: Int, e: Int): Boolean = {
      var j = s
      while (j < e && b(j) != ':') j += 1
      if (!dig(s, j, 1, 2)) return false
      var p = j + 1
      var q = p
      while (q < e && b(q) >= '0' && b(q) <= '9') q += 1
      if (!dig(p, q, 1, 2)) return false
      p = q
      if (p < e && b(p) == ':') {
        q = p + 1
        var r = q
        while (r < e && b(r) >= '0' && b(r) <= '9') r += 1
        if (!dig(q, r, 1, 2)) return false
        p = r
      }
      if (p == e) return true
      b(p) == '.' && p + 1 < e && allDigits(b, p + 1, e)
    }
    // "^\d{4}-\d{1,2}-\d{1,2}[T ]\d{1,2}:\d{2}(:\d{2})?(\.\d+)?$" over
    // [from, to) — an ISO datetime WITH a clock (the time-bearing core
    // shapes 13 and 15 both require)
    def isoDateTime(from: Int, to: Int): Boolean = {
      if (to - from < 5 || !allDigits(b, from, from + 4) ||
        b(from + 4) != '-') return false
      var j = from + 5
      while (j < to && b(j) != '-') j += 1
      if (!dig(from + 5, j, 1, 2)) return false
      var k = j + 1
      while (k < to && b(k) != 'T' && b(k) != ' ') k += 1
      if (!dig(j + 1, k, 1, 2) || k >= to) return false
      timeIsoTail(k + 1, to)
    }
    // 13: "^\d{4}-\d{1,2}-\d{1,2}[T ]\d{1,2}:\d{2}(:\d{2})?(\.\d+)? (UTC|GMT)$"
    def isoZoneSuffix(): Boolean = {
      if (n < 15 || b(n - 4) != ' ') return false
      val utc = b(n - 3) == 'U' && b(n - 2) == 'T' && b(n - 1) == 'C'
      val gmt = b(n - 3) == 'G' && b(n - 2) == 'M' && b(n - 1) == 'T'
      (utc || gmt) && isoDateTime(0, n - 4)
    }
    // 15: time-bearing value + a 1-5 letter uppercase zone NAME, spaced
    // ("… 12:30:15 EST") or ATTACHED to the clock ("… 12:30:15EST") —
    // dateutil's lexer splits at the letter boundary either way,
    // identifies the token as a tzname it cannot resolve and returns
    // the NAIVE parse (the reference then pins naive values to UTC,
    // conversions.py:592-598), so the name is semantically ignored.
    // Exact "A"/"P"/"AM"/"PM" are clock markers, not zone names
    // (dateutil applies them to the hour — shape 16 / the 12/14 time
    // tails), but LONGER runs that merely start with them ("PMEST")
    // are a single unknown-tzname token, swallowing the meridiem —
    // reproduced by stripping the whole run. The zone only attaches to
    // a parsed TIME: the prefix must be an ISO datetime with a clock
    // or itself classify 12, 14 or 16. A prefix that already carries a
    // zone (13/15) makes a DOUBLE zone, which is a dateutil
    // ParserError → shape 0, not a nested strip.
    // a clock-bearing prefix for the zone/meridiem/offset suffixes: an
    // ISO datetime with a clock, or a BARE clock (dateutil's default
    // fills the missing date with year-1 Jan 1 — "12:30:15 EST" is
    // 0001-01-01T12:30:15, probed). A bare clock may carry a leading
    // ISO 'T' ("T12:30" — dateutil parses it as the same default-date
    // clock, probed; without this claim the string would fall through
    // to Spark's cast, which anchors time-only strings to the CURRENT
    // date — a nondeterministic result, r11).
    def clockPrefix(pe: Int): Boolean =
      isoDateTime(0, pe) || timeIsoTail(0, pe) ||
        (pe > 1 && b(0) == 'T' && timeIsoTail(1, pe))
    // the date+clock shapes whose values can stand before a zone /
    // meridiem / offset suffix (12/14/16 legacy; 24/25/26 the r11
    // compact-T and flex-permutation families — "05 JAN 1999 12:30:15
    // GMT", "01-05-1999 12:30:15 EST", "19990105T1230 EST", probed)
    def clockSub(i: Int): Boolean =
      i == 12 || i == 14 || i == 16 || i == 24 || i == 25 || i == 26
    // a shape-24 prefix can take a suffix only when actual clock
    // digits follow its 'T' — "19970704T BLURG" is a dateutil
    // ParserError (the zone needs a TIME; probed r11)
    def subOk(sub: Int, pe: Int): Boolean =
      if (sub != 24) clockSub(sub)
      else {
        var t = 8
        if (t < pe && b(t) == ' ') t += 1
        t < pe && b(t) == 'T' && t + 1 < pe &&
          b(t + 1) >= '0' && b(t + 1) <= '9'
      }
    def tzNameSuffix(): Boolean = {
      var st = n
      while (st > 0 && b(st - 1) >= 'A' && b(st - 1) <= 'Z') st -= 1
      val len = n - st
      if (len < 1 || len > 5 || st == 0) return false
      val spaced = b(st - 1) == ' '
      if (!spaced && !(b(st - 1) >= '0' && b(st - 1) <= '9')) return false
      if (len == 1 && (b(st) == 'A' || b(st) == 'P')) return false
      if (len == 2 && (b(st) == 'A' || b(st) == 'P') && b(st + 1) == 'M')
        return false
      val pe = if (spaced) st - 1 else st
      if (pe <= 0) return false
      if (clockPrefix(pe)) return true
      subOk(dateShape(UTF8String.fromBytes(b, 0, pe)), pe)
    }
    // 16: clock-bearing value + a meridiem token (A/P/AM/PM, spaced or
    // attached): dateutil applies the token to the hour (12 AM → 00,
    // 12 PM stays, 00 PM → 12; hour > 12 with a meridiem is a
    // ParserError — validated at parse). Month-name and slash-date
    // prefixes take the same tokens through the 12/14 time tails.
    def meridiemSuffix(): Boolean = {
      var e = n
      if (e > 0 && b(e - 1) == 'M') e -= 1
      if (e > 0 && (b(e - 1) == 'A' || b(e - 1) == 'P')) e -= 1
      else return false
      if (e > 0 && b(e - 1) == ' ') e -= 1
      e > 0 && clockPrefix(e)
    }
    // 18: clock-bearing value + zone name + POSIX-style offset
    // ("12:30:15 GMT+5", attached "…15GMT+5", "EST+5", "Z+5" — the
    // name is irrelevant, probed): dateutil's tzstr INVERTS the sign
    // (GMT+5 → UTC−5 → the UTC instant is naive + 5h). Offset hour(s)
    // then optional :minutes; total must stay under 24h (GMT+24 is a
    // ValueError). Prefix rules mirror shape 15 (double zone =
    // ParserError).
    def offsetZoneSuffix(): Boolean = {
      var p = n
      while (p > 0 && b(p - 1) >= '0' && b(p - 1) <= '9') p -= 1
      if (p == n || n - p > 2) return false // 1-2 trailing digits
      var q = p
      if (q > 0 && b(q - 1) == ':') { // optional :mm — hours before
        q -= 1
        var h = q
        while (h > 0 && b(h - 1) >= '0' && b(h - 1) <= '9') h -= 1
        if (h == q || q - h > 2) return false
        q = h
      }
      if (q == 0 || (b(q - 1) != '+' && b(q - 1) != '-')) return false
      var st = q - 1
      while (st > 0 && b(st - 1) >= 'A' && b(st - 1) <= 'Z') st -= 1
      val len = q - 1 - st
      if (len < 1 || len > 5 || st == 0) return false
      // exact A/P/AM/PM before the offset is a MERIDIEM, not a tzstr
      // name: "9:30PM+5" is 21:30 at tzoffset(+5), no POSIX inversion
      // (probed) — that's shape 20's claim; longer runs that merely
      // start with them ("PMEST+5") stay tzstr names
      if (len == 1 && (b(st) == 'A' || b(st) == 'P')) return false
      if (len == 2 && (b(st) == 'A' || b(st) == 'P') && b(st + 1) == 'M')
        return false
      val spaced = b(st - 1) == ' '
      if (!spaced && !(b(st - 1) >= '0' && b(st - 1) <= '9')) return false
      val pe = if (spaced) st - 1 else st
      if (pe <= 0) return false
      if (clockPrefix(pe)) return true
      subOk(dateShape(UTF8String.fromBytes(b, 0, pe)), pe)
    }

    // 19: clock-bearing value + zone NAME + SPACE-separated signed
    // offset ("… 10:00 GMT +5", "… 10:00 EST +0500"): dateutil
    // consumes the orphan offset token — DROPPED after a UTC-equivalent
    // name (UTC/GMT/Z: the zone stays UTC, probed) and REPLACING the
    // zone's offset with the AS-WRITTEN sign after any other name
    // (tzoffset('EST', +5h), probed; parse semantics in
    // parseShapedDate). Name rules mirror shape 15 (1-5 letters,
    // spaced or attached to the clock, meridiem tokens excluded); the
    // offset is H{1,2}, H{1,2}:M{1,2} or HHMM; a spaced sign
    // ("GMT + 5") is a dateutil ParserError → 0.
    def spacedOffsetZoneSuffix(): Boolean = {
      var p = n
      while (p > 0 && b(p - 1) >= '0' && b(p - 1) <= '9') p -= 1
      val dlen = n - p
      if (dlen == 0) return false
      var q = p
      if (dlen <= 2 && q > 0 && b(q - 1) == ':') { // H{1,2}:M{1,2}
        q -= 1
        var h = q
        while (h > 0 && b(h - 1) >= '0' && b(h - 1) <= '9') h -= 1
        if (!dig(h, q, 1, 2)) return false
        q = h
      } else if (dlen != 4 && dlen > 2) return false // else H{1,2} or HHMM
      if (q == 0 || (b(q - 1) != '+' && b(q - 1) != '-')) return false
      if (q - 1 == 0 || b(q - 2) != ' ') return false // offset is SPACED
      var st = q - 2
      while (st > 0 && b(st - 1) >= 'A' && b(st - 1) <= 'Z') st -= 1
      val len = q - 2 - st
      if (len < 1 || len > 5 || st == 0) return false
      if (len == 1 && (b(st) == 'A' || b(st) == 'P')) return false
      if (len == 2 && (b(st) == 'A' || b(st) == 'P') && b(st + 1) == 'M')
        return false
      val spaced = b(st - 1) == ' '
      if (!spaced && !(b(st - 1) >= '0' && b(st - 1) <= '9')) return false
      val pe = if (spaced) st - 1 else st
      if (pe <= 0) return false
      if (clockPrefix(pe)) return true
      subOk(dateShape(UTF8String.fromBytes(b, 0, pe)), pe)
    }

    // ISO+UTC/GMT first (13 claims it before the generic zone-name
    // suffix), then name+offset zones (18 attached, 19 spaced),
    // zone-name datetimes (15), ISO+meridiem (16) — all BEFORE the
    // separator families, whose early returns would otherwise swallow
    // "1/2/2014 3:15 PM EST". Bare clocks (17) come last of the time
    // family: 15/16/18/19 all accept a bare-clock prefix plus their
    // suffix.
    // 20: clock-bearing value + BARE signed offset, no zone name —
    // spaced or attached, meridiem prefixes included ("12:30:15 +5",
    // "2014-01-10 12:30:15+5", "9:30 PM +5", "9:30PM+5",
    // "12:30:15 -0500"): dateutil builds tzoffset(None, as-written) —
    // NO POSIX inversion — and a meridiem before the offset applies to
    // the hour first (probed). Offset is H{1,2}, H{1,2}:M{1,2} or
    // HHMM; < 24 h; a spaced sign or a 3-digit offset is a
    // ParserError → 0. Also claims full ISO datetimes with attached
    // ±H/±HH:MM/±HHMM offsets (value-identical to Spark's cast where
    // the cast accepts them; the cast alone rejects "+5").
    def bareOffsetSuffix(): Boolean = {
      var p = n
      while (p > 0 && b(p - 1) >= '0' && b(p - 1) <= '9') p -= 1
      val dlen = n - p
      if (dlen == 0) return false
      var q = p
      if (dlen <= 2 && q > 0 && b(q - 1) == ':') { // H{1,2}:M{1,2}
        q -= 1
        var h = q
        while (h > 0 && b(h - 1) >= '0' && b(h - 1) <= '9') h -= 1
        if (!dig(h, q, 1, 2)) return false
        q = h
      } else if (dlen != 4 && dlen > 2) return false // else H{1,2} or HHMM
      if (q == 0 || (b(q - 1) != '+' && b(q - 1) != '-')) return false
      val sp = q - 1
      if (sp == 0) return false
      val pe = if (b(sp - 1) == ' ') sp - 1 else sp
      if (pe <= 0) return false
      if (clockPrefix(pe)) return true
      subOk(dateShape(UTF8String.fromBytes(b, 0, pe)), pe)
    }

    if (isoZoneSuffix()) return 13
    if (offsetZoneSuffix()) return 18
    if (spacedOffsetZoneSuffix()) return 19
    if (bareOffsetSuffix()) return 20
    if (tzNameSuffix()) return 15
    if (meridiemSuffix()) return 16
    // a bare clock, optionally with ISO's leading 'T' ("T12:30" —
    // dateutil default-date parse; Spark's cast would anchor it to the
    // CURRENT date, nondeterministically, so the kernel must claim it)
    if (timeIsoTail(0, n)) return 17
    if (n > 1 && b(0) == 'T' && timeIsoTail(1, n)) return 17
    // ISO datetime whose clock carries a MINUTE fraction ("2014-01-10
    // 9:30.5"): plain ISO stays shape 0 (Spark's cast parses it
    // directly), but the cast rejects minute fractions, so exactly
    // these claim the clock-core parse (dateutil: second = int(60·frac))
    def isoMinuteFrac(): Boolean = {
      if (!isoDateTime(0, n)) return false
      var cs = -1
      var j = 5
      while (j < n && cs < 0) {
        if (b(j) == 'T' || b(j) == ' ') cs = j + 1
        j += 1
      }
      var colons = 0; var dot = false
      j = cs
      while (j < n) {
        if (b(j) == ':') colons += 1
        else if (b(j) == '.') dot = true
        j += 1
      }
      colons == 1 && dot
    }
    if (isoMinuteFrac()) return 17
    // fast path: a plain ISO datetime (no minute fraction) is the
    // overwhelmingly common real input and is the cast's territory —
    // return before the family scans and the flex tokenizer run
    if (isoDateTime(0, n)) return 0

    val slash = split3('/')
    if (slash != null) {
      if (dig(slash(0), slash(1), 4, 4) && dig(slash(2), slash(3), 1, 2) &&
        dig(slash(4), slash(5), 1, 2)) return 1
      if (dig(slash(0), slash(1), 1, 2) && dig(slash(2), slash(3), 1, 2)) {
        if (dig(slash(4), slash(5), 4, 4)) return 2
        // "^\d{1,2}/\d{1,2}/\d{2}$" — two-digit year ("1/2/34")
        if (dig(slash(4), slash(5), 2, 2)) return 11
        // 14: "^\d{1,2}/\d{1,2}/\d{4} \d{1,2}:\d{2}(:\d{2})?( ?[AP]M)?$"
        val ys = slash(4); val ye = ys + 4
        if (slash(5) - ys > 5 && allDigits(b, ys, ye) && b(ye) == ' ' &&
          timeTail(ye + 1, n)) return 14
      }
      // slash leftovers (3-digit years "1/2/345", Y/M/D + clock
      // "1999/1/5 12:30", 2-digit-year + clock "13/5/99 12:30", and
      // slash-separated month names "5/MAR/2001" — all dateutil-parsed,
      // probed r11) fall through to the flex classifier
    }
    val dot = split3('.')
    if (dot != null) {
      if (dig(dot(0), dot(1), 4, 4) && dig(dot(2), dot(3), 1, 2) &&
        dig(dot(4), dot(5), 1, 2)) return 3
      // dotted leftovers (M.D.Y "10.01.1999", d.MONTH.y "10.JAN.1999",
      // clock tails "1999.01.05 12:30") fall through to flex
    }
    // space forms: the patterns use literal single spaces
    var sp1 = -1; var sp2 = -1; var spMore = false
    i = 0
    while (i < n) {
      if (b(i) == ' ') {
        if (sp1 < 0) sp1 = i
        else if (sp2 < 0) sp2 = i
        else spMore = true
      }
      i += 1
    }

    // 12: "^[A-Z]{3,9} \d{1,2},? \d{4} \d{1,2}:\d{2}(:\d{2})?( ?[AP]M)?$"
    def monthDayYearTime(): Boolean = {
      if (!up(0, sp1, 3, 9)) return false
      val dayEnd = if (sp2 > sp1 + 1 && b(sp2 - 1) == ',') sp2 - 1 else sp2
      if (!dig(sp1 + 1, dayEnd, 1, 2)) return false
      val ys = sp2 + 1
      if (ys + 4 >= n || !allDigits(b, ys, ys + 4) || b(ys + 4) != ' ')
        return false
      timeTail(ys + 5, n)
    }
    if (sp1 >= 0) {
      if (sp2 >= 0 && monthDayYearTime()) return 12
    }

    if (sp1 >= 0 && !spMore) {
      if (sp2 < 0) { // "^[A-Z]{3,9} \d{4}$"
        if (up(0, sp1, 3, 9) && dig(sp1 + 1, n, 4, 4)) return 6
      } else {
        // "^[A-Z]{3,9} \d{1,2},? \d{4}$" (8 with an ordinal day: "JAN 1ST, 1999")
        if (up(0, sp1, 3, 9) && dig(sp2 + 1, n, 4, 4)) {
          val e = if (sp2 > sp1 + 1 && b(sp2 - 1) == ',') sp2 - 1 else sp2
          if (dig(sp1 + 1, e, 1, 2)) return 4
          if (ordDay(sp1 + 1, e)) return 8
        }
        // "^\d{1,2} [A-Z]{3,9} \d{4}$" (9 with an ordinal day: "1ST MARCH 2001")
        if (up(sp1 + 1, sp2, 3, 9) && dig(sp2 + 1, n, 4, 4)) {
          if (dig(0, sp1, 1, 2)) return 5
          if (ordDay(0, sp1)) return 9
        }
      }
    }
    if (sp1 < 0) {
      // "^\d{1,2}-[A-Z]{3,9}-\d{4}$"
      val dash = split3('-')
      if (dash != null && dig(dash(0), dash(1), 1, 2) &&
        up(dash(2), dash(3), 3, 9) && dig(dash(4), dash(5), 4, 4)) return 7
      // plain ISO date — the cast's territory (fast path, like the
      // datetime form above; the flex classifier would also exclude
      // it, but only after a full tokenizer run)
      if (dash != null && dig(dash(0), dash(1), 4, 4) &&
        dig(dash(2), dash(3), 1, 2) && dig(dash(4), dash(5), 1, 2)) return 0
      // "^\d{8}$" — compact yyyyMMdd (dateutil accepts "20140110")
      if (dash == null && dig(0, n, 8, 8)) return 10
    }

    // --- r11 flex families (everything the legacy anchors above did
    // --- not claim; each rule probed against dateutil 2.9) -----------

    // 24: compact yyyyMMdd + ISO 'T' clock — "19990105T123015",
    // "19990105T1230", "19990105T12", the bare "19990105T", a spaced
    // "19990105 T12", a seconds fraction (6-digit clocks only:
    // "…T1230.5" is a ParserError), and an optional meridiem
    // ("19990105T1230 PM"); trailing zone names/offsets are claimed by
    // the suffix shapes through clockSub
    def compactT(): Boolean = {
      if (n < 9 || !allDigits(b, 0, 8)) return false
      var i = 8
      if (b(i) == ' ') i += 1
      if (i >= n || b(i) != 'T') return false
      i += 1
      var cs = i
      while (i < n && b(i) >= '0' && b(i) <= '9') i += 1
      val cd = i - cs
      if (cd != 0 && cd != 2 && cd != 4 && cd != 6) return false
      if (i < n && b(i) == '.') { // seconds fraction: 6-digit clock only
        if (cd != 6) return false
        i += 1
        val fs = i
        while (i < n && b(i) >= '0' && b(i) <= '9') i += 1
        if (i == fs) return false
      }
      if (i == n) return true
      // optional meridiem (clock digits required)
      if (cd < 2) return false
      if (b(i) == ' ') i += 1
      if (i < n && (b(i) == 'A' || b(i) == 'P')) {
        i += 1
        if (i < n && b(i) == 'M') i += 1
      }
      i == n
    }
    if (compactT()) return 24

    // clock tail of the flex shapes: H:M[:S][.frac] with an optional
    // spaced-or-attached meridiem (fraction and meridiem compose:
    // "9:30.5 PM" — the shape-16 rules)
    def flexClock(s: Int, e0: Int): Boolean = {
      var e = e0
      if (e - s >= 2 && b(e - 1) == 'M' && (b(e - 2) == 'A' || b(e - 2) == 'P')) {
        e -= 2
        if (e > s && b(e - 1) == ' ') e -= 1
      } else if (e - s >= 2 && (b(e - 1) == 'A' || b(e - 1) == 'P')) {
        e -= 1
        if (e > s && b(e - 1) == ' ') e -= 1
      }
      s < e && timeIsoTail(s, e)
    }
    // rightmost ' ' or 'T' whose suffix is a clock → packed
    // (dateEnd << 1 | 1); no clock → n << 1
    def flexSplit(): Int = {
      var i = n - 2
      while (i >= 1) {
        if ((b(i) == ' ' || b(i) == 'T') && flexClock(i + 1, n))
          return (i << 1) | 1
        i -= 1
      }
      n << 1
    }
    def isSep(c: Byte): Boolean =
      c == ' ' || c == ',' || c == '.' || c == '-' || c == '/'
    // 22/23/25/26: permutation date families. Tokens over [0, de)
    // separated by runs holding AT MOST one punctuation char (",  " and
    // ". " are fine; "--" and ",," are dateutil ParserErrors — probed).
    // Exactly one 3-9-letter token + up to two 1-4-digit tokens
    // (ordinal days allowed) → month family; exactly three digit
    // tokens over a UNIFORM separator ("01-05.1999" is a ParserError)
    // → numeric family, except leading-4-digit DASH dates, which are
    // Spark-cast ISO territory ("1999-1-5[ 12:30]").
    def flex(de: Int, hasClock: Boolean): Int = {
      var letters = 0; var digits = 0; var bad = false
      var firstLen = -1; var sepChar: Byte = 0; var uniform = true
      var i = 0
      var punct = 0
      while (i < de && isSep(b(i))) { // leading run (",JAN 5 1999" parses)
        if (b(i) != ' ') punct += 1
        i += 1
      }
      if (punct > 1) bad = true
      while (i < de && !bad) {
        val ts = i
        if (b(i) >= '0' && b(i) <= '9') {
          while (i < de && b(i) >= '0' && b(i) <= '9') i += 1
          val dl = i - ts
          // ordinal suffix on a 1-2-digit token ("21ST")
          if (i < de && dl <= 2 && ordDay(ts, math.min(i + 2, de)) &&
            i + 2 <= de) i += 2
          if (dl < 1 || dl > 4) bad = true
          else digits += 1
          if (firstLen < 0) firstLen = dl
        } else if (b(i) >= 'A' && b(i) <= 'Z') {
          while (i < de && b(i) >= 'A' && b(i) <= 'Z') i += 1
          if (i - ts < 3 || i - ts > 9) bad = true
          else letters += 1
          if (firstLen < 0) firstLen = 0
        } else bad = true
        // tokens must be separator-delimited ("JAN5" is a single
        // mixed token here, not JAN + 5 — dateutil's letter/digit
        // lexer split is lunacy this family leaves unparsed)
        if (i < de && !isSep(b(i))) bad = true
        // separator run after the token
        punct = 0
        var sc: Byte = ' '
        var any = false
        while (i < de && isSep(b(i))) {
          if (b(i) != ' ') { punct += 1; sc = b(i) }
          any = true
          i += 1
        }
        if (punct > 1) bad = true
        if (any && i < de) { // internal separator
          if (sepChar == 0) sepChar = sc
          else if (sepChar != sc) uniform = false
        }
      }
      if (bad) return 0
      if (letters == 1 && digits <= 2 && letters + digits >= 1)
        return if (hasClock) 25 else 22
      // comma-separated numeric triples are EXCLUDED: dateutil reads
      // "01,05,1999" through its decimal-comma tokenizer (→ Jan 1, not
      // Jan 5) — that lunacy stays unparsed here (null), documented
      if (letters == 0 && digits == 3 && uniform &&
        sepChar != ',' && !(sepChar == '-' && firstLen == 4))
        return if (hasClock) 26 else 23
      0
    }
    val fs = flexSplit()
    flex(fs >> 1, (fs & 1) == 1)
  }

  // --- decimal-exponent count (decimal_exponent) ----------------------

  /** getExponent (conversions.py:246-251): count of fraction digits when
    * the trimmed string is `^[+-]?[0-9]*\.[0-9]*$`, else 0. Byte-exact
    * restatement of the rlike + regexp_extract Column form; 0 for a
    * null input, like the Column form. */
  def decimalExponent(c: UTF8String): Int = {
    if (c == null) return 0
    val b = c.trim().getBytes
    var i = 0
    if (i < b.length && (b(i) == '+' || b(i) == '-')) i += 1
    while (i < b.length && b(i) >= '0' && b(i) <= '9') i += 1
    if (i >= b.length || b(i) != '.') return 0
    val fs = i + 1
    var j = fs
    while (j < b.length && b(j) >= '0' && b(j) <= '9') j += 1
    if (j != b.length) return 0
    j - fs
  }

  // --- first-number extraction (first_number) -------------------------

  // grabFirstNumber's exact pattern (conversions.py:296-310); same
  // java.util.regex engine Spark's regexp_extract runs on
  private val FirstNumberP = java.util.regex.Pattern.compile(
    "[+-]?[0-9]+(?:[,][0-9]{3})*(?:[\\.][0-9]*)?")

  /** First number in the string, thousands separators stripped; null
    * when no number occurs (regexp_extract's "" no-match result maps to
    * null through the nullif the Column form applied). */
  def firstNumber(c: UTF8String): UTF8String = {
    val m = FirstNumberP.matcher(c.toString)
    if (!m.find()) return null
    UTF8String.fromString(m.group().replace(",", ""))
  }

  // --- shaped-date parsing (ShapedDateExpr) -----------------------------

  private val MonthNum: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    val ab = Array("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG",
      "SEP", "OCT", "NOV", "DEC")
    val full = Array("JANUARY", "FEBRUARY", "MARCH", "APRIL", "MAY", "JUNE",
      "JULY", "AUGUST", "SEPTEMBER", "OCTOBER", "NOVEMBER", "DECEMBER")
    var i = 0
    while (i < 12) { m.put(ab(i), i + 1); m.put(full(i), i + 1); i += 1 }
    m
  }

  private val P12 = java.util.regex.Pattern.compile(
    "^([A-Z]{3,9}) (\\d{1,2}),? (\\d{4}) (\\d{1,2}):(\\d{1,2})(?::(\\d{1,2}))?" +
      "(?: ?([AP])M?)?$")
  private val P14 = java.util.regex.Pattern.compile(
    "^(\\d{1,2})/(\\d{1,2})/(\\d{4}) (\\d{1,2}):(\\d{1,2})(?::(\\d{1,2}))?" +
      "(?: ?([AP])M?)?$")
  // the zone-less clock core (shapes 13/15/17/18/19 prefix and shape
  // 16's base): ISO datetime with clock, or a BARE clock whose missing
  // date defaults to year-1 Jan 1 (dateutil default=datetime(1,1,1));
  // minutes/seconds may be 1-digit (dateutil's tokenizer, probed)
  private val P15 = java.util.regex.Pattern.compile(
    "^(?:(\\d{4})-(\\d{1,2})-(\\d{1,2})[T ]|T)?(\\d{1,2}):(\\d{1,2})(?::(\\d{1,2}))?" +
      "(?:\\.(\\d+))?$")
  // clock core + meridiem token (shape 16): the token may be bare A/P
  // and may attach directly to the clock
  private val P16 = java.util.regex.Pattern.compile(
    "^(?:(\\d{4})-(\\d{1,2})-(\\d{1,2})[T ]|T)?(\\d{1,2}):(\\d{1,2})(?::(\\d{1,2}))?" +
      "(?:\\.(\\d+))? ?([AP])M?$")
  // trailing zone-name + POSIX offset of shape 18: " GMT+5", ":30"
  // minute part optional, name attached or spaced
  private val P18Tail = java.util.regex.Pattern.compile(
    " ?[A-Z]{1,5}([+-])(\\d{1,2})(?::(\\d{1,2}))?$")
  // trailing SPACED offset of shape 19 (" +5", " +5:30", " +0500");
  // the zone name before it is stripped separately
  private val P19Tail = java.util.regex.Pattern.compile(
    " ([+-])(?:(\\d{1,2})(?::(\\d{1,2}))?|(\\d{2})(\\d{2}))$")
  // trailing NAME-LESS offset of shape 20 ("+5", " +5", "+05:00",
  // " -0500") — spaced or attached
  private val P20Tail = java.util.regex.Pattern.compile(
    " ?([+-])(?:(\\d{1,2})(?::(\\d{1,2}))?|(\\d{2})(\\d{2}))$")
  // a '.' that terminates a clock's minutes or seconds group with no
  // fraction digits after it — dateutil's tokenizer swallows the empty
  // fraction ("9:30." ≡ "9:30", also mid-string: "9:30. PM",
  // "2014-01-10 12:30. UTC"; probed). A dot FOLLOWED by digits is a
  // real fraction and a dot after one ("9:30.5.") never matches — that
  // shape is a documented divergence (dateutil misreads the trailing
  // "5." as a DAY token; here it stays unparsed → null).
  private val ClockDot = java.util.regex.Pattern.compile(
    "(\\d{1,2}:\\d{1,2}(?::\\d{1,2})?)[.,](?!\\d)")
  // a ',' between a clock and digits is dateutil's decimal comma
  // ("12:30:15,123" = .123, "12:30,5" = minute fraction — probed r11);
  // rewritten to '.' so every downstream fraction rule applies
  private val ClockComma = java.util.regex.Pattern.compile(
    "(\\d{1,2}:\\d{1,2}(?::\\d{1,2})?),(?=\\d)")

  /** Strip empty clock fractions before shape classification — TWO
    * replaceAll passes, exactly mirroring the Column spec's two
    * regexp_replace calls ("9:30.." needs the second; three or more
    * trailing dots stay unparsed on both sides). Gated on a cheap
    * dot-followed-by-nondigit byte scan so the regex never runs on the
    * overwhelmingly dot-free (or real-fraction) majority. */
  private def stripClockDots(c: UTF8String): UTF8String = {
    val b = c.getBytes
    val n = b.length
    var i = 0
    var hit = false
    var colon = false
    while (i < n && !hit) {
      if (b(i) == ':') colon = true
      else if (b(i) == '.' && (i + 1 == n || b(i + 1) < '0' || b(i + 1) > '9'))
        hit = true
      // a comma can only be a clock comma after "H:M" — the colon
      // gate keeps month-name dates ("JAN 5, 1999") off the regex path
      else if (b(i) == ',' && colon && i > 0 &&
        b(i - 1) >= '0' && b(i - 1) <= '9') hit = true
      i += 1
    }
    if (!hit) return c
    val s0 = c.toString
    var s = ClockComma.matcher(s0).replaceAll("$1.")
    s = ClockDot.matcher(s).replaceAll("$1")
    s = ClockDot.matcher(s).replaceAll("$1")
    if (s == s0) c else UTF8String.fromString(s)
  }

  /** dateutil's meridiem-to-24h rule (parser.py _parse): hour > 12
    * with an explicit meridiem is a ParserError (returns -1 here);
    * PM lifts any hour below 12 (00 PM → 12); 12 AM → 00. */
  private def meridiemHour(hh0: Int, ap: String): Int = {
    if (ap == null) return hh0
    if (hh0 > 12) return -1
    if (ap == "P") { if (hh0 != 12) hh0 + 12 else hh0 }
    else { if (hh0 == 12) 0 else hh0 }
  }

  /** LocalDateTime of a P15/P16-style match (optional date groups 1-3,
    * clock groups 4-7). A fraction after SECONDS keeps Spark-cast
    * rules (≤ 9 digits → nanos, else null); a fraction after MINUTES
    * (no seconds group) is dateutil's minute fraction — second =
    * int(60 · frac) with the sub-second remainder DROPPED ("9:30.999"
    * → :59 exactly, no micros; probed). Calendar/clock validation
    * throws to the caller's catch. */
  private def clockCoreOf(m: java.util.regex.Matcher): java.time.LocalDateTime = {
    val frac = m.group(7)
    val y = if (m.group(1) == null) 1 else m.group(1).toInt
    val mo = if (m.group(2) == null) 1 else m.group(2).toInt
    val d = if (m.group(3) == null) 1 else m.group(3).toInt
    if (frac != null && m.group(6) == null)
      return java.time.LocalDateTime.of(y, mo, d, m.group(4).toInt,
        m.group(5).toInt, (("0." + frac).toDouble * 60).toInt, 0)
    if (frac != null && frac.length > 9) return null
    val nanos = if (frac == null) 0 else (frac + "0" * (9 - frac.length)).toInt
    val ss = if (m.group(6) == null) 0 else m.group(6).toInt
    java.time.LocalDateTime.of(y, mo, d,
      m.group(4).toInt, m.group(5).toInt, ss, nanos)
  }

  /** Parse the naive prefix left after stripping a zone-name (15) or
    * zone-offset (18) suffix: a 12/14/16/17-shaped prefix recurses,
    * anything else must be the (optional-date) clock core. */
  private def naivePrefixMicros(base: String, runYear: Int,
      zone: java.time.ZoneId): java.lang.Long = {
    val bu = UTF8String.fromString(base)
    val sub = dateShape(bu)
    if (sub == 12 || sub == 14 || sub == 16 || sub == 17 ||
      sub == 24 || sub == 25 || sub == 26)
      return parseShapedDate(bu, runYear, zone)
    val m = P15.matcher(base)
    if (!m.matches()) return null
    val ldt = clockCoreOf(m)
    if (ldt == null) null else microsOf(ldt, zone)
  }

  private def microsOf(ldt: java.time.LocalDateTime,
      zone: java.time.ZoneId): java.lang.Long = {
    val inst = ldt.atZone(zone).toInstant
    java.lang.Long.valueOf(inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
  }

  /** Midnight date. Year 0000 resolves to proleptic year 0 (1 BCE) —
    * Spark's `y` pattern is lenient there, and LocalDate matches it. */
  private def dateMicros(zone: java.time.ZoneId, y: Int, m: Int, d: Int): java.lang.Long =
    microsOf(java.time.LocalDate.of(y, m, d).atStartOfDay(), zone)

  private def monthDateMicros(zone: java.time.ZoneId, monthWord: String,
      d: Int, y: Int): java.lang.Long = {
    val mi = MonthNum.get(monthWord)
    if (mi == null) return null
    dateMicros(zone, y, mi.intValue(), d)
  }

  private def stripOrdinal(tok: String): String =
    if (tok.length >= 3 && !Character.isDigit(tok.charAt(tok.length - 1)))
      tok.substring(0, tok.length - 2)
    else tok

  // --- r11 flex-family parsing (shapes 22-26, weekday prefixes) ------

  private val WeekdayNum: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    val ab = Array("MON", "TUE", "WED", "THU", "FRI", "SAT", "SUN")
    val full = Array("MONDAY", "TUESDAY", "WEDNESDAY", "THURSDAY", "FRIDAY",
      "SATURDAY", "SUNDAY")
    var i = 0
    while (i < 7) { m.put(ab(i), i); m.put(full(i), i); i += 1 }
    m
  }

  /** Leading weekday tokens: dateutil SKIPS them when other content
    * follows ("SUN, 05 JAN 1999" → Jan 5; "MON TUE 5 JAN 1999" parses
    * too — probed), and they adjust a day-less parse (see
    * parseShapedDate). The name must be followed by a comma and/or
    * spaces or end-of-string — "SUNJAN" is a single unknown token, a
    * ParserError. Returns -1 when none, else (firstWeekday << 24 |
    * remainderOffset). Only the exact 3-letter abbreviations and full
    * names resolve ("TUES"/"THURS" are dateutil ParserErrors, probed). */
  private def weekdayPrefix(b: Array[Byte]): Int = {
    var off = 0
    var wd = -1
    var advanced = true
    while (advanced) {
      advanced = false
      var i = off
      while (i < b.length && b(i) >= 'A' && b(i) <= 'Z') i += 1
      val len = i - off
      if (len >= 3 && len <= 9) {
        val w = WeekdayNum.get(
          new String(b, off, len, java.nio.charset.StandardCharsets.US_ASCII))
        if (w != null) {
          var j = i
          var ok = j == b.length
          if (j < b.length && b(j) == ',') { j += 1; ok = true }
          while (j < b.length && b(j) == ' ') { j += 1; ok = true }
          if (ok) {
            if (wd < 0) wd = w.intValue()
            off = j
            advanced = off < b.length
            if (off >= b.length) advanced = false
          }
        }
      }
    }
    if (wd < 0) -1 else (wd << 24) | off
  }

  /** dateutil's convertyear (parser.py): an explicit year below 100
    * lands in the run year's century, then shifts a century toward the
    * run year when >= 50 away ("5 JAN 25" → 2025, "JAN 5, 0000" → 2000
    * — probed); 3+-digit years are literal ("MAY 999" → 0999). */
  private def windowYear(y0: Int, runYear: Int): Int =
    if (y0 >= 100) y0
    else {
      val y = y0 + (runYear / 100) * 100
      if (math.abs(y - runYear) >= 50) {
        if (y < runYear) y + 100 else y - 100
      } else y
    }

  /** month/day with dateutil's auto-swap: (m, d) when valid, else
    * (d, m) ("13/5/1999" → May 13, probed); both invalid throws to the
    * caller's catch → null ("13/13/1999" is a ParserError). */
  private def mdLocalDate(y: Int, m: Int, d: Int): java.time.LocalDate =
    try java.time.LocalDate.of(y, m, d)
    catch { case _: RuntimeException => java.time.LocalDate.of(y, d, m) }

  // the flex clock tail: H:M[:S][.frac] + optional spaced-or-attached
  // meridiem (fraction and meridiem compose — the shape-16 rules)
  private val PFlexClock = java.util.regex.Pattern.compile(
    "^(\\d{1,2}):(\\d{1,2})(?::(\\d{1,2}))?(?:\\.(\\d+))?(?: ?([AP])M?)?$")
  private val FlexSep = java.util.regex.Pattern.compile("[ ,.\\-/]+")
  private val FlexLead = java.util.regex.Pattern.compile("^[ ,.\\-/]+")

  /** Split a flex value at the rightmost ' '/'T' whose suffix is a
    * clock tail (mirrors the classifier's flexSplit). */
  private def splitFlexClock(s: String): (String, String) = {
    var i = s.length - 2
    while (i >= 1) {
      val ch = s.charAt(i)
      if ((ch == ' ' || ch == 'T') &&
        PFlexClock.matcher(s.substring(i + 1)).matches())
        return (s.substring(0, i), s.substring(i + 1))
      i -= 1
    }
    (s, null)
  }

  /** Apply a flex clock tail to a resolved date; the fraction rules
    * are clockCoreOf's (minute fraction → second = int(60·frac);
    * seconds fraction ≤ 9 digits → micros truncation). */
  private def withFlexClock(ld: java.time.LocalDate, clock: String,
      zone: java.time.ZoneId): java.lang.Long = {
    if (clock == null) return microsOf(ld.atStartOfDay, zone)
    val m = PFlexClock.matcher(clock)
    if (!m.matches()) return null
    val hh = meridiemHour(m.group(1).toInt, m.group(5))
    if (hh < 0) return null
    val mm = m.group(2).toInt
    val frac = m.group(4)
    if (frac != null && m.group(3) == null)
      return microsOf(java.time.LocalDateTime.of(ld,
        java.time.LocalTime.of(hh, mm, (("0." + frac).toDouble * 60).toInt)),
        zone)
    if (frac != null && frac.length > 9) return null
    val nanos = if (frac == null) 0 else (frac + "0" * (9 - frac.length)).toInt
    val ss = if (m.group(3) == null) 0 else m.group(3).toInt
    microsOf(java.time.LocalDateTime.of(ld,
      java.time.LocalTime.of(hh, mm, ss, nanos)), zone)
  }

  /** Shapes 22/25: month-name permutation dates ("1999 JAN 5",
    * "10.JAN.1999", "JAN-5-1999", "5 JAN 99", "5/MAR/2001", "JAN 5",
    * "MAY 99", bare "JAN", with optional clock tails — all probed).
    * Token resolution (probed against dateutil's _ymd): a numeric of
    * 3+ digits or value > 31 is the YEAR; two small numerics assign
    * (year, day) when the month is LAST ("5 6 JAN" → 2005-01-06) and
    * (day, year) otherwise ("JAN 5 6" → 2006-01-05); two year-like
    * numerics are a ParserError ("JAN 32 1999"). daylessOut reports
    * whether a day token was resolved (weekday adjustment). */
  private def parseMonthFlex(s0: String, hasClock: Boolean, runYear: Int,
      zone: java.time.ZoneId, daylessOut: Array[Boolean]): java.lang.Long = {
    val (dp, clock) = if (hasClock) splitFlexClock(s0) else (s0, null)
    val toks = FlexSep.split(FlexLead.matcher(dp).replaceFirst(""))
    var mVal = 0; var mIdx = -1
    val nums = new Array[Int](2); val numLen = new Array[Int](2); var nn = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.isEmpty) return null
      if (Character.isDigit(t.charAt(0))) {
        if (nn >= 2) return null
        val core = stripOrdinal(t)
        nums(nn) = core.toInt; numLen(nn) = core.length; nn += 1
      } else {
        val mv = MonthNum.get(t)
        if (mv == null || mIdx >= 0) return null
        mVal = mv.intValue(); mIdx = i
      }
      i += 1
    }
    if (mIdx < 0) return null
    def yearish(k: Int): Boolean = numLen(k) >= 3 || nums(k) > 31
    var y = 1; var d = 1; var dayExplicit = false; var yExplicit = false
    if (nn == 1) {
      if (yearish(0)) { y = nums(0); yExplicit = true }
      else { d = nums(0); dayExplicit = true }
    } else if (nn == 2) {
      if (yearish(0) && yearish(1)) return null
      dayExplicit = true; yExplicit = true
      if (yearish(0)) { y = nums(0); d = nums(1) }
      else if (yearish(1)) { d = nums(0); y = nums(1) }
      else if (mIdx == toks.length - 1) { y = nums(0); d = nums(1) }
      else { d = nums(0); y = nums(1) }
    }
    if (yExplicit) y = windowYear(y, runYear)
    daylessOut(0) = !dayExplicit
    withFlexClock(java.time.LocalDate.of(y, mVal, d), clock, zone)
  }

  /** Shapes 23/26: numeric permutation dates over a uniform separator
    * ("01-05-1999", "13.05.1999" with the m/d swap, "1999 01 05",
    * "1/2/345", 2-digit years, optional clock tails — all probed).
    * A leading year-like field is Y-M-D with NO swap ("1999.13.5" is a
    * ParserError); a trailing year-like field is M-D-Y with the swap;
    * all-small fields are M-D-Y with a windowed year ("5 6 7" →
    * 2007-05-06). */
  private def parseNumFlex(s0: String, hasClock: Boolean, runYear: Int,
      zone: java.time.ZoneId): java.lang.Long = {
    val (dp, clock) = if (hasClock) splitFlexClock(s0) else (s0, null)
    val toks = FlexSep.split(FlexLead.matcher(dp).replaceFirst(""))
      .map(stripOrdinal) // "1ST 2 1999" is Jan 2 1999 (probed)
    if (toks.length != 3) return null
    val v0 = toks(0).toInt; val v1 = toks(1).toInt; val v2 = toks(2).toInt
    def yearish(k: Int, v: Int): Boolean = toks(k).length >= 3 || v > 31
    val ld =
      if (yearish(0, v0) && !yearish(2, v2))
        java.time.LocalDate.of(windowYear(v0, runYear), v1, v2)
      else if (yearish(2, v2))
        mdLocalDate(windowYear(v2, runYear), v0, v1)
      else if (yearish(1, v1)) return null
      else mdLocalDate(windowYear(v2, runYear), v0, v1)
    withFlexClock(ld, clock, zone)
  }

  // shape 24: compact yyyyMMdd + 'T' clock (see the classifier)
  private val P24 = java.util.regex.Pattern.compile(
    "^(\\d{4})(\\d{2})(\\d{2}) ?T(?:(\\d{2})(\\d{2})?(\\d{2})?)?" +
      "(?:\\.(\\d+))?(?: ?([AP])M?)?$")
  private def parseCompactT(s: String, zone: java.time.ZoneId): java.lang.Long = {
    val m = P24.matcher(s)
    if (!m.matches()) return null
    if (m.group(8) != null && m.group(4) == null) return null
    val hh = meridiemHour(
      if (m.group(4) == null) 0 else m.group(4).toInt, m.group(8))
    if (hh < 0) return null
    val frac = m.group(7)
    if (frac != null && (m.group(6) == null || frac.length > 9)) return null
    val nanos = if (frac == null) 0 else (frac + "0" * (9 - frac.length)).toInt
    microsOf(java.time.LocalDateTime.of(
      m.group(1).toInt, m.group(2).toInt, m.group(3).toInt, hh,
      if (m.group(5) == null) 0 else m.group(5).toInt,
      if (m.group(6) == null) 0 else m.group(6).toInt, nanos), zone)
  }

  /** Does a month-flex value resolve WITHOUT a day token ("JAN 1999",
    * "MAY 99", bare "JAN")? Drives the weekday adjustment. */
  private def monthFlexDayless(s: String, hasClock: Boolean): Boolean = {
    val flag = new Array[Boolean](1)
    try {
      if (parseMonthFlex(s, hasClock, 2000, java.time.ZoneOffset.UTC,
        flag) == null) return false
    } catch { case _: RuntimeException => return false }
    flag(0)
  }

  // day-less ISO remainders after a weekday ("SUN 1999" → the first
  // Sunday of 1999; "SUN 1999-01" likewise — probed)
  private val PIsoYm = java.util.regex.Pattern.compile(
    "^\\d{4}(-\\d{1,2})?$")
  private val PIsoDayPrefix = java.util.regex.Pattern.compile(
    "^\\d{4}-\\d{1,2}-\\d{1,2}[T ]")

  /** The naive base left after stripping a shape-15/18/19/20 suffix
    * (mirrors the respective parse branches). */
  private def suffixBase(s: String, sh: Int): String = sh match {
    case 15 =>
      var t = s.length - 1
      while (t >= 0 && s.charAt(t) >= 'A' && s.charAt(t) <= 'Z') t -= 1
      if (t >= 0 && s.charAt(t) == ' ') s.substring(0, t)
      else s.substring(0, t + 1)
    case 18 =>
      val m = P18Tail.matcher(s)
      if (m.find()) s.substring(0, m.start()) else s
    case 19 =>
      val m = P19Tail.matcher(s)
      if (!m.find()) return s
      val base0 = s.substring(0, m.start())
      var t = base0.length - 1
      while (t >= 0 && base0.charAt(t) >= 'A' && base0.charAt(t) <= 'Z') t -= 1
      if (t >= 0 && base0.charAt(t) == ' ') base0.substring(0, t)
      else base0.substring(0, t + 1)
    case 20 =>
      val m = P20Tail.matcher(s)
      if (m.find()) s.substring(0, m.start()) else s
    case _ => s
  }

  /** Day state of a classified value: 0 = explicit day, 1 = a date
    * WITHOUT a day ("MARCH 2001" — the weekday moves to the first
    * match on or after the base), 2 = no date at all (a default-date
    * clock — the weekday shifts from Monday). dateutil applies a
    * weekday token only when the day was NOT given (parser.py: the
    * weekday replacement requires res.day is None): "THU OCT 5" stays
    * Oct 5 while "SUN 12:30 EST" moves to the first Sunday, and
    * "SUN DECEMBER 57 2:19X+5" anchors to the first Sunday of
    * Dec 2057 — probed r11. */
  private def dayState(c: String, sh: Int): Int = sh match {
    case 6 => 1
    case 16 | 17 => if (PIsoDayPrefix.matcher(c).find()) 0 else 2
    case 22 => if (monthFlexDayless(c, hasClock = false)) 1 else 0
    case 25 => if (monthFlexDayless(c, hasClock = true)) 1 else 0
    case 15 | 18 | 19 | 20 =>
      val base = suffixBase(c, sh)
      val sub = dateShape(UTF8String.fromString(base))
      if (sub == 0) { if (PIsoDayPrefix.matcher(base).find()) 0 else 2 }
      else dayState(base, sub)
    case _ => 0
  }

  /** Parse a string already classified by [[dateShape]]; null when it is
    * shape 0 or fails its family's calendar/clock validation. Semantics
    * are pinned to the original try_to_timestamp cascade (the specs'
    * DateCascade) by EnrichSpec's parity sweep.
    *
    * Weekday prefixes (r11) are stripped BEFORE classification; when
    * the remainder parses WITHOUT an explicit day, dateutil moves the
    * date to the first matching weekday on or after the base ("SUN" →
    * 0001-01-07, "SUN 1999" → 1999-01-03, "SUN 12:30" →
    * 0001-01-07T12:30 — probed). Default-date clock parses land in
    * year 1, so "result before year 2" detects them; a weekday before
    * an EXPLICIT year-1 date would mis-shift, which dateutil-parity
    * tolerates (no real value carries one). */
  def parseShapedDate(c0: UTF8String, runYear: Int,
      zone: java.time.ZoneId): java.lang.Long = {
    val c1 = stripClockDots(c0)
    val b1 = c1.getBytes
    val wp = weekdayPrefix(b1)
    var wd = -1
    var c = c1
    if (wp >= 0) {
      wd = wp >>> 24
      val off = wp & 0xffffff
      c = UTF8String.fromBytes(b1, off, b1.length - off)
      if (c.numBytes == 0) return dateMicros(zone, 1, 1, 1 + wd)
    }
    val sh = dateShape(c)
    val dayless = new Array[Boolean](1)
    var v: java.lang.Long = null
    if (sh == 0) {
      if (wd >= 0) {
        // a bare numeric remainder takes dateutil's single-token _ymd
        // rule: > 31 or 3+ digits is a windowed YEAR and stays day-less
        // ("SUN 99" → the first Sunday of 1999); a small value is a DAY
        // of the default date — explicit, so no weekday shift ("SUN 5"
        // → 0001-01-05)
        val bs = c.toString
        if (bs.length <= 4 && bs.nonEmpty && bs.forall(Character.isDigit)) {
          val bv = bs.toInt
          return try {
            if (bv > 31 || bs.length >= 3)
              microsOf(java.time.LocalDate.of(windowYear(bv, runYear), 1, 1)
                .`with`(java.time.temporal.TemporalAdjusters.nextOrSame(
                  java.time.DayOfWeek.of(wd + 1))).atStartOfDay, zone)
            else dateMicros(zone, 1, 1, bv)
          } catch { case _: RuntimeException => null }
        }
        // the weekday strip exposes an ISO remainder the upstream cast
        // never sees ("SUN, 2014-01-10 12:30") — parse it with Spark's
        // own cast kernel so every cast-accepted ISO form keeps parity
        val o = org.apache.spark.sql.catalyst.util.DateTimeUtils
          .stringToTimestamp(c, zone)
        if (o.isEmpty) return null
        v = java.lang.Long.valueOf(o.get)
      } else if (c1 ne c0) {
        // a dot-strip can reduce to a PLAIN ISO datetime (shape 0, the
        // cast's territory) — but the cast upstream sees the original
        // dotted string and rejects it, so the clock core parses here
        val m = P15.matcher(c.toString)
        if (!m.matches()) return null
        v = try {
          val ldt = clockCoreOf(m)
          if (ldt == null) null else microsOf(ldt, zone)
        } catch { case _: RuntimeException => null }
      } else return null
      if (v == null) return null
      return applyWeekday(v, wd, c, sh, runYear, zone)
    }
    val s = c.toString
    val parsed: java.lang.Long = try {
      sh match {
        case 1 =>
          val p = s.split("/")
          dateMicros(zone, p(0).toInt, p(1).toInt, p(2).toInt)
        case 2 =>
          // M/d/y with dateutil's month/day auto-swap ("13/5/1999" →
          // May 13, probed r11)
          val p = s.split("/")
          microsOf(mdLocalDate(p(2).toInt, p(0).toInt, p(1).toInt)
            .atStartOfDay, zone)
        case 3 =>
          val p = s.split("\\.")
          dateMicros(zone, p(0).toInt, p(1).toInt, p(2).toInt)
        case 4 | 8 =>
          val t = s.replace(",", "").split(" ")
          monthDateMicros(zone, t(0), stripOrdinal(t(1)).toInt, t(2).toInt)
        case 5 | 9 =>
          val t = s.split(" ")
          monthDateMicros(zone, t(1), stripOrdinal(t(0)).toInt, t(2).toInt)
        case 6 =>
          val t = s.split(" ")
          monthDateMicros(zone, t(0), 1, t(1).toInt)
        case 7 =>
          val t = s.split("-")
          monthDateMicros(zone, t(1), t(0).toInt, t(2).toInt)
        case 10 =>
          dateMicros(zone, s.substring(0, 4).toInt,
            s.substring(4, 6).toInt, s.substring(6, 8).toInt)
        case 11 =>
          // two-digit year + the same auto-swap ("31/12/99", probed);
          // a lead field over 31 is itself the YEAR ("80/8/29" →
          // 1980-08-29 — dateutil's _ymd >31 rule, probed r11)
          val p = s.split("/")
          val v0 = p(0).toInt
          if (v0 > 31)
            // year-first never swaps ("32/24/12" is a ParserError)
            microsOf(java.time.LocalDate.of(windowYear(v0, runYear),
              p(1).toInt, p(2).toInt).atStartOfDay, zone)
          else
            microsOf(mdLocalDate(windowYear(p(2).toInt, runYear),
              v0, p(1).toInt).atStartOfDay, zone)
        case 12 =>
          val m = P12.matcher(s)
          if (!m.matches()) return null
          val mi = MonthNum.get(m.group(1))
          if (mi == null) return null
          val y = m.group(3).toInt
          val hh0 = m.group(4).toInt
          val mm = m.group(5).toInt
          val ss = if (m.group(6) == null) 0 else m.group(6).toInt
          val hh = meridiemHour(hh0, m.group(7))
          if (hh < 0) return null
          microsOf(java.time.LocalDateTime.of(y, mi.intValue(),
            m.group(2).toInt, hh, mm, ss), zone)
        case 14 =>
          // slash date + clock: "1/2/2014 3:15 PM" (M/d/y + shape-12
          // clock rules)
          val m = P14.matcher(s)
          if (!m.matches()) return null
          val hh0 = m.group(4).toInt
          val mm = m.group(5).toInt
          val ss = if (m.group(6) == null) 0 else m.group(6).toInt
          val hh = meridiemHour(hh0, m.group(7))
          if (hh < 0) return null
          microsOf(java.time.LocalDateTime.of(
            mdLocalDate(m.group(3).toInt, m.group(1).toInt, m.group(2).toInt),
            java.time.LocalTime.of(hh, mm, ss)), zone)
        case 13 =>
          // "… UTC"/"… GMT": both resolve to +00:00 and the engine
          // runs in UTC, so strip the 4-char suffix and parse the ISO
          // clock core (clockCoreOf carries the fraction rules,
          // including dateutil's minute fraction)
          val m = P15.matcher(s.substring(0, s.length - 4))
          if (!m.matches()) return null
          val ldt = clockCoreOf(m)
          if (ldt == null) null else microsOf(ldt, zone)
        case 15 =>
          // zone-NAME-suffixed datetime (spaced or attached): dateutil
          // identifies the name but cannot resolve it and yields the
          // NAIVE parse; the reference pins naive values to UTC
          // (conversions.py:592-598), so the suffix is stripped and the
          // prefix parsed as usual. The strip drops the whole trailing
          // letter run — for "3:15PMEST" dateutil swallows the meridiem
          // inside the unknown tzname too (probed; 03:15).
          var t = s.length - 1
          while (t >= 0 && s.charAt(t) >= 'A' && s.charAt(t) <= 'Z') t -= 1
          val base =
            if (t >= 0 && s.charAt(t) == ' ') s.substring(0, t)
            else s.substring(0, t + 1)
          naivePrefixMicros(base, runYear, zone)
        case 16 =>
          // clock core + meridiem token: parse the core, then apply
          // dateutil's meridiem rules to the hour (hour > 12 with a
          // meridiem is a ParserError → null)
          val m = P16.matcher(s)
          if (!m.matches()) return null
          val ldt = clockCoreOf(m)
          if (ldt == null) return null
          val hh = meridiemHour(m.group(4).toInt, m.group(8))
          if (hh < 0) return null
          microsOf(ldt.withHour(hh), zone)
        case 17 =>
          // bare clock: dateutil's default fills the missing date with
          // year-1 Jan 1 ("12:30:15" → 0001-01-01T12:30:15, probed)
          val m = P15.matcher(s)
          if (!m.matches()) return null
          val ldt = clockCoreOf(m)
          if (ldt == null) null else microsOf(ldt, zone)
        case 18 =>
          // zone name + POSIX offset ("GMT+5", "EST+5", "Z+5"):
          // dateutil's tzstr INVERTS the sign, so the UTC instant is
          // the naive prefix PLUS the printed offset for '+', minus
          // for '-'. Minutes past 59 carry into hours ("GMT+5:67" →
          // 6h07, probed); a total of 24h or more is a ValueError.
          val m = P18Tail.matcher(s)
          if (!m.find()) return null
          val offSec = m.group(2).toInt * 3600L +
            (if (m.group(3) == null) 0L else m.group(3).toInt * 60L)
          if (offSec >= 86400L) return null
          val v = naivePrefixMicros(s.substring(0, m.start()), runYear, zone)
          if (v == null) null
          else {
            val sign = if (m.group(1) == "+") 1L else -1L
            java.lang.Long.valueOf(v.longValue() + sign * offSec * 1000000L)
          }
        case 19 =>
          // zone name + SPACED offset ("… GMT +5", "… EST +0500"):
          // dateutil consumes the orphan offset token — after a
          // UTC-equivalent name (UTC/GMT/Z) it is DROPPED (the zone
          // stays UTC, so the naive clock IS the instant); after any
          // other name it REPLACES the zone's offset with the
          // AS-WRITTEN sign (tzoffset('EST', +5h) → UTC instant =
          // naive − offset — NOT the POSIX inversion shape 18 applies
          // to attached offsets). 24h+ offsets are a ValueError
          // (probed, all of it).
          val m = P19Tail.matcher(s)
          if (!m.find()) return null
          val oh = if (m.group(2) != null) m.group(2).toInt else m.group(4).toInt
          val om =
            if (m.group(3) != null) m.group(3).toInt
            else if (m.group(5) != null) m.group(5).toInt else 0
          val offSec = oh * 3600L + om * 60L
          val base0 = s.substring(0, m.start())
          var t = base0.length - 1
          while (t >= 0 && base0.charAt(t) >= 'A' && base0.charAt(t) <= 'Z')
            t -= 1
          val name = base0.substring(t + 1)
          val base =
            if (t >= 0 && base0.charAt(t) == ' ') base0.substring(0, t)
            else base0.substring(0, t + 1)
          val v = naivePrefixMicros(base, runYear, zone)
          if (v == null) null
          // after a UTC-equivalent name the orphan offset is dropped
          // WITHOUT validation ("4:10UTC -23:63" parses; probed r11)
          else if (name == "UTC" || name == "GMT" || name == "Z") v
          else if (offSec >= 86400L) null
          else {
            val sign = if (m.group(1) == "+") 1L else -1L
            java.lang.Long.valueOf(v.longValue() - sign * offSec * 1000000L)
          }
        case 20 =>
          // bare signed offset, NO zone name ("12:30:15 +5",
          // "2014-01-10 12:30:15+5", "9:30 PM +5", "-0500"):
          // dateutil's tzoffset(None, as-written) — UTC instant =
          // naive − offset, a meridiem in the prefix applies to the
          // hour first, and ≥ 24 h is a ValueError (probed).
          val m = P20Tail.matcher(s)
          if (!m.find()) return null
          val oh = if (m.group(2) != null) m.group(2).toInt else m.group(4).toInt
          val om =
            if (m.group(3) != null) m.group(3).toInt
            else if (m.group(5) != null) m.group(5).toInt else 0
          val offSec = oh * 3600L + om * 60L
          if (offSec >= 86400L) return null
          val v = naivePrefixMicros(s.substring(0, m.start()), runYear, zone)
          if (v == null) null
          else {
            val sign = if (m.group(1) == "+") 1L else -1L
            java.lang.Long.valueOf(v.longValue() - sign * offSec * 1000000L)
          }
        case 22 | 25 =>
          // month-name permutation dates (+ clock for 25)
          parseMonthFlex(s, sh == 25, runYear, zone, dayless)
        case 23 | 26 =>
          // numeric permutation dates (+ clock for 26)
          parseNumFlex(s, sh == 26, runYear, zone)
        case 24 =>
          // compact yyyyMMdd + 'T' clock
          parseCompactT(s, zone)
        case _ => null
      }
    } catch { case _: RuntimeException => null }
    if (parsed == null) null
    else applyWeekday(parsed, wd, c, sh, runYear, zone)
  }

  /** The weekday adjustment (see dayState): a day-less DATE moves to
    * the first matching weekday on or after the base — computed on the
    * NAIVE base (before any zone offset: dateutil replaces the day
    * first, then applies the offset); a date-less clock shifts by the
    * weekday's offset from Monday (0001-01-01 IS a Monday), which
    * commutes with any offset already applied. */
  private def applyWeekday(v: java.lang.Long, wd: Int, c: UTF8String,
      sh: Int, runYear: Int, zone: java.time.ZoneId): java.lang.Long = {
    if (wd < 0) return v
    val s = c.toString
    val state = if (PIsoYm.matcher(s).matches()) 1 else dayState(s, sh)
    if (state == 0) return v
    if (state == 2)
      return java.lang.Long.valueOf(v.longValue() + wd * 86400000000L)
    val naive: java.lang.Long = sh match {
      case 15 | 18 | 19 | 20 =>
        val b = parseShapedDate(UTF8String.fromString(suffixBase(s, sh)),
          runYear, zone)
        if (b == null) v else b
      case _ => v
    }
    val dow = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochSecond(
        Math.floorDiv(naive.longValue(), 1000000L),
        Math.floorMod(naive.longValue(), 1000000L) * 1000L), zone)
      .getDayOfWeek.getValue // MON=1..SUN=7
    val delta = ((wd + 1) - dow + 7) % 7
    java.lang.Long.valueOf(v.longValue() + delta * 86400000000L)
  }

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Top 60 bits of md5(word) — the same value as
    * `conv(substr(md5(w), 1, 15), 16, 10)`: 15 hex digits = the first
    * 7.5 digest bytes = the big-endian first-8-bytes long shifted
    * right by one nibble. The DuckDB oracle replays this exact hash
    * (`try_cast('0x' || substr(md5(w), 1, 15) AS BIGINT)`), so the
    * derivation must stay bit-stable. */
  def md5Hash60(w: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    val bytes = d.digest(w.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (bytes(i) & 0xffL); i += 1 }
    v >>> 4
  }

  private val SpaceByte = Array[Byte](' ')

  /** Positional n-word window hashes: md5Hash60 of each space-joined
    * window, digest-streamed (word bytes + ' ' separators) so no
    * window string is ever built. out(i) == md5Hash60("w_i … w_{i+n-1}")
    * byte-for-byte — [[graft.operators.TextDedup.hash60]]'s SQL twin
    * and the DuckDB replay both stay valid. */
  def spanHashes(words: ArrayData, n: Int): ArrayData = {
    val m = words.numElements()
    if (m < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val d = md5.get()
    val out = new Array[Long](m - n + 1)
    var i = 0
    while (i <= m - n) {
      d.reset()
      var j = 0
      while (j < n) {
        if (j > 0) d.update(SpaceByte)
        d.update(words.getUTF8String(i + j).getBytes)
        j += 1
      }
      val bytes = d.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (bytes(b) & 0xffL); b += 1 }
      out(i) = v >>> 4
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** One-pass repetition stats; see
    * [[NativeText.repetitionStats]]. Distinct words are counted by
    * STRING (set semantics the oracle's `list_distinct` replays);
    * n-gram counting keys on the rolling word-hash combine — a 64-bit
    * collision between two distinct n-grams of one document is the
    * only divergence source and is negligible (and deterministic) at
    * any corpus size, the same trade the candidate-join hashes make. */
  def repetitionStats(words: ArrayData)
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val m = words.numElements()
    val seen = new java.util.HashSet[UTF8String](Math.max(16, m * 2))
    val wh = new Array[Long](m)
    var i = 0
    while (i < m) {
      val w = words.getUTF8String(i)
      seen.add(w)
      wh(i) = XXH64.hashUTF8String(w, XxSeed)
      i += 1
    }
    def ngramCounts(n: Int): java.util.HashMap[java.lang.Long, Int] = {
      val counts = new java.util.HashMap[java.lang.Long, Int]()
      var i = 0
      val last = m - n
      while (i <= last) {
        var acc = wh(i)
        var j = 1
        while (j < n) { acc = acc * FnvPrime ^ wh(i + j); j += 1 }
        counts.merge(acc, 1, (a, b) => a + b)
        i += 1
      }
      counts
    }
    var top2 = 0L; var dup2 = 0L; var top3 = 0L
    val it2 = ngramCounts(2).values().iterator()
    while (it2.hasNext) {
      val c = it2.next()
      if (c > top2) top2 = c
      if (c > 1) dup2 += c
    }
    val it3 = ngramCounts(3).values().iterator()
    while (it3.hasNext) {
      val c = it3.next()
      if (c > top3) top3 = c
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](m.toLong, seen.size.toLong, top2, dup2, top3))
  }

  /** SimHash over the distinct words: bit j set iff the count of
    * distinct words with md5-bit j set exceeds the count without.
    * Distinctness is by word STRING (not by hash) — the oracle
    * deduplicates words before hashing, and a 60-bit collision between
    * two distinct words must contribute twice, exactly as the oracle
    * counts it. */
  def simhash60(words: ArrayData): Long = {
    val m = words.numElements()
    val seen = new java.util.HashSet[UTF8String](Math.max(16, m * 2))
    val counts = new Array[Int](60)
    var i = 0
    while (i < m) {
      val w = words.getUTF8String(i)
      if (seen.add(w)) {
        val h = md5Hash60(w)
        var j = 0
        while (j < 60) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) { if (counts(j) > 0) out |= 1L << j; j += 1 }
    out
  }

  /** Signed token counts in `dim` hash buckets: bucket = h mod dim
    * (h is a non-negative 60-bit value, so % is already non-negative),
    * sign = bit 59 of h. Counts ALL tokens (term frequency), unlike
    * simhash's distinct-word vote. */
  def featureHash(words: ArrayData, dim: Int): ArrayData = {
    val out = new Array[Long](dim)
    val m = words.numElements()
    var i = 0
    while (i < m) {
      val h = md5Hash60(words.getUTF8String(i))
      val b = (h % dim).toInt
      out(b) += (if (((h >>> 59) & 1L) == 1L) 1L else -1L)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Clipped BLEU-2 match counts of one (cand, ref) token-array pair;
    * see [[NativeText.bleuClip]]. Exact STRING counting (no hashes):
    * a reference-side multiset count per gram, decremented as candidate
    * grams consume it — Σ min(count_cand, count_ref) by construction.
    * Bigram identity is the space-joined word pair, byte-identical to
    * the `concat_ws(" ", w1, w2)` key of the relational formulation it
    * replaces (tokens come from a space split, so the join is
    * collision-free). */
  def bleuClip(ca: ArrayData, ra: ArrayData)
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val m = ca.numElements()
    val n = ra.numElements()
    // unigrams: ref counts, then clip candidate draws against them
    val u = new java.util.HashMap[UTF8String, Array[Int]](
      Math.max(16, n * 2))
    var i = 0
    while (i < n) {
      val c = u.computeIfAbsent(ra.getUTF8String(i), _ => new Array[Int](1))
      c(0) += 1
      i += 1
    }
    var c1 = 0L
    i = 0
    while (i < m) {
      val c = u.get(ca.getUTF8String(i))
      if (c != null && c(0) > 0) { c(0) -= 1; c1 += 1 }
      i += 1
    }
    // bigrams: same discipline over the space-joined adjacent pairs
    val sp = BleuSpace
    val b = new java.util.HashMap[UTF8String, Array[Int]](
      Math.max(16, n * 2))
    i = 0
    while (i + 1 < n) {
      val k = UTF8String.concat(ra.getUTF8String(i), sp, ra.getUTF8String(i + 1))
      val c = b.computeIfAbsent(k, _ => new Array[Int](1))
      c(0) += 1
      i += 1
    }
    var c2 = 0L
    i = 0
    while (i + 1 < m) {
      val k = UTF8String.concat(ca.getUTF8String(i), sp, ca.getUTF8String(i + 1))
      val c = b.get(k)
      if (c != null && c(0) > 0) { c(0) -= 1; c2 += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](c1, c2))
  }

  private val BleuSpace = UTF8String.fromString(" ")

  /** DSIR importance score of one document against a per-bucket
    * log-likelihood-ratio table: Σ over tokens of llr[h(w) mod dim].
    * Equal by definition to Σ_b count_b(doc) · llr_b — the
    * bucket-count form the DuckDB oracle replays — because summing a
    * bucket's llr once per token IS multiplying it by the token count.
    * All-integer arithmetic (the llr table is pre-quantized to
    * nano-nats), so the sum is order-free exact across engines. */
  def dsirScore(words: ArrayData, llr: ArrayData, dim: Int): Long = {
    if (llr.numElements() != dim)
      throw new IllegalArgumentException(
        s"dsir_score: llr table has ${llr.numElements()} entries, expected $dim")
    val m = words.numElements()
    var acc = 0L
    var i = 0
    while (i < m) {
      // null tokens contribute 0 (the relational twin's explode drops
      // them) instead of NPEing inside md5Hash60
      if (!words.isNullAt(i)) {
        val b = (md5Hash60(words.getUTF8String(i)) % dim).toInt
        acc += llr.getLong(b)
      }
      i += 1
    }
    acc
  }
}
