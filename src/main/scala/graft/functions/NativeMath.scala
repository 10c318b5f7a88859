package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native numeric kernels for the similarity family (SURVEY §2.11).
  *
  * The dot product folds LEFT-TO-RIGHT over double-widened elements —
  * the exact summation order of both the higher-order
  * `aggregate(zip_with(...))` formulation it replaces and DuckDB's
  * `list_inner_product` on `::DOUBLE[]`, so every ANN oracle stays
  * bit-identical while the per-pair cost drops from an interpreted
  * Column-tree fold (with a zipped intermediate array allocation) to a
  * JIT'd primitive loop. */
object NativeMath {

  def dotProduct(a: Column, b: Column): Column =
    Kernels.dotProduct(Seq(a, b))

  /** Symmetric per-vector int8 quantization: q_i = floor(e_i/s + 0.5)
    * with s = max|e_i|/127 (zero vector → all zeros). The 100 TB ANN
    * memory-bandwidth path: a quantized corpus is 4× (float) / 8×
    * (double) smaller, and its dot products are exact integers —
    * order-independent, so the DuckDB oracle replays them bit-for-bit
    * with no summation-order caveat at all. */
  def int8Quantize(a: Column): Column =
    Kernels.int8Quantize(Seq(a))

  /** Exact integer dot product of two quantized vectors (array<byte>),
    * accumulated in a long. */
  def int8Dot(a: Column, b: Column): Column =
    Kernels.int8Dot(Seq(a, b))

  /** Product-quantization encode: the vector is split into `m`
    * contiguous subspaces and each is assigned its nearest codebook
    * centroid by the same |c|²−2x·c argmin (with (score, k) ties) the
    * IVF family uses — the |x|² term drops out of the argmin. Output is
    * `m` code bytes: a 64-dim float vector compresses 32× (256→8 B).
    * `codebook` is a flattened array<double> literal laid out
    * [m][k][sub] (size m·k·sub). */
  def pqEncode(vec: Column, codebook: Column, m: Int, k: Int): Column =
    Kernels.pqEncode(Seq(vec, codebook), m, k)

  /** Per-query asymmetric-distance table: t[i·k + j] = |c_ij|² − 2·q_i·c_ij
    * for subspace i, code j — the constant-per-query lookup table ADC
    * scoring reads. Same layout and fold order as [[pqEncode]]. */
  def pqDistTable(vec: Column, codebook: Column, m: Int, k: Int): Column =
    Kernels.pqDistTable(Seq(vec, codebook), m, k)

  /** ADC score: Σ over subspaces of table[i·k + code_i], folded in
    * subspace order (the DuckDB oracle replays the same explicit
    * left-to-right sum). */
  def pqAdc(codes: Column, table: Column, k: Int): Column =
    Kernels.pqAdc(Seq(codes, table), k)
}

object MathKernel {
  /** Left-to-right double fold of the elementwise product; float
    * elements widen exactly. Mismatched lengths would have produced a
    * null-poisoned fold in the zip_with formulation — not a legal
    * input here (embedding columns are fixed-dim); the shorter length
    * guards against corruption rather than defining semantics. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = Math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    if (aFloat && bFloat) {
      while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    } else if (aFloat) {
      while (i < n) { acc += a.getFloat(i).toDouble * b.getDouble(i); i += 1 }
    } else if (bFloat) {
      while (i < n) { acc += a.getDouble(i) * b.getFloat(i).toDouble; i += 1 }
    } else {
      while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    }
    acc
  }

  /** q_i = floor(e_i/s + 0.5), s = max|e_i|/127 — the exact formula the
    * DuckDB oracle replays (floor(x+0.5), NOT Math.round/banker's: the
    * two diverge at negative half-points). Max element maps to ±127, so
    * every value fits a byte. Zero vector → all zeros. */
  def int8Quantize(a: ArrayData, isFloat: Boolean): ArrayData = {
    val n = a.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      val v = Math.abs(if (isFloat) a.getFloat(i).toDouble else a.getDouble(i))
      if (v > m) m = v
      i = i + 1
    }
    val out = new Array[Byte](n)
    if (m > 0.0) {
      val s = m / 127.0
      i = 0
      while (i < n) {
        val v = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
        out(i) = Math.floor(v / s + 0.5).toByte
        i = i + 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Exact long sum of byte products; order-independent (integer). */
  def int8Dot(a: ArrayData, b: ArrayData): Long = {
    val n = Math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getByte(i).toLong * b.getByte(i).toLong; i += 1 }
    acc
  }

  private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** score(sub-vector x, centroid c) = |c|² − 2·x·c, both dot products
    * ascending-index folds — the ivfAssign formulation, per subspace. */
  private def pqScore(vec: ArrayData, cb: ArrayData, sub: Int,
      base: Int, cbBase: Int, isFloat: Boolean): Double = {
    var cc = 0.0
    var xc = 0.0
    var j = 0
    while (j < sub) {
      val c = cb.getDouble(cbBase + j)
      cc += c * c
      xc += elem(vec, base + j, isFloat) * c
      j += 1
    }
    cc - 2.0 * xc
  }

  def pqEncode(vec: ArrayData, cb: ArrayData, m: Int, k: Int,
      isFloat: Boolean): ArrayData = {
    val sub = vec.numElements() / m
    val out = new Array[Byte](m)
    var i = 0
    while (i < m) {
      var best = 0
      var bestScore = Double.PositiveInfinity
      var kk = 0
      while (kk < k) {
        val s = pqScore(vec, cb, sub, i * sub, (i * k + kk) * sub, isFloat)
        if (s < bestScore) { bestScore = s; best = kk } // strict <: ties to low k
        kk += 1
      }
      out(i) = best.toByte
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  def pqDistTable(vec: ArrayData, cb: ArrayData, m: Int, k: Int,
      isFloat: Boolean): ArrayData = {
    val sub = vec.numElements() / m
    val out = new Array[Double](m * k)
    var i = 0
    while (i < m) {
      var kk = 0
      while (kk < k) {
        out(i * k + kk) = pqScore(vec, cb, sub, i * sub, (i * k + kk) * sub, isFloat)
        kk += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Σ_i table[i·k + code_i], ascending-subspace fold (0.0 seed is
    * exact: 0+x == x in IEEE754). */
  def pqAdc(codes: ArrayData, table: ArrayData, k: Int): Double = {
    val m = codes.numElements()
    var acc = 0.0
    var i = 0
    while (i < m) {
      acc += table.getDouble(i * k + (codes.getByte(i).toInt & 0xff))
      i += 1
    }
    acc
  }
}
