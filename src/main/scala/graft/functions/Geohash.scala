package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Standard geohash encoding (Niemeyer base-32: bits alternate
  * lon, lat from the high bit; 5 bits per character) as a native
  * kernel, plus the driver-side bbox covering-set used by the
  * [[graft.plans.GeohashPruning]] optimizer rule — SURVEY §7.3's
  * "geohash partition-pruning rule for geo bounding boxes" made real:
  * partition the lake by `ghash<p> = geohash(lat, lon, p)` and a
  * bounding-box query scans only the covering cells' partitions. */
object Geohash {

  def geohash(lat: Column, lon: Column, precision: Int): Column =
    Kernels.geohash(Seq(lat, lon), precision)

  /** All geohash cells of `precision` intersecting the bbox — the
    * partition-pruning IN-list. Sound by quantization monotonicity:
    * every point inside the box hashes into one of these cells.
    * Size is (lonCells × latCells); callers cap it (a box spanning
    * the planet at high precision is not worth an IN-list).
    * Precision is capped at 12 like [[geohash]]: at 13+ the lon
    * cell index exceeds Int and the 64-bit interleave accumulator
    * overflows, which would yield a garbage cover. */
  def cover(minLat: Double, maxLat: Double, minLon: Double,
      maxLon: Double, precision: Int): Seq[String] = {
    require(precision >= 1 && precision <= 12, "precision in [1,12]")
    val bits = 5 * precision
    val lonBits = (bits + 1) / 2   // lon gets the extra odd bit
    val latBits = bits / 2
    def cellRange(lo: Double, hi: Double, min: Double, span: Double,
        n: Int): Range.Inclusive = {
      val max = (1L << n) - 1
      def q(v: Double) = math.min(max,
        math.max(0L, math.floor((v - min) / span * (1L << n)).toLong))
      q(lo).toInt to q(hi).toInt
    }
    for {
      ix <- cellRange(minLon, maxLon, -180.0, 360.0, lonBits)
      iy <- cellRange(minLat, maxLat, -90.0, 180.0, latBits)
    } yield GeohashKernel.encodeCell(ix.toLong, iy.toLong, precision)
  }
}

object GeohashKernel {
  private final val Base32 = "0123456789bcdefghjkmnpqrstuvwxyz".toCharArray

  /** Encode quantized cell indices (ix of lonBits, iy of latBits). */
  def encodeCell(ix: Long, iy: Long, precision: Int): String = {
    val bits = 5 * precision
    val lonBits = (bits + 1) / 2
    val latBits = bits / 2
    // interleave from the high bit: even global positions = lon
    var v = 0L
    var pos = 0
    var xi = lonBits - 1
    var yi = latBits - 1
    while (pos < bits) {
      val bit =
        if (pos % 2 == 0) { val b = (ix >>> xi) & 1L; xi -= 1; b }
        else { val b = (iy >>> yi) & 1L; yi -= 1; b }
      v = (v << 1) | bit
      pos += 1
    }
    val sb = new java.lang.StringBuilder(precision)
    var c = precision - 1
    while (c >= 0) {
      sb.append(Base32(((v >>> (5 * c)) & 31L).toInt))
      c -= 1
    }
    sb.toString
  }

  def encode(lat: Double, lon: Double, precision: Int): UTF8String = {
    val bits = 5 * precision
    val lonBits = (bits + 1) / 2
    val latBits = bits / 2
    def q(v: Double, min: Double, span: Double, n: Int): Long =
      math.min((1L << n) - 1,
        math.max(0L, math.floor((v - min) / span * (1L << n)).toLong))
    UTF8String.fromString(encodeCell(
      q(lon, -180.0, 360.0, lonBits), q(lat, -90.0, 180.0, latBits),
      precision))
  }
}

