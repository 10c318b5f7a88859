package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Blocked-free classic Bloom filter as a mergeable aggregate plus a
  * codegen membership probe — the runtime-filter primitive a 100 TB
  * join pipeline uses to cut the big side BEFORE its shuffle: build
  * the filter over the small side's join keys (one tiny aggregation,
  * OR-mergeable so only `numBits/8` bytes cross the wire per task),
  * broadcast the single-row result, and drop non-candidate rows of
  * the big side at scan speed. Spark's own InjectRuntimeFilter does
  * this transparently for eligible equi-joins; this is the explicit,
  * composable form — usable as a standalone approximate-membership
  * operator (e.g. a decontamination prefilter) and inspectable in the
  * plan (`BloomKernel.contains` in a Filter under the big side's Exchange).
  *
  * Hashing: two independent 64-bit values from the key via splitmix64
  * finalization (h1 = mix(key), h2 = mix(key ^ GOLDEN) | 1), then the
  * standard Kirsch-Mitzenmacher double hashing g_i = h1 + i·h2.
  * Deterministic in the key alone, so the filter bytes are identical
  * across partitionings and runs.
  */
object Bloom {

  /** Aggregate Column: BinaryType Bloom filter of `numBits` bits over
    * the (long) key column, `numHashes` probes per key. */
  def bloomBuild(key: Column, numBits: Int, numHashes: Int): Column =
    GraftSqlBridge.column(
      BloomBuildAgg(GraftSqlBridge.expression(key), numBits, numHashes)
        .toAggregateExpression())

  /** Membership probe: true if `key` may be in the filter (false ⇒
    * definitely absent). Codegen'd — runs inside the scan's
    * WholeStageCodegen span. */
  def mightContain(bloom: Column, key: Column, numHashes: Int): Column =
    Kernels.mightContain(Seq(bloom, key), numHashes)
}

/** The static kernel: the build aggregate sets bits, the `might_contain`
  * probe ([[Kernels.mightContain]]) tests them. */
object BloomKernel {
  private final val GOLDEN = 0x9e3779b97f4a7c15L

  /** splitmix64 finalizer — full-avalanche 64→64 mix. */
  def mix(z0: Long): Long = {
    var z = z0 + GOLDEN
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def set(words: Array[Long], numBits: Int, key: Long, numHashes: Int): Unit = {
    val h1 = mix(key)
    val h2 = mix(key ^ GOLDEN) | 1L
    var i = 0
    while (i < numHashes) {
      val pos = java.lang.Long.remainderUnsigned(h1 + i * h2, numBits)
      words((pos >>> 6).toInt) |= (1L << (pos & 63))
      i += 1
    }
  }

  def contains(bytes: Array[Byte], key: Long, numHashes: Int): Boolean = {
    val numBits = bytes.length.toLong * 8
    val h1 = mix(key)
    val h2 = mix(key ^ GOLDEN) | 1L
    var i = 0
    while (i < numHashes) {
      val pos = java.lang.Long.remainderUnsigned(h1 + i * h2, numBits)
      // little-endian bit order within the packed long words
      val bit = bytes((pos >>> 3).toInt) >>> (pos & 7) & 1
      if (bit == 0) return false
      i += 1
    }
    true
  }

  def toBytes(words: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(words)
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asLongBuffer().get(out)
    out
  }
}

/** Bloom-filter build aggregate. Buffer = packed bit words; merge =
  * bitwise OR (commutative + associative, so the result is identical
  * under any partitioning — the property that makes the filter bytes
  * themselves assertable in specs). */
case class BloomBuildAgg(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  require(numBits >= 64 && numBits % 64 == 0, "numBits: positive multiple of 64")
  require(numHashes >= 1, "numHashes >= 1")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bloom_build"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("bloom_build needs a bigint key")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) BloomKernel.set(buf, numBits, v.asInstanceOf[Long], numHashes)
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = BloomKernel.toBytes(buf)
  override def serialize(buf: Array[Long]): Array[Byte] = BloomKernel.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): Array[Long] = BloomKernel.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomBuildAgg =
    copy(child = newChildren.head)
}

