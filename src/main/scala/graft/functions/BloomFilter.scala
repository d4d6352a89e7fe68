package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Bloom-filter build/probe for semi-join scan reduction.
  *
  * The 100 TB use: a fact-dim join where the dim's qualifying key set is
  * far smaller than the fact. Building the filter is ONE distributed
  * aggregate over the dim (partials are bitsets, merge is word-wise OR —
  * perfectly mergeable, map-side combinable), and the probe is a scalar
  * expression applied to the fact BEFORE its shuffle: rows that cannot
  * match never enter the exchange. False positives are removed by the
  * exact join that follows, so results are identical to the plain join —
  * the filter only cuts shuffle volume (by the fact's miss rate, often
  * 10-100× on selective dims).
  *
  * This is the manual, always-available form of the engine-internal
  * runtime row-group filtering; expressing it as a library operator
  * keeps it usable on any plan shape and any Spark build.
  *
  * Both sides hash with splitmix64 double-hashing — explicit arithmetic,
  * reproducible across engines and partitionings (same policy as
  * [[TextHash]]).
  */
object BloomFilterOps {

  private def c(e: Expression): Column = GraftSqlBridge.column(e)
  private def e(col: Column): Expression = GraftSqlBridge.expression(col)

  /** Build: aggregate long keys into a `numBits`-wide bitset (binary).
    * The hash count is embedded in the serialized filter (header byte),
    * so the probe can NEVER desynchronize from the build — a mismatch
    * would probe bits the builder never set and silently drop matching
    * rows (false negatives).
    */
  def bloomAgg(key: Column, numBits: Int = 1 << 23, hashes: Int = 5): Column =
    c(BloomBuildAgg(e(key), numBits, hashes)
      .toAggregateExpression(isDistinct = false))

  /** Probe: true iff `key` may be in `filter` (no false negatives);
    * reads the hash count from the filter's own header. A bit test on
    * the serialized filter, no deserialization per row.
    */
  def bloomMightContain(filter: Column, key: Column): Column =
    KernelCall.bind("bloom_might_contain", BloomKernel, "mightContain", BooleanType)(
      filter -> BinaryType, key -> LongType)
}

/** Static kernels shared by interpreted eval and generated code. */
object BloomKernel {

  /** splitmix64 finalizer — full-avalanche 64-bit mix. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def set(words: Array[Long], key: Long, hashes: Int): Unit = {
    val mask = (words.length.toLong << 6) - 1 // numBits - 1 (power of two)
    val h1 = mix(key)
    val h2 = mix(key ^ 0x5851f42d4c957f2dL) | 1L
    var i = 0
    while (i < hashes) {
      val bit = (h1 + i * h2) & mask
      words((bit >>> 6).toInt) |= (1L << (bit & 63))
      i += 1
    }
  }

  /** Probe over the serialized filter: 1 header byte (hash count) +
    * little-endian word array. Reading the count from the filter itself
    * makes a build/probe mismatch structurally impossible.
    */
  def mightContain(bytes: Array[Byte], key: Long): Boolean = {
    // Guard the framing: only the header+words form from toFilterBytes is
    // probeable. A header-less blob (the serialize() wire form, or an empty
    // array) would silently misread its first payload byte as the hash
    // count and return wrong answers rather than fail.
    if (bytes.length < 9 || ((bytes.length - 1) & 7) != 0)
      throw new IllegalArgumentException(
        s"not a serialized bloom filter: length ${bytes.length} " +
          "(expected 1 header byte + non-empty multiple of 8 word bytes)")
    val hashes = bytes(0) & 0xff
    if (hashes < 1)
      throw new IllegalArgumentException(
        s"not a serialized bloom filter: header hash count $hashes")
    val nWords = (bytes.length - 1) >>> 3
    val mask = (nWords.toLong << 6) - 1
    val h1 = mix(key)
    val h2 = mix(key ^ 0x5851f42d4c957f2dL) | 1L
    var i = 0
    while (i < hashes) {
      val bit = (h1 + i * h2) & mask
      val w = 1 + ((bit >>> 6).toInt << 3)
      val word = (bytes(w) & 0xffL) | ((bytes(w + 1) & 0xffL) << 8) |
        ((bytes(w + 2) & 0xffL) << 16) | ((bytes(w + 3) & 0xffL) << 24) |
        ((bytes(w + 4) & 0xffL) << 32) | ((bytes(w + 5) & 0xffL) << 40) |
        ((bytes(w + 6) & 0xffL) << 48) | ((bytes(w + 7) & 0xffL) << 56)
      if ((word & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Finished-filter encoding: header byte (hash count) + words. */
  def toFilterBytes(words: Array[Long], hashes: Int): Array[Byte] = {
    val out = new Array[Byte](1 + (words.length << 3))
    out(0) = hashes.toByte
    var i = 0
    while (i < words.length) {
      val w = words(i); val o = 1 + (i << 3)
      out(o) = w.toByte; out(o + 1) = (w >>> 8).toByte
      out(o + 2) = (w >>> 16).toByte; out(o + 3) = (w >>> 24).toByte
      out(o + 4) = (w >>> 32).toByte; out(o + 5) = (w >>> 40).toByte
      out(o + 6) = (w >>> 48).toByte; out(o + 7) = (w >>> 56).toByte
      i += 1
    }
    out
  }

  /** Header-less encoding for the aggregation buffer wire form. */
  def toBytes(words: Array[Long]): Array[Byte] = {
    val out = new Array[Byte](words.length << 3)
    var i = 0
    while (i < words.length) {
      val w = words(i); val o = i << 3
      out(o) = w.toByte; out(o + 1) = (w >>> 8).toByte
      out(o + 2) = (w >>> 16).toByte; out(o + 3) = (w >>> 24).toByte
      out(o + 4) = (w >>> 32).toByte; out(o + 5) = (w >>> 40).toByte
      out(o + 6) = (w >>> 48).toByte; out(o + 7) = (w >>> 56).toByte
      i += 1
    }
    out
  }

  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    val words = new Array[Long](bytes.length >>> 3)
    var i = 0
    while (i < words.length) {
      val o = i << 3
      words(i) = (bytes(o) & 0xffL) | ((bytes(o + 1) & 0xffL) << 8) |
        ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24) |
        ((bytes(o + 4) & 0xffL) << 32) | ((bytes(o + 5) & 0xffL) << 40) |
        ((bytes(o + 6) & 0xffL) << 48) | ((bytes(o + 7) & 0xffL) << 56)
      i += 1
    }
    words
  }
}

/** Bitset-building aggregate: buffer = word array, merge = OR. */
case class BloomBuildAgg(
    child: Expression,
    numBits: Int,
    hashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression]
  with ExpectsInputTypes {

  require(numBits >= 64 && (numBits & (numBits - 1)) == 0,
    s"numBits must be a power of two >= 64, got $numBits")
  require(hashes > 0, s"hashes must be positive, got $hashes")

  override def inputTypes = Seq(LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](numBits >>> 6)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) BloomKernel.set(buffer, v.asInstanceOf[Long], hashes)
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buffer.length) { buffer(i) |= other(i); i += 1 }
    buffer
  }

  require(hashes <= 255, s"hashes must fit the header byte, got $hashes")

  override def eval(buffer: Array[Long]): Any =
    BloomKernel.toFilterBytes(buffer, hashes)

  override def serialize(buffer: Array[Long]): Array[Byte] =
    BloomKernel.toBytes(buffer)
  override def deserialize(bytes: Array[Byte]): Array[Long] =
    BloomKernel.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(nc: Expression): BloomBuildAgg =
    copy(child = nc)
}
