package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Bloom filter bits with a self-describing header. Layout:
  * 4 bytes mBits (big-endian) | 4 bytes k | mBits/8 filter bytes.
  * Merge is bitwise OR — associative/commutative, so map-side partial
  * aggregation is sound and filters compose across batches. */
final class BloomBuffer(val mBits: Int, val k: Int) {
  val bits = new Array[Byte](mBits / 8)

  /** k probe positions via Kirsch-Mitzenmacher double hashing over
    * the 30-bit portable mix: h1 = h mod m, h2 = 2*(h div m)+1 (odd,
    * so every position is reachable when m is a power of two). */
  def add(hash: Long): Unit = {
    val h = java.lang.Math.floorMod(hash, 1L << 30)
    val h1 = h % mBits
    val h2 = (h / mBits) * 2 + 1
    var i = 0
    while (i < k) {
      val p = ((h1 + i * h2) % mBits).toInt
      bits(p >> 3) = (bits(p >> 3) | (1 << (p & 7))).toByte
      i += 1
    }
  }

  def serialized: Array[Byte] = {
    val out = new Array[Byte](8 + bits.length)
    out(0) = (mBits >> 24).toByte; out(1) = (mBits >> 16).toByte
    out(2) = (mBits >> 8).toByte; out(3) = mBits.toByte
    out(4) = (k >> 24).toByte; out(5) = (k >> 16).toByte
    out(6) = (k >> 8).toByte; out(7) = k.toByte
    System.arraycopy(bits, 0, out, 8, bits.length)
    out
  }
}

object BloomBuffer {
  def deserialize(b: Array[Byte]): Option[BloomBuffer] = {
    if (b == null || b.length < 8) return None
    val m = ((b(0) & 0xff) << 24) | ((b(1) & 0xff) << 16) |
      ((b(2) & 0xff) << 8) | (b(3) & 0xff)
    val k = ((b(4) & 0xff) << 24) | ((b(5) & 0xff) << 16) |
      ((b(6) & 0xff) << 8) | (b(7) & 0xff)
    if (m < 64 || m > (1 << 27) || m % 8 != 0 || k < 1 || k > 16 ||
      b.length != 8 + m / 8) return None
    val buf = new BloomBuffer(m, k)
    System.arraycopy(b, 8, buf.bits, 0, buf.bits.length)
    Some(buf)
  }
}

/** bloom_build(hash, m_bits, k) -> binary
  *
  * Mergeable Bloom filter over the SQL-portable mix — the membership
  * structure that turns decontamination into a broadcast: build one
  * bounded bit array over the benchmark/blocklist side, broadcast it,
  * and filter a 100 TB corpus with a per-row map (no shuffle of the
  * corpus, no join). False positives only (tunable via m/k), never
  * false negatives — the safe direction for decontamination, where an
  * FP just drops one extra doc. Because positions derive from the
  * portable mix by pure integer arithmetic, an external SQL engine
  * re-derives the EXACT bit set and every membership verdict —
  * including which false positives fire. */
case class BloomBuild(
    hash: Expression,
    mExpr: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BloomBuffer] {

  private def intLit(e: Expression, what: String): Int =
    e.eval(InternalRow.empty) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"bloom_build: $what must be an integer literal, got $other")
    }
  private lazy val mBits: Int = {
    val v = intLit(mExpr, "m_bits")
    require(v >= 64 && v <= (1 << 27) && Integer.bitCount(v) == 1,
      s"bloom_build: m_bits=$v must be a power of two in [64, 2^27]")
    v
  }
  private lazy val k: Int = {
    val v = intLit(kExpr, "k")
    require(v >= 1 && v <= 16, s"bloom_build: k=$v out of [1, 16]")
    v
  }

  override def children: Seq[Expression] = Seq(hash, mExpr, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    if (hash.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_build requires a bigint hash column (use the portable " +
          s"mix), got ${hash.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): BloomBuffer =
    new BloomBuffer(mBits, k)

  override def update(buf: BloomBuffer, input: InternalRow): BloomBuffer = {
    val h = hash.eval(input)
    if (h != null) buf.add(h.asInstanceOf[Long])
    buf
  }

  override def merge(buf: BloomBuffer, other: BloomBuffer): BloomBuffer = {
    var i = 0
    while (i < buf.bits.length) {
      buf.bits(i) = (buf.bits(i) | other.bits(i)).toByte
      i += 1
    }
    buf
  }

  override def eval(buf: BloomBuffer): Any = buf.serialized

  override def serialize(buf: BloomBuffer): Array[Byte] = buf.serialized
  override def deserialize(bytes: Array[Byte]): BloomBuffer =
    BloomBuffer.deserialize(bytes).getOrElse(
      throw new IllegalStateException("corrupt bloom buffer"))

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuild =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuild =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(hash = newChildren(0), mExpr = newChildren(1),
      kExpr = newChildren(2))

  override def prettyName: String = "bloom_build"
}

/** bloom_contains(filter, hash) -> boolean: the k-probe membership
  * test against a [[BloomBuild]] filter (m and k read from the
  * self-describing header). Malformed filter bytes → null. */
case class BloomContains(left: Expression, right: Expression)
    extends BinaryKernelExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_contains"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(BloomContains, "test")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BloomContains {
  /** The kernel; boxed so malformed filters yield null, not a throw.
    * Probes the serialized bytes IN PLACE — a deserialize here would
    * copy the whole filter per row, turning a broadcast probe into a
    * memcpy of filter-size × corpus-rows (measured: 30 µs/row at
    * m = 2^20 vs ~0.2 µs in-place). */
  def test(filter: Array[Byte], hash: Long): java.lang.Boolean = {
    if (filter == null || filter.length < 8) return null
    val m = ((filter(0) & 0xff) << 24) | ((filter(1) & 0xff) << 16) |
      ((filter(2) & 0xff) << 8) | (filter(3) & 0xff)
    val k = ((filter(4) & 0xff) << 24) | ((filter(5) & 0xff) << 16) |
      ((filter(6) & 0xff) << 8) | (filter(7) & 0xff)
    if (m < 64 || m > (1 << 27) || m % 8 != 0 || k < 1 || k > 16 ||
      filter.length != 8 + m / 8) return null
    val h = java.lang.Math.floorMod(hash, 1L << 30)
    val h1 = h % m
    val h2 = (h / m) * 2 + 1
    var i = 0
    while (i < k) {
      val p = ((h1 + i * h2) % m).toInt
      if ((filter(8 + (p >> 3)) & (1 << (p & 7))) == 0)
        return java.lang.Boolean.FALSE
      i += 1
    }
    java.lang.Boolean.TRUE
  }
}
