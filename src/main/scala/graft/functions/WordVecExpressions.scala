package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Elementwise running sum of fixed-dimension LONG vectors. The long
  * twin of [[VecSumBuffer]]: integer addition is associative, so the
  * aggregate is bit-exact under any partial-merge order — the property
  * [[graft.operators.WordVec.train]] needs to make two training runs
  * (the declared query's and the aux dump's) produce IDENTICAL models
  * (a double buffer would drift in the last ulp with task scheduling). */
final class LongVecBuffer(var sums: Array[Long], var seen: Boolean) {
  def add(arr: ArrayData): Unit = {
    val n = arr.numElements()
    if (sums == null) sums = new Array[Long](n)
    require(sums.length == n,
      s"vector_sum_long: dimension mismatch (${sums.length} vs $n)")
    var i = 0
    while (i < n) { sums(i) += arr.getLong(i); i += 1 }
    seen = true
  }

  def merge(other: LongVecBuffer): Unit = {
    if (other.sums != null) {
      if (sums == null) { sums = other.sums; seen = other.seen }
      else {
        require(sums.length == other.sums.length,
          s"vector_sum_long: dimension mismatch")
        var i = 0
        while (i < sums.length) { sums(i) += other.sums(i); i += 1 }
        seen |= other.seen
      }
    }
  }
}

/** vector_sum_long(vec array<long>) -> array<long>: elementwise sum
  * with one dim-length buffer per group on the map side (same shuffle
  * shape as [[VectorAvg]]: partitions × groups buffers, independent of
  * row count). Null vectors are skipped; an all-null group is null. */
case class VectorSumLong(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LongVecBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): LongVecBuffer =
    new LongVecBuffer(null, false)

  override def update(buf: LongVecBuffer, input: InternalRow): LongVecBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[ArrayData])
    buf
  }

  override def merge(buf: LongVecBuffer, other: LongVecBuffer): LongVecBuffer = {
    buf.merge(other); buf
  }

  override def eval(buf: LongVecBuffer): Any = {
    if (!buf.seen) return null
    val out = new Array[Any](buf.sums.length)
    var i = 0
    while (i < buf.sums.length) { out(i) = buf.sums(i); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: LongVecBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeBoolean(buf.seen)
    val n = if (buf.sums == null) -1 else buf.sums.length
    out.writeInt(n)
    var i = 0
    while (i < n) { out.writeLong(buf.sums(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): LongVecBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val seen = in.readBoolean()
    val n = in.readInt()
    if (n < 0) new LongVecBuffer(null, seen)
    else {
      val sums = new Array[Long](n)
      var i = 0
      while (i < n) { sums(i) = in.readLong(); i += 1 }
      new LongVecBuffer(sums, seen)
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSumLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSumLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def prettyName: String = "vector_sum_long"
}

/** `token_window_pairs(tokens, k)` → array<string> of co-occurrence
  * pairs "w c" (single-space joined, multiplicity preserved) at every
  * offset 1..k — the codegen'd pair kernel behind
  * [[graft.operators.WordVec.train]]. The equivalent
  * `flatten(transform(sequence..., zip_with(slice...)))` higher-order
  * pipeline evaluates its lambdas INTERPRETED per element (the
  * [[TokenBigrams]] lesson, re-measured here: 312 s → 45 s for the
  * 1M-doc training probe). Tokens come from the `[a-z]+|[0-9]+`
  * tokenizer so they cannot contain the separator. */
case class TokenWindowPairs(child: Expression, window: Int)
    extends KernelExpression {
  require(window >= 1 && window <= 16, s"window $window")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_window_pairs"
  // the kernel takes `ArrayData`, which does not name its element type
  override def inputTypes: Seq[Seq[DataType]] = Seq(Seq(ArrayType(StringType)))
  override def kernel: Kernel = Kernel(TokenWindowPairs, "compute", window)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object TokenWindowPairs {
  private val space = UTF8String.fromString(" ")

  /** The kernel; public so generated code can call it. */
  def compute(toks: org.apache.spark.sql.catalyst.util.ArrayData,
      window: Int): GenericArrayData = {
    val n = toks.numElements()
    var total = 0
    var k = 1
    while (k <= window) { total += math.max(n - k, 0); k += 1 }
    val out = new Array[Any](total)
    var o = 0
    k = 1
    while (k <= window) {
      var i = 0
      while (i + k < n) {
        out(o) = UTF8String.concat(
          toks.getUTF8String(i), space, toks.getUTF8String(i + k))
        o += 1
        i += 1
      }
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** `ri_contrib(context, ppmi_micros, dim)` → array<long>: one
  * random-indexing contribution row, `ppmi · h(c, d)` with
  * `h(c, d) = pmod(xxhash64(c, d), 2)·2 − 1` — BIT-IDENTICAL to the
  * Column formulation (the kernel replays Spark's own XXH64 chain:
  * string child at seed 42, then the int dimension index), but
  * codegen'd: the `transform(sequence(...), d -> ...)` higher-order
  * form evaluates its lambda interpreted, and at 12M PPMI rows × 64
  * dims (~770M evals) it dominated the 1M-doc training probe. */
case class RiContrib(left: Expression, right: Expression, dim: Int)
    extends BinaryKernelExpression {
  require(dim >= 1 && dim <= 4096, s"dim $dim")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ri_contrib"
  override def kernel: Kernel = Kernel(RiContrib, "compute", dim)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object RiContrib {
  /** The kernel; public so generated code can call it. Replays
    * `xxhash64(c, d)` exactly: XXH64 over the string bytes at seed 42,
    * then XXH64.hashInt of the dimension with that result as seed. */
  def compute(c: UTF8String, ppmiMicros: Long, dim: Int): GenericArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val h0 = XXH64.hashUnsafeBytes(
      c.getBaseObject, c.getBaseOffset, c.numBytes(), 42L)
    val out = new Array[Any](dim)
    var d = 0
    while (d < dim) {
      val v = XXH64.hashInt(d, h0)
      out(d) = if (((v % 2) + 2) % 2 == 1L) ppmiMicros else -ppmiMicros
      d += 1
    }
    new GenericArrayData(out)
  }
}

/** Frozen mean-pool word-vector model — the learned-encoder twin of
  * [[UnigramModelRef]]'s model-as-reference-object pattern: the
  * bounded (word → dim-length vector) table rides into executors as
  * ONE codegen reference object, so encoding a row is a zero-join,
  * zero-shuffle map that runs identically over a batch table, a
  * structured stream, and the driver-side `similar('text')` rewrite.
  *
  * Semantics (shared bit-for-bit by every deployment form —
  * spec-pinned): tokenize with [[graft.operators.Bm25.TokenPattern]]
  * (`[a-z]+|[0-9]+` over the lowercased text, the oracle-reproducible
  * tokenizer every text operator in this engine uses), mean-pool the
  * in-vocabulary tokens' vectors WITH occurrence multiplicity (DOUBLE
  * summation in token order — the same accumulation [[VectorAvg]]
  * performs in the join form, so frozen == join bit-for-bit — float
  * cast only at the seam boundary), skip out-of-vocabulary tokens,
  * and return null when no token is in vocabulary (a zero vector has
  * no cosine direction — null keeps the no-signal case visible
  * instead of pinning it to an arbitrary axis).
  */
case class WordVecModelRef(vocab: Seq[(String, Array[Float])]) {
  require(vocab.nonEmpty, "word-vector model is empty")

  val dim: Int = vocab.head._2.length

  @transient private lazy val vecs
      : java.util.HashMap[UTF8String, Array[Float]] = {
    val m = new java.util.HashMap[UTF8String, Array[Float]](vocab.size * 2)
    vocab.foreach { case (w, v) =>
      require(v.length == dim,
        s"word-vector model: mixed dimensions (${v.length} vs $dim)")
      m.put(UTF8String.fromString(w), v)
    }
    m
  }

  @transient private lazy val tokenRe: Pattern =
    Pattern.compile(graft.operators.Bm25.TokenPattern)

  /** Mean-pooled vector of `text`, or null if no token is in
    * vocabulary; public so generated code can call it. */
  def encode(text: UTF8String): GenericArrayData = {
    val v = encodeToFloats(text.toString)
    if (v == null) null else {
      val out = new Array[Any](v.length)
      var i = 0
      while (i < v.length) { out(i) = v(i); i += 1 }
      new GenericArrayData(out)
    }
  }

  /** The same kernel over a JVM string — the `String => Array[Float]`
    * face [[graft.TextEncoder]] registers (double accumulation, float
    * cast at the boundary). */
  def encodeToFloats(text: String): Array[Float] = {
    val d = encodeToDoubles(text)
    if (d == null) return null
    val out = new Array[Float](d.length)
    var i = 0
    while (i < d.length) { out(i) = d(i).toFloat; i += 1 }
    out
  }

  /** Double-precision pooling — bit-identical to the corpus join form
    * ([[graft.operators.WordVec.encodeJoin]]: same float values summed
    * as doubles in the same token order). */
  def encodeToDoubles(text: String): Array[Double] = {
    if (text == null) return null
    val m = tokenRe.matcher(text.toLowerCase(java.util.Locale.ROOT))
    val sums = new Array[Double](dim)
    var found = 0
    while (m.find()) {
      val v = vecs.get(UTF8String.fromString(m.group()))
      if (v != null) {
        var i = 0
        while (i < dim) { sums(i) += v(i).toDouble; i += 1 }
        found += 1
      }
    }
    if (found == 0) return null
    var i = 0
    while (i < dim) { sums(i) /= found; i += 1 }
    sums
  }
}

/** `wordvec_embed(text)` → array<float>: the codegen'd-expression
  * deployment form of a [[WordVecModelRef]] — registered per model by
  * [[graft.operators.WordVec.registerSql]], bit-identical to the
  * mapPartitions seam ([[graft.TextEncoder.encodeColumn]] with the
  * same model) and to the driver-side `similar('text')` encode. */
case class WordVecEmbed(child: Expression, model: WordVecModelRef)
    extends KernelExpression {

  override def dataType: DataType =
    ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "wordvec_embed"
  override def kernel: Kernel = Kernel(model, "encode")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
