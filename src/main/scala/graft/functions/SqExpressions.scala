package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Elementwise running min/max of fixed-dimension vectors — the
  * training statistic of scalar quantization ([[Sq8Encode]]), kept in
  * one dim-length buffer pair per group exactly like [[VecSumBuffer]]
  * (the `posexplode → groupBy(pos)` formulation would put row×dim
  * through the shuffle). */
final class VecMinMaxBuffer(
    var mins: Array[Double], var maxs: Array[Double], var count: Long) {
  def add(arr: ArrayData, isFloat: Boolean): Unit = {
    val n = arr.numElements()
    if (mins == null) {
      mins = Array.fill(n)(Double.PositiveInfinity)
      maxs = Array.fill(n)(Double.NegativeInfinity)
    }
    require(mins.length == n,
      s"vector_minmax: dimension mismatch (${mins.length} vs $n)")
    var i = 0
    while (i < n) {
      val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      if (v < mins(i)) mins(i) = v
      if (v > maxs(i)) maxs(i) = v
      i += 1
    }
    count += 1
  }

  def merge(other: VecMinMaxBuffer): Unit = {
    if (other.mins != null) {
      if (mins == null) {
        mins = other.mins; maxs = other.maxs; count = other.count
      } else {
        require(mins.length == other.mins.length,
          s"vector_minmax: dimension mismatch (${mins.length} vs ${other.mins.length})")
        var i = 0
        while (i < mins.length) {
          if (other.mins(i) < mins(i)) mins(i) = other.mins(i)
          if (other.maxs(i) > maxs(i)) maxs(i) = other.maxs(i)
          i += 1
        }
        count += other.count
      }
    }
  }
}

/** vector_minmax(vec) -> struct<mins array<double>, maxs
  * array<double>>: per-dimension range in ONE partial aggregate. */
case class VectorMinMax(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecMinMaxBuffer] {

  private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("mins", ArrayType(DoubleType, containsNull = false)),
    StructField("maxs", ArrayType(DoubleType, containsNull = false))))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double>, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): VecMinMaxBuffer =
    new VecMinMaxBuffer(null, null, 0L)

  override def update(buf: VecMinMaxBuffer, input: InternalRow): VecMinMaxBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[ArrayData], isFloat)
    buf
  }

  override def merge(buf: VecMinMaxBuffer, other: VecMinMaxBuffer): VecMinMaxBuffer = {
    buf.merge(other); buf
  }

  override def eval(buf: VecMinMaxBuffer): Any = {
    if (buf.count == 0L) return null
    InternalRow(
      new GenericArrayData(buf.mins.map(x => x: Any)),
      new GenericArrayData(buf.maxs.map(x => x: Any)))
  }

  override def serialize(buf: VecMinMaxBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.count)
    val n = if (buf.mins == null) -1 else buf.mins.length
    out.writeInt(n)
    var i = 0
    while (i < n) {
      out.writeDouble(buf.mins(i)); out.writeDouble(buf.maxs(i)); i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VecMinMaxBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val count = in.readLong()
    val n = in.readInt()
    if (n < 0) new VecMinMaxBuffer(null, null, count)
    else {
      val mins = new Array[Double](n)
      val maxs = new Array[Double](n)
      var i = 0
      while (i < n) {
        mins(i) = in.readDouble(); maxs(i) = in.readDouble(); i += 1
      }
      new VecMinMaxBuffer(mins, maxs, count)
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorMinMax =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorMinMax =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def prettyName: String = "vector_minmax"
}

/** Frozen per-dimension scalar-quantization model: mins and scales
  * ((max−min)/255) from the FULL corpus (one [[VectorMinMax]]
  * aggregate — exactly re-derivable by an external SQL engine, unlike
  * a sampled codebook). A constant dimension (scale 0) encodes as
  * code 0 and dequantizes to its min. */
case class Sq8Model(mins: Array[Double], scales: Array[Double]) {
  require(mins.length == scales.length && mins.nonEmpty, "bad model")
  def dim: Int = mins.length

  /** The [[Sq8Encode]] kernel: null on dimension mismatch. */
  def encode(arr: ArrayData, floatElems: Int): Array[Byte] = {
    if (arr.numElements() != dim) return null
    val out = new Array[Byte](dim)
    var i = 0
    while (i < dim) {
      val v = if (floatElems == 1) arr.getFloat(i).toDouble else arr.getDouble(i)
      val code =
        if (scales(i) == 0.0) 0L
        else {
          val c = Math.round((v - mins(i)) / scales(i))
          if (c < 0L) 0L else if (c > 255L) 255L else c
        }
      out(i) = code.toByte
      i += 1
    }
    out
  }
}

/** `sq8_encode(vec)` under a [[Sq8Model]] → BINARY of `dim` bytes:
  * code_i = round((v_i − min_i) / scale_i), the faiss SQ8 recipe —
  * 4× smaller than float32 at near-full recall. Null vector → null;
  * dimension mismatch → null (the dirty-input contract). */
case class Sq8Encode(child: Expression, model: Sq8Model)
    extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "sq8_encode"
  override def inputTypes: Seq[Seq[DataType]] = Seq(KernelCall.Vector)
  override def kernel: Kernel =
    Kernel(model, "encode", KernelCall.floatElems(child))

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** An [[Sq8Model]] bound to one full-precision query: the
  * [[Sq8Cosine]] kernel owner. */
final case class Sq8Query(model: Sq8Model, query: Array[Double]) {

  /** Asymmetric cosine of a code to the query; null for a code of the
    * wrong length. */
  def cosine(code: Array[Byte]): java.lang.Double = {
    if (code.length != model.dim) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < code.length) {
      val x = model.mins(i) + (code(i) & 0xff).toDouble * model.scales(i)
      dot += x * query(i); na += x * x; nb += query(i) * query(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** `sq8_cosine(code)` under a [[Sq8Model]] and a full-precision query
  * → DOUBLE asymmetric cosine (query exact, corpus dequantized) —
  * the ADC evaluation of the SQ family. Null/short code → null. */
case class Sq8Cosine(child: Expression, model: Sq8Model, query: Array[Double])
    extends KernelExpression {
  require(query.length == model.dim, "query dimension mismatch")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sq8_cosine"

  @transient private lazy val scorer = Sq8Query(model, query)
  override def kernel: Kernel = Kernel(scorer, "cosine")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
