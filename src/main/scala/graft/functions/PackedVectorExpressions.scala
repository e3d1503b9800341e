package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Packed vector storage: a dim-d float vector as a 4·d-byte binary
  * blob, **little-endian IEEE754 by contract** — persisted packed
  * indexes stay portable across architectures.
  *
  * Parquet `array<float>` pays per-element assembly (offsets,
  * definition levels, object headers) on every scan; a fixed-width
  * BINARY column decodes as one byte-array copy and scores via direct
  * unsafe reads — the layout a columnar vector engine uses internally.
  * `ScaleBench` measures the scan-speed difference; both layouts are
  * first-class (`pack_vector` / `unpack_vector` convert).
  */
object PackedVectors {
  /** Whether the fast native-order Platform path already IS the
    * contract order (true everywhere Spark commonly runs: x86, arm). */
  private val nativeIsLE =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN

  def putFloatLE(out: Array[Byte], i: Int, v: Float): Unit =
    if (nativeIsLE)
      Platform.putFloat(out, Platform.BYTE_ARRAY_OFFSET + i * 4L, v)
    else {
      val bits = java.lang.Float.floatToIntBits(v)
      out(i * 4) = bits.toByte
      out(i * 4 + 1) = (bits >>> 8).toByte
      out(i * 4 + 2) = (bits >>> 16).toByte
      out(i * 4 + 3) = (bits >>> 24).toByte
    }

  def getFloatLE(bytes: Array[Byte], i: Int): Float =
    if (nativeIsLE)
      Platform.getFloat(bytes, Platform.BYTE_ARRAY_OFFSET + i * 4L)
    else java.lang.Float.intBitsToFloat(
      (bytes(i * 4) & 0xff) | ((bytes(i * 4 + 1) & 0xff) << 8) |
        ((bytes(i * 4 + 2) & 0xff) << 16) | ((bytes(i * 4 + 3) & 0xff) << 24))

  def pack(arr: ArrayData): Array[Byte] = {
    val n = arr.numElements()
    val out = new Array[Byte](n * 4)
    var i = 0
    while (i < n) {
      // fail fast: silently packing a null element as 0.0 would corrupt
      // similarities with no error surface
      if (arr.isNullAt(i)) throw new IllegalArgumentException(
        s"pack_vector: null element at position $i")
      putFloatLE(out, i, arr.getFloat(i))
      i += 1
    }
    out
  }

  def unpack(bytes: Array[Byte]): GenericArrayData = {
    val n = bytes.length / 4
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = getFloatLE(bytes, i)
      i += 1
    }
    new GenericArrayData(out)
  }

  def packFloats(v: Array[Float]): Array[Byte] = {
    val out = new Array[Byte](v.length * 4)
    var i = 0
    while (i < v.length) { putFloatLE(out, i, v(i)); i += 1 }
    out
  }
}

/** pack_vector(array<float>) -> binary. */
case class PackVector(child: Expression) extends KernelExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pack_vector"
  override def inputTypes: Seq[Seq[DataType]] = Seq(Seq(ArrayType(FloatType)))
  override def kernel: Kernel = Kernel(PackedVectors, "pack")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** unpack_vector(binary) -> array<float>. */
case class UnpackVector(child: Expression) extends KernelExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "unpack_vector"
  override def kernel: Kernel = Kernel(PackedVectors, "unpack")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** cosine_sim_packed(binary, binary) -> double — the packed-layout twin
  * of [[CosineSimilarity]]: identical math (double accumulation in
  * array order), reads floats straight out of the blob.
  * Mismatched blob lengths yield NULL, matching the unpacked kernel's
  * dim-mismatch contract. */
case class CosineSimPacked(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim_packed"
  // null on dim mismatch even for non-null inputs
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (binary, binary), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    if (x.length != y.length) return null
    val n = x.length / 4
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = PackedVectors.getFloatLE(x, i).toDouble
      val yi = PackedVectors.getFloatLE(y, i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val P = "graft.functions.PackedVectors"
      s"""
        if ($a.length != $b.length) {
          ${ev.isNull} = true;
        } else {
          int $n = $a.length / 4;
          double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $xi = (double) $P.getFloatLE($a, $i);
            double $yi = (double) $P.getFloatLE($b, $i);
            $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
          }
          ${ev.value} = ($nx == 0.0 || $ny == 0.0)
            ? 0.0 : $dot / (Math.sqrt($nx) * Math.sqrt($ny));
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
