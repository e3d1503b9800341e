package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** pq_encode(vec) -> binary: product-quantization code — the vector is
  * split into `m` contiguous subvectors and each is replaced by the id
  * (one byte, ksub <= 256) of its nearest sub-codebook centroid by L2
  * distance (Jegou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011). dim-64 float vectors (256 B) become m=8 bytes:
  * a 32x smaller scan — at 100 TB of embeddings that is the difference
  * between reading 100 TB and reading ~3 TB.
  *
  * The codebooks ride inside the expression (m x ksub x dsub floats —
  * a few hundred KB — broadcast with the serialized plan), same pattern
  * as [[NearestCentroid]]. A vector whose dimension doesn't match
  * m*dsub yields null (same loud-mismatch contract as the cosine
  * kernels). */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends KernelExpression {
  require(codebooks.nonEmpty && codebooks(0).nonEmpty &&
    codebooks(0)(0).nonEmpty, "pq_encode: empty codebook")
  require(codebooks(0).length <= 256,
    s"pq_encode: ksub must fit one byte, got ${codebooks(0).length}")

  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode"
  override def nullable: Boolean = true
  override def inputTypes: Seq[Seq[DataType]] = Seq(KernelCall.Vector)

  @transient private lazy val quantizer = PqQuantizer(codebooks)
  override def kernel: Kernel =
    Kernel(quantizer, "encode", KernelCall.floatElems(child))

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** The sub-codebooks of [[PqEncode]] as its kernel owner — also the
  * loop of the driver-side `Pq.Model.encode`. */
final case class PqQuantizer(codebooks: Array[Array[Array[Float]]]) {

  /** The code of `v`: per subvector the id of its L2-nearest
    * sub-centroid; null when `v` is not m*dsub long. */
  def encode(v: ArrayData, floatElems: Int): Array[Byte] = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    if (v.numElements() != m * dsub) return null
    val code = new Array[Byte](m)
    var j = 0
    while (j < m) {
      val book = codebooks(j)
      val off = j * dsub
      var best = 0
      var bestDist = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val cen = book(c)
        var dist = 0.0
        var i = 0
        while (i < dsub) {
          val x = if (floatElems == 1) v.getFloat(off + i).toDouble
                  else v.getDouble(off + i)
          val d = x - cen(i)
          dist += d * d
          i += 1
        }
        if (dist < bestDist) { bestDist = dist; best = c }
        c += 1
      }
      code(j) = best.toByte
      j += 1
    }
    code
  }
}

/** pq_adc_score(code) -> double: asymmetric distance computation — the
  * approximate cosine similarity between the (uncompressed) query and a
  * PQ-coded vector, via per-query lookup tables built once driver-side:
  *
  *   dot(q, v~)    = sum_j dots(j, code_j)      (q_j . centroid)
  *   ||v~||^2      = sum_j normsq(j, code_j)    (centroid norm^2)
  *   score         = dot / (||q|| * sqrt(||v~||^2))
  *
  * Scoring a row is m table lookups + adds — no per-dimension work at
  * scan time, which is the whole point of ADC: the 100 TB scan touches
  * only the m-byte codes and a lookup table that fits in L1.
  *
  * `dots` and `normsq` are flattened m x ksub row-major. Null when the
  * code length doesn't match m (loud-mismatch contract).
  *
  * Real `doGenCode` (the tables ride as codegen reference objects), so
  * the ADC scan stays inside whole-stage codegen — measured 3x over
  * the interpreted fallback at 10M rows: the per-row cost is the whole
  * operator, there is no heavy kernel to amortize an interpreter. */
case class PqAdcScore(
    child: Expression,
    dots: Array[Float],
    normsq: Array[Float],
    qNorm: Double,
    m: Int)
    extends UnaryExpression {
  require(m > 0 && dots.length == normsq.length && dots.length % m == 0,
    "pq_adc_score: table shape mismatch")

  private val ksub = dots.length / m

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_score"
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val code = input.asInstanceOf[Array[Byte]]
    if (code.length != m) return null
    var dot = 0.0
    var nsq = 0.0
    var j = 0
    while (j < m) {
      val cell = code(j) & 0xff
      // a cell id past ksub means the code came from a different-ksub
      // model (or is corrupt): null, same loud-mismatch contract as the
      // length check — never an index error or a silent wrong lookup
      if (cell >= ksub) return null
      val idx = j * ksub + cell
      dot += dots(idx)
      nsq += normsq(idx)
      j += 1
    }
    if (qNorm == 0.0 || nsq <= 0.0) 0.0
    else dot / (qNorm * math.sqrt(nsq))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, code => {
      val dotsRef = ctx.addReferenceObj("adcDots", dots, "float[]")
      val normRef = ctx.addReferenceObj("adcNormsq", normsq, "float[]")
      val dot = ctx.freshName("dot"); val nsq = ctx.freshName("nsq")
      val j = ctx.freshName("j"); val idx = ctx.freshName("idx")
      val cell = ctx.freshName("cell"); val bad = ctx.freshName("bad")
      s"""
        if ($code.length != $m) {
          ${ev.isNull} = true;
        } else {
          double $dot = 0.0; double $nsq = 0.0;
          boolean $bad = false;
          for (int $j = 0; $j < $m; $j++) {
            int $cell = $code[$j] & 0xff;
            if ($cell >= $ksub) { $bad = true; break; }
            int $idx = $j * $ksub + $cell;
            $dot += $dotsRef[$idx]; $nsq += $normRef[$idx];
          }
          if ($bad) {
            ${ev.isNull} = true;
          } else {
            ${ev.value} = (${qNorm}D == 0.0 || $nsq <= 0.0)
              ? 0.0 : $dot / (${qNorm}D * Math.sqrt($nsq));
          }
        }
      """
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** pq_adc_score_at(code, ord) -> double: the BATCH form of
  * [[PqAdcScore]] — one expression carries the stacked lookup tables
  * of EVERY query in the batch ([nq][m*ksub] flattened row-major), and
  * `ord` selects the query's slice at eval time. The (code x query)
  * pair scan stays m lookups + adds per pair, and the tables ride the
  * serialized plan once per batch instead of once per query. */
case class PqAdcScoreAt(
    left: Expression,   // code: binary
    right: Expression,  // ord: int — query ordinal in the batch
    dots: Array[Float],
    normsq: Array[Float],
    qNorms: Array[Double],
    m: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(m > 0 && dots.length == normsq.length && qNorms.nonEmpty &&
    dots.length % qNorms.length == 0 &&
    (dots.length / qNorms.length) % m == 0,
    "pq_adc_score_at: table shape mismatch")

  private val perQuery = dots.length / qNorms.length
  private val ksub = perQuery / m

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_score_at"
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (binary, int), got $other")
    }

  override def nullSafeEval(code0: Any, ord0: Any): Any = {
    val code = code0.asInstanceOf[Array[Byte]]
    val ord = ord0.asInstanceOf[Int]
    if (code.length != m || ord < 0 || ord >= qNorms.length) return null
    val base = ord * perQuery
    var dot = 0.0
    var nsq = 0.0
    var j = 0
    while (j < m) {
      val cell = code(j) & 0xff
      // out-of-range cell would silently read into the NEXT query's
      // table slice — null instead (loud-mismatch contract)
      if (cell >= ksub) return null
      val idx = base + j * ksub + cell
      dot += dots(idx)
      nsq += normsq(idx)
      j += 1
    }
    val qn = qNorms(ord)
    if (qn == 0.0 || nsq <= 0.0) 0.0 else dot / (qn * math.sqrt(nsq))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (code, ord) => {
      val dotsRef = ctx.addReferenceObj("adcDotsAll", dots, "float[]")
      val normRef = ctx.addReferenceObj("adcNormsqAll", normsq, "float[]")
      val qnRef = ctx.addReferenceObj("adcQNorms", qNorms, "double[]")
      val dot = ctx.freshName("dot"); val nsq = ctx.freshName("nsq")
      val j = ctx.freshName("j"); val idx = ctx.freshName("idx")
      val base = ctx.freshName("base"); val qn = ctx.freshName("qn")
      val cell = ctx.freshName("cell"); val bad = ctx.freshName("bad")
      s"""
        if ($code.length != $m || $ord < 0 || $ord >= ${qNorms.length}) {
          ${ev.isNull} = true;
        } else {
          int $base = $ord * $perQuery;
          double $dot = 0.0; double $nsq = 0.0;
          boolean $bad = false;
          for (int $j = 0; $j < $m; $j++) {
            int $cell = $code[$j] & 0xff;
            if ($cell >= $ksub) { $bad = true; break; }
            int $idx = $base + $j * $ksub + $cell;
            $dot += $dotsRef[$idx]; $nsq += $normRef[$idx];
          }
          if ($bad) {
            ${ev.isNull} = true;
          } else {
            double $qn = $qnRef[$ord];
            ${ev.value} = ($qn == 0.0 || $nsq <= 0.0)
              ? 0.0 : $dot / ($qn * Math.sqrt($nsq));
          }
        }
      """
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}
