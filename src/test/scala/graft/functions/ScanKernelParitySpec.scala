package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The six scan kernels (`cosine_sim`, `dot_product`, `l2_norm`,
  * `cosine_sim_packed`, `pq_adc_score`, `pq_adc_score_at`) write their
  * per-row loops into generated code by hand; their interpreted and
  * generated rows must agree on every contract case: float and double
  * elements, a dimension mismatch (null), a zero vector (0.0) and an
  * out-of-range PQ cell or query ordinal (null). */
class ScanKernelParitySpec extends AnyFunSuite {

  private def vec(t: DataType, xs: Double*): Any = t match {
    case FloatType => new GenericArrayData(xs.map(_.toFloat).toArray[Any])
    case _ => new GenericArrayData(xs.toArray[Any])
  }

  private def ref(i: Int, t: DataType) = BoundReference(i, t, nullable = true)

  /** `e` over `rows`, interpreted and generated: the one result per row
    * both paths give (null as `None`). */
  private def eval(e: Expression, rows: Seq[Any]*): Seq[Option[Double]] = {
    val interp = InterpretedUnsafeProjection.createProjection(Seq(e))
    val gen = GenerateUnsafeProjection.generate(Seq(e))
    rows.map { r =>
      val in = InternalRow.fromSeq(r)
      val (a, b) = (interp(in).copy(), gen(in).copy())
      assert(a == b, s"${e.prettyName} on $r: $a vs $b")
      if (a.isNullAt(0)) None else Some(a.getDouble(0))
    }
  }

  private def cosine(x: Seq[Double], y: Seq[Double]): Double = {
    val dot = x.zip(y).map { case (a, b) => a * b }.sum
    dot / (math.sqrt(x.map(a => a * a).sum) * math.sqrt(y.map(a => a * a).sum))
  }

  private val elems = Seq(FloatType, DoubleType)

  test("cosine_sim and dot_product: float and double elements, a " +
    "dimension mismatch is null, a zero vector scores 0.0") {
    for (lt <- elems; rt <- elems) {
      val (l, r) = (ref(0, ArrayType(lt)), ref(1, ArrayType(rt)))
      val rows = Seq(
        Seq(vec(lt, 1, 2, 3), vec(rt, 4, 5, 6)),
        Seq(vec(lt, 1, 2), vec(rt, 1, 2, 3)),
        Seq(vec(lt, 0, 0, 0), vec(rt, 1, 2, 3)),
        Seq(null, vec(rt, 1, 2, 3)))
      assert(eval(CosineSimilarity(l, r), rows: _*) == Seq(
        Some(cosine(Seq(1, 2, 3), Seq(4, 5, 6))), None, Some(0.0), None))
      assert(eval(DotProduct(l, r), rows: _*) ==
        Seq(Some(32.0), None, Some(0.0), None))
    }
  }

  test("l2_norm: float and double elements, a zero or empty vector is 0.0") {
    for (t <- elems) {
      assert(eval(L2Norm(ref(0, ArrayType(t))), Seq(vec(t, 3, 4)),
        Seq(vec(t, 0, 0)), Seq(vec(t)), Seq(null)) ==
        Seq(Some(5.0), Some(0.0), Some(0.0), None))
    }
  }

  test("cosine_sim_packed: mismatched blob lengths are null, a zero " +
    "vector scores 0.0") {
    import PackedVectors.packFloats
    val e = CosineSimPacked(ref(0, BinaryType), ref(1, BinaryType))
    assert(eval(e,
      Seq(packFloats(Array(1f, 2f, 3f)), packFloats(Array(4f, 5f, 6f))),
      Seq(packFloats(Array(1f, 2f)), packFloats(Array(1f, 2f, 3f))),
      Seq(packFloats(Array(0f, 0f)), packFloats(Array(1f, 2f))),
      Seq(packFloats(Array(1f)), null)) ==
      Seq(Some(cosine(Seq(1, 2, 3), Seq(4, 5, 6))), None, Some(0.0), None))
  }

  // m = 2 sub-spaces of ksub = 3 cells, flattened row-major
  private val dots = Array(1f, 2f, 3f, -1f, 0.5f, 4f)
  private val normsq = Array(1f, 4f, 9f, 1f, 0f, 16f)

  test("pq_adc_score: an out-of-range cell or a wrong code length is " +
    "null, a zero query or zero reconstruction scores 0.0") {
    val e = PqAdcScore(ref(0, BinaryType), dots, normsq, 2.0, 2)
    assert(eval(e, Seq(Array[Byte](1, 2)), Seq(Array[Byte](1, 3)),
      Seq(Array[Byte](1, 2, 0)), Seq(null)) ==
      Seq(Some((2.0 + 4.0) / (2.0 * math.sqrt(4.0 + 16.0))), None, None, None))
    val zeroNorms = Array(0f, 4f, 9f, 1f, 0f, 16f)
    assert(eval(PqAdcScore(ref(0, BinaryType), dots, zeroNorms, 2.0, 2),
      Seq(Array[Byte](0, 1))) == Seq(Some(0.0)))
    assert(eval(PqAdcScore(ref(0, BinaryType), dots, normsq, 0.0, 2),
      Seq(Array[Byte](1, 2))) == Seq(Some(0.0)))
  }

  test("pq_adc_score_at: an out-of-range query ordinal or cell is null, " +
    "a zero query scores 0.0") {
    // two stacked queries: the second table is the first doubled
    val e = PqAdcScoreAt(ref(0, BinaryType), ref(1, IntegerType),
      dots ++ dots.map(_ * 2), normsq ++ normsq, Array(2.0, 0.0), 2)
    val code = Array[Byte](1, 2)
    assert(eval(e, Seq(code, 0), Seq(code, 1), Seq(code, 2), Seq(code, -1),
      Seq(Array[Byte](1, 3), 0), Seq(Array[Byte](1), 0), Seq(code, null)) ==
      Seq(Some((2.0 + 4.0) / (2.0 * math.sqrt(4.0 + 16.0))), Some(0.0),
        None, None, None, None, None))
  }
}
