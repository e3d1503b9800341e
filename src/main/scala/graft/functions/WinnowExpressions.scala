package graft.functions

import graft.operators.Winnow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** winnow(text, k, w) -> array<struct<pos, hash>>: MOSS winnowing
  * fingerprints over token k-grams ([[Winnow.fingerprints]]) — the
  * SQL-portable hash family, so the oracle recomputes every selected
  * fingerprint. Null in → null out. */
case class WinnowFp(child: Expression, k: Int, w: Int)
    extends KernelExpression {
  require(k >= 1 && w >= 1, s"k=$k w=$w")

  override def dataType: DataType =
    ArrayType(WinnowFp.fpSchema, containsNull = false)
  override def prettyName: String = "winnow"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(WinnowFp, "compute", k, w)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WinnowFp {
  val fpSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("hash", LongType, nullable = false)))

  /** The kernel; public so generated code can call it. */
  def compute(s: UTF8String, k: Int, w: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val fps = Winnow.fingerprints(s.toString, k, w)
    val rows = new Array[Any](fps.length)
    var i = 0
    while (i < fps.length) {
      rows(i) = new GenericInternalRow(Array[Any](fps(i).pos, fps(i).hash))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }
}
