package graft.functions

import graft.operators.EditDedup
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

private[functions] object EditKeySchema {
  val schema: StructType = StructType(Seq(
    StructField("la", IntegerType, nullable = false),
    StructField("i", IntegerType, nullable = false),
    StructField("seg", StringType, nullable = false)))

  def rows(keys: Seq[(Int, Int, String)]): GenericArrayData = {
    val out = new Array[Any](keys.length)
    var i = 0
    while (i < keys.length) {
      val (la, idx, seg) = keys(i)
      out(i) = new GenericInternalRow(Array[Any](
        la, idx, UTF8String.fromString(seg)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The [[EditSegments]] kernel. */
  def segments(text: UTF8String, k: Int): GenericArrayData =
    rows(EditDedup.segments(text.toString, k))

  /** The [[EditProbes]] kernel. */
  def probes(text: UTF8String, k: Int): GenericArrayData =
    rows(EditDedup.probes(text.toString, k))
}

/** edit_segments(text) -> array<struct<la,i,seg>>: the k+1 PassJoin
  * segment keys of a string ([[EditDedup.segments]]); `k` is bound at
  * construction. Too-short strings yield an empty array. */
case class EditSegments(child: Expression, k: Int)
    extends KernelExpression {
  require(k >= 1 && k <= 4)

  override def dataType: DataType =
    ArrayType(EditKeySchema.schema, containsNull = false)
  override def prettyName: String = "edit_segments"
  override def kernel: Kernel = Kernel(EditKeySchema, "segments", k)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** edit_probes(text) -> array<struct<la,i,seg>>: every substring that
  * could match a segment of a ±k-length neighbor
  * ([[EditDedup.probes]] — bounded (2k+1)(k+1)(2k+1) keys). */
case class EditProbes(child: Expression, k: Int)
    extends KernelExpression {
  require(k >= 1 && k <= 4)

  override def dataType: DataType =
    ArrayType(EditKeySchema.schema, containsNull = false)
  override def prettyName: String = "edit_probes"
  override def kernel: Kernel = Kernel(EditKeySchema, "probes", k)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
