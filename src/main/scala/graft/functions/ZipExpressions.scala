package graft.functions

import graft.operators.{MediaFixtures, Zip}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** zip_entries(bytes) -> array<struct<name, method, comp_size, size,
  * crc32>>: the central-directory walk ([[Zip.entries]] — EOCD scan,
  * capped counts, encrypted/multi-disk rejected). Listing is
  * metadata-only: no payload is inflated, so triage over a 100 TB
  * archive column costs the directory bytes, not the data. Dirty
  * bytes → null. */
case class ZipEntries(child: Expression) extends KernelExpression {

  override def dataType: DataType =
    ArrayType(ZipEntries.entrySchema, containsNull = false)
  override def prettyName: String = "zip_entries"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(ZipEntries, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object ZipEntries {
  val entrySchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("method", IntegerType, nullable = false),
    StructField("comp_size", LongType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("crc32", LongType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no parse. */
  def compute(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    Zip.entries(bytes) match {
      case Some(es) =>
        val rows = new Array[Any](es.length)
        var i = 0
        while (i < es.length) {
          val e = es(i)
          rows(i) = new GenericInternalRow(Array[Any](
            UTF8String.fromString(e.name), e.method, e.compSize, e.size,
            e.crc32))
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
      case None => null
    }
}

/** zip_extract(bytes, name) -> binary: one entry's verified payload —
  * local-header seek, stored copy or raw-DEFLATE inflate, CRC-32 and
  * exact-length check ([[Zip.extractEntry]]). Missing names,
  * unsupported methods, and corrupt payloads → null. */
case class ZipExtract(left: Expression, right: Expression)
    extends BinaryKernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "zip_extract"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(ZipExtract, "compute")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZipExtract {
  /** The kernel; public so generated code can call it. Null = no entry. */
  def compute(bytes: Array[Byte], name: UTF8String): Array[Byte] =
    Zip.extract(bytes, name.toString).orNull
}

/** zip_media_for_id(id) -> binary ([[MediaFixtures.zipMediaFor]] —
  * stored/deflated archives by parity, closed-form entry text). */
case class ZipMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "zip_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "zipMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
