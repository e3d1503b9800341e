package graft.functions

import graft.operators.{MediaFixtures, Tar}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** tar_entries(bytes) -> array<struct<name, size, typeflag>>: the
  * ustar header walk with per-header checksum verification — a
  * flipped byte fails the file instead of desynchronizing later
  * offsets ([[Tar.entries]]). Compose with gunzip() for `.tar.gz`.
  * Dirty bytes → null. */
case class TarEntries(child: Expression) extends KernelExpression {

  override def dataType: DataType =
    ArrayType(TarEntries.entrySchema, containsNull = false)
  override def prettyName: String = "tar_entries"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(TarEntries, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object TarEntries {
  val entrySchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("typeflag", StringType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no parse. */
  def compute(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    Tar.entries(bytes) match {
      case Some(es) =>
        val rows = new Array[Any](es.length)
        var i = 0
        while (i < es.length) {
          val e = es(i)
          rows(i) = new GenericInternalRow(Array[Any](
            UTF8String.fromString(e.name), e.size,
            UTF8String.fromString(e.typeflag.toString)))
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
      case None => null
    }
}

/** tar_extract(bytes, name) -> binary: one regular file's bytes by
  * exact name ([[Tar.extract]]). Missing names → null. */
case class TarExtract(left: Expression, right: Expression)
    extends BinaryKernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "tar_extract"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(TarExtract, "compute")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TarExtract {
  /** The kernel; public so generated code can call it. Null = no entry. */
  def compute(bytes: Array[Byte], name: UTF8String): Array[Byte] =
    Tar.extract(bytes, name.toString).orNull
}

/** targz_media_for_id(id) -> binary ([[MediaFixtures.tarGzMediaFor]]
  * — a gzipped ustar archive with closed-form text entries). */
case class TarGzMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "targz_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "tarGzMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
