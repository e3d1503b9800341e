package graft.functions

import graft.operators.{MediaFixtures, ParquetMeta}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** parquet_meta(bytes) -> struct<version, num_rows, row_groups,
  * total_byte_size, created_by, fields:array<string>>: footer triage
  * of a parquet BLOB via a real Thrift compact-protocol decode of
  * FileMetaData ([[ParquetMeta.parse]]) — no table mount, no column
  * reads, just the tail bytes. Dirty bytes → null. */
case class ParquetMetaExpr(child: Expression) extends KernelExpression {

  override def dataType: DataType = ParquetMetaExpr.schema
  override def prettyName: String = "parquet_meta"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(ParquetMetaExpr, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object ParquetMetaExpr {
  val schema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("num_rows", LongType, nullable = false),
    StructField("row_groups", IntegerType, nullable = false),
    StructField("total_byte_size", LongType, nullable = false),
    StructField("created_by", StringType, nullable = false),
    StructField("fields", ArrayType(StringType, containsNull = false),
      nullable = false)))

  /** The kernel; public so generated code can call it. Null = no parse. */
  def compute(bytes: Array[Byte]): GenericInternalRow =
    ParquetMeta.parse(bytes) match {
      case Some(m) => new GenericInternalRow(Array[Any](
        m.version, m.numRows, m.rowGroups, m.totalByteSize,
        UTF8String.fromString(m.createdBy),
        new GenericArrayData(
          m.fields.map(UTF8String.fromString).toArray[Any])))
      case None => null
    }
}

/** parquet_media_for_id(id) -> binary ([[MediaFixtures
  * .parquetMediaFor]] — footer-complete parquet blobs). */
case class ParquetMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "parquet_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "parquetMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
