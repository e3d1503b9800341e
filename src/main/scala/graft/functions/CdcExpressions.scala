package graft.functions

import graft.operators.{Cdc, MediaFixtures}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._

/** cdc_chunks(bytes, min, avg, max) -> array<struct<offset, length,
  * hash>>: gear-CDC content-defined chunk boundaries + xxhash64
  * content ids ([[Cdc.chunks]]) — the binary-dedup primitive. Null
  * in → null out; empty blob → empty array. */
case class CdcChunks(child: Expression, minSize: Int, avgSize: Int,
    maxSize: Int) extends KernelExpression {
  require(Integer.bitCount(avgSize) == 1 && minSize >= 1 &&
    minSize <= avgSize && avgSize <= maxSize,
    s"bad sizes $minSize/$avgSize/$maxSize")

  override def dataType: DataType =
    ArrayType(CdcChunks.chunkSchema, containsNull = false)
  override def prettyName: String = "cdc_chunks"
  override def nullable: Boolean = true
  override def kernel: Kernel =
    Kernel(CdcChunks, "compute", minSize, avgSize, maxSize)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object CdcChunks {
  val chunkSchema: StructType = StructType(Seq(
    StructField("offset", IntegerType, nullable = false),
    StructField("length", IntegerType, nullable = false),
    StructField("hash", LongType, nullable = false)))

  /** The kernel; public so generated code can call it. */
  def compute(bytes: Array[Byte], minSize: Int, avgSize: Int,
      maxSize: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val cs = Cdc.chunks(bytes, minSize, avgSize, maxSize)
    val rows = new Array[Any](cs.length)
    var i = 0
    while (i < cs.length) {
      rows(i) = new GenericInternalRow(Array[Any](
        cs(i).offset, cs(i).length, cs(i).hash))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }
}

/** cdc_media_for_id(id) -> binary ([[MediaFixtures.cdcMediaFor]] —
  * pool-assembled blobs with genuine cross-doc shared content). */
case class CdcMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "cdc_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "cdcMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
