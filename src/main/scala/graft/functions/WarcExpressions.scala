package graft.functions

import graft.operators.{MediaFixtures, Warc}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** gunzip(bytes) -> binary: REAL gzip decompression (JDK Inflater —
  * header parse, DEFLATE decode, CRC32 verification, multi-member
  * streams), output capped before allocation. The decompression step
  * of every WARC/WET CommonCrawl consumer. Dirty bytes → null. */
case class Gunzip(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "gunzip"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(Gunzip, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Gunzip {
  /** The kernel; public so generated code can call it. */
  def compute(bytes: Array[Byte]): Array[Byte] =
    Warc.gunzip(bytes).orNull
}

/** warc_records(bytes) -> array<struct<rec_type, target_uri,
  * content_length, payload>>: the ISO 28500 record walk with exact
  * Content-Length byte accounting — a length slip desynchronizes the
  * rest of the file and fails the parse. Dirty bytes → null. */
case class WarcRecords(child: Expression) extends KernelExpression {

  override def dataType: DataType =
    ArrayType(WarcRecords.recordSchema, containsNull = false)
  override def prettyName: String = "warc_records"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(WarcRecords, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WarcRecords {
  val recordSchema: StructType = StructType(Seq(
    StructField("rec_type", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = false),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no parse. */
  def compute(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    Warc.parse(bytes) match {
      case Some(rs) =>
        val rows = new Array[Any](rs.length)
        var i = 0
        while (i < rs.length) {
          val r = rs(i)
          rows(i) = new GenericInternalRow(Array[Any](
            UTF8String.fromString(r.recType),
            UTF8String.fromString(r.targetUri),
            r.contentLength, r.payload))
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
      case None => null
    }
}

/** warc_media_for_id(id) -> binary: a gzipped two-record WARC
  * (warcinfo + response with a deterministic HTML page) — the
  * CommonCrawl file shape in miniature ([[MediaFixtures
  * .warcMediaFor]]). */
case class WarcMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "warc_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "warcMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** warczst_media_for_id(id) -> binary: the SAME two-record WARC but
  * zstd-framed — CommonCrawl's newer `.warc.zst` dump shape
  * ([[MediaFixtures.warcZstMediaFor]]). */
case class WarcZstMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "warczst_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "warcZstMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
