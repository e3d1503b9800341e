package graft.functions

import graft.operators.{MediaFixtures, Ogg}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ogg_meta(bytes) -> struct<codec, channels, sample_rate, pages,
  * packets, last_granule>: the RFC 3533 page walk with every page's
  * CRC-32 verified (Ogg polynomial, crc field zeroed), lacing-table
  * packet accounting, and Vorbis/Opus identification from the BOS
  * packet ([[Ogg.parse]]). Dirty bytes → null. */
case class OggMeta(child: Expression) extends KernelExpression {

  override def dataType: DataType = OggMeta.schema
  override def prettyName: String = "ogg_meta"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(OggMeta, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object OggMeta {
  val schema: StructType = StructType(Seq(
    StructField("codec", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("pages", IntegerType, nullable = false),
    StructField("packets", IntegerType, nullable = false),
    StructField("last_granule", LongType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no parse. */
  def compute(bytes: Array[Byte]): GenericInternalRow =
    Ogg.parse(bytes) match {
      case Some(m) => new GenericInternalRow(Array[Any](
        UTF8String.fromString(m.codec), m.channels, m.sampleRate,
        m.pages, m.packets, m.lastGranule))
      case None => null
    }
}

/** ogg_media_for_id(id) -> binary ([[MediaFixtures.oggMediaFor]] —
  * Vorbis/Opus alternating, closed-form page/packet/granule shapes). */
case class OggMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "ogg_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "oggMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
