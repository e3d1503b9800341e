package graft.functions

import graft.operators.{MediaFixtures, Mp3}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** mp3_meta(bytes) -> struct<...>: REAL MPEG-audio header triage
  * ([[Mp3.meta]] — ID3 skipping, per-frame header validation via the
  * frame-length walk, bitrate/rate table lookups, duration). The
  * payload entropy decode stays behind the external-codec seam; the
  * metadata a pipeline filters on is fully real. Dirty bytes →
  * null. */
case class Mp3Meta(child: Expression) extends KernelExpression {

  override def dataType: DataType = Mp3Meta.schema
  override def prettyName: String = "mp3_meta"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(Mp3Meta, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Mp3Meta {
  val schema: StructType = StructType(Seq(
    StructField("version", StringType, nullable = false),
    StructField("layer", IntegerType, nullable = false),
    StructField("bitrate_kbps", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("has_id3", BooleanType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no parse. */
  def compute(bytes: Array[Byte]): GenericInternalRow =
    Mp3.meta(bytes) match {
      case Some(m) => new GenericInternalRow(Array[Any](
        UTF8String.fromString(m.version), m.layer, m.bitrateKbps,
        m.sampleRate, m.channels, m.nFrames, m.durationMs, m.hasId3))
      case None => null
    }
}

/** mp3_media_for_id(id) -> binary: the MP3 fixture bytes
  * ([[MediaFixtures.mp3MediaFor]]). */
case class Mp3MediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "mp3_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "mp3MediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** ulaw_media_for_id(id) -> binary: the G.711 µ-law WAV fixture bytes
  * ([[MediaFixtures.ulawMediaFor]]). */
case class UlawMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "ulaw_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "ulawMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** webp_media_for_id(id) -> binary: the WebP container fixture bytes
  * ([[MediaFixtures.webpMediaFor]] — VP8 /VP8L/VP8X cycling). */
case class WebpMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "webp_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "webpMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
