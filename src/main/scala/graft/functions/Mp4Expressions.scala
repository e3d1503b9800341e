package graft.functions

import graft.operators.{MediaFixtures, Mp4}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** mp4_frame_stats(bytes) -> array<struct<frame,width,height,channels,
  * pix_sum>>: REAL ISO-BMFF demux ([[Mp4.decode]] — box walk + full
  * stsc/stsz/stco sample-table resolution) + one complete baseline
  * JPEG entropy decode per MJPEG sample, reduced to the SAME per-frame
  * stats shape as `avi_frame_stats` — one codegen'd kernel riding the
  * scan, dirty bytes → null. */
case class Mp4FrameStats(child: Expression) extends KernelExpression {

  override def dataType: DataType =
    ArrayType(AviFrameStats.frameSchema, containsNull = false)
  override def prettyName: String = "mp4_frame_stats"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(Mp4FrameStats, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Mp4FrameStats {
  /** The kernel; public so generated code can call it. Null = no decode. */
  def compute(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    Mp4.decode(bytes) match {
      case Some(d) =>
        val rows = new Array[Any](d.frames.length)
        var f = 0
        while (f < d.frames.length) {
          val fr = d.frames(f)
          var sum = 0L
          var i = 0
          while (i < fr.pixels.length) { sum += (fr.pixels(i) & 0xff); i += 1 }
          rows(f) = new GenericInternalRow(
            Array[Any](f, fr.width, fr.height, fr.channels, sum))
          f += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
      case None => null
    }
}

/** mp4_meta(bytes) -> array<struct<...>>: typed container metadata for
  * EVERY track of an ISO-BMFF file regardless of codec — the crawl
  * triage surface: an `avc1`/`mp4a` track the sandbox cannot
  * entropy-decode still yields fourcc, dims, channels/rate, timescale,
  * duration and sample count from the real box walk. */
case class Mp4Meta(child: Expression) extends KernelExpression {

  override def dataType: DataType = ArrayType(Mp4Meta.trackSchema, containsNull = false)
  override def prettyName: String = "mp4_meta"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(Mp4Meta, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Mp4Meta {
  val trackSchema: StructType = StructType(Seq(
    StructField("track", IntegerType, nullable = false),
    StructField("handler", StringType, nullable = false),
    StructField("codec", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("timescale", IntegerType, nullable = false),
    StructField("duration", LongType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no parse. */
  def compute(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    Mp4.meta(bytes) match {
      case Some(ts) =>
        val rows = new Array[Any](ts.length)
        var i = 0
        while (i < ts.length) {
          val t = ts(i)
          rows(i) = new GenericInternalRow(Array[Any](
            t.trackId, UTF8String.fromString(t.handler),
            UTF8String.fromString(t.codec), t.width, t.height,
            t.channels, t.sampleRate, t.timescale, t.duration, t.nSamples))
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
      case None => null
    }
}

/** mp4_media_for_id(id) -> binary: the MJPEG-MP4 fixture bytes
  * ([[MediaFixtures.mp4MediaFor]]). */
case class Mp4MediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "mp4_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "mp4MediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** mp4_multi_media_for_id(id) -> binary: the multi-track MP4 metadata
  * fixture bytes ([[MediaFixtures.mp4MultiMediaFor]]). */
case class Mp4MultiMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "mp4_multi_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "mp4MultiMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
