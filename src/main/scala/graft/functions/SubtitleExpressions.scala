package graft.functions

import graft.operators.{MediaFixtures, Subtitles}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** subtitle_cues(text) -> array<struct<idx, start_ms, end_ms, text>>:
  * SRT/WebVTT cue parsing (format auto-detected by the WEBVTT magic)
  * with integer-millisecond timings; a malformed timing line fails
  * the file ([[Subtitles.parse]]). Dirty input → null. */
case class SubtitleCues(child: Expression) extends KernelExpression {

  override def dataType: DataType =
    ArrayType(SubtitleCues.cueSchema, containsNull = false)
  override def prettyName: String = "subtitle_cues"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(SubtitleCues, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object SubtitleCues {
  val cueSchema: StructType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("start_ms", LongType, nullable = false),
    StructField("end_ms", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no parse. */
  def compute(text: UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    Subtitles.parse(text.toString) match {
      case Some(cues) =>
        val rows = new Array[Any](cues.length)
        var i = 0
        while (i < cues.length) {
          val c = cues(i)
          rows(i) = new GenericInternalRow(Array[Any](
            c.idx, c.startMs, c.endMs, UTF8String.fromString(c.text)))
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
      case None => null
    }
}

/** subtitle_media_for_id(id) -> string ([[MediaFixtures
  * .subtitleMediaFor]] — SRT/VTT alternating, closed-form cues). */
case class SubtitleMediaText(child: Expression) extends KernelExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "subtitle_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "subtitleMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
