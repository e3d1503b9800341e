package graft.functions

import graft.operators.{MediaFixtures, WavPcm}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._

/** wav_vad(bytes, winFrames, thrAvg) -> array<struct<seg, start_win,
  * n_win, sum_sq, n_clip>>: energy-based voice-activity segments
  * over real decoded PCM ([[WavPcm.vad]]) — integer-exact threshold
  * verdicts, consecutive-window merge, clipped-sample counts. Dirty
  * bytes → null. */
case class WavVad(child: Expression, winFrames: Int, thrAvg: Int)
    extends KernelExpression {
  require(winFrames >= 2 && thrAvg >= 0,
    s"winFrames=$winFrames thrAvg=$thrAvg")

  override def dataType: DataType =
    ArrayType(WavVad.segmentSchema, containsNull = false)
  override def prettyName: String = "wav_vad"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(WavVad, "compute", winFrames, thrAvg)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WavVad {
  val segmentSchema: StructType = StructType(Seq(
    StructField("seg", IntegerType, nullable = false),
    StructField("start_win", IntegerType, nullable = false),
    StructField("n_win", IntegerType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("n_clip", IntegerType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no decode. */
  def compute(bytes: Array[Byte], winFrames: Int, thrAvg: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    WavPcm.vad(bytes, winFrames, thrAvg) match {
      case Some(segs) =>
        val rows = new Array[Any](segs.length)
        var i = 0
        while (i < segs.length) {
          val s = segs(i)
          rows(i) = new GenericInternalRow(Array[Any](
            s.seg, s.startWin, s.nWin, s.sumSq, s.nClip))
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
      case None => null
    }
}

/** wavvad_media_for_id(id) -> binary ([[MediaFixtures
  * .wavVadMediaFor]] — speech-shaped loud/quiet/clipped PCM under a
  * closed contract). */
case class WavVadMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "wavvad_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "wavVadMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
