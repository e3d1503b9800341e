package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** vp8_media_for_id(id) -> binary: the embedded EXTERNAL lossy-WebP
  * conformance fixture bytes ([[graft.operators.Vp8Fixtures]] — real
  * libwebp/CPython files, never engine-written). */
case class Vp8MediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "vp8_media_for_id"
  override def kernel: Kernel = Kernel(graft.operators.Vp8Fixtures, "fileFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** webp_yuv(media) -> array<struct<plane int, pos int, v int>>: the
  * decoded VP8 plane samples of a lossy WebP — plane 0=Y, 1=U, 2=V,
  * 3=alpha (when an ALPH chunk is present) — the spec-level output
  * surface of [[graft.operators.Vp8]] + the ALPH path, BEFORE any RGB
  * policy, so an oracle can pin every sample. Null for VP8L-only or
  * malformed bytes. Codegen'd per-row kernel: the decode rides the
  * scan like every other media expression. */
case class WebpYuv(child: Expression) extends KernelExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("plane", IntegerType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("v", IntegerType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "webp_yuv"
  override def kernel: Kernel = Kernel(WebpYuv, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** vp8_ivf_media_for_id(id) -> binary: the IVF inter-frame fixture —
  * a real libwebp keyframe followed by writer-assembled pure-MC
  * interframes with spec-constant MVs ([[graft.operators.Vp8Fixtures
  * .ivfFor]]). */
case class Vp8IvfMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "vp8_ivf_media_for_id"
  override def kernel: Kernel = Kernel(graft.operators.Vp8Fixtures, "ivfFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** vp8_ivf_frames(media) -> array<struct<frame,plane,pos,v>>: every
  * plane sample of every decoded frame of a VP8 IVF stream —
  * [[graft.operators.Vp8Inter.decodeIvf]]'s full output surface
  * (reference buffers, inter modes, motion compensation), so an
  * oracle can re-derive frame N from frame N-1 and the fixture's MV
  * constants. Null for malformed streams or any frame outside the
  * decoded subset. */
case class Vp8IvfFrames(child: Expression) extends KernelExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("frame", IntegerType, nullable = false),
    StructField("plane", IntegerType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("v", IntegerType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vp8_ivf_frames"
  override def kernel: Kernel = Kernel(Vp8IvfFrames, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Vp8IvfFrames {
  /** (frame, plane, pos, v) rows for a decoded sequence — shared by
    * the IVF and WebM (r13) container expressions. */
  private[functions] def packFrames(
      decoded: Option[Seq[graft.operators.Vp8.Yuv]]): GenericArrayData =
    decoded match {
      case None => null
      case Some(frames) =>
        val total = frames.iterator
          .map(f => f.y.length + f.u.length + f.v.length).sum
        val out = new Array[Any](total)
        var o = 0
        frames.zipWithIndex.foreach { case (f, fi) =>
          Seq((0, f.y), (1, f.u), (2, f.v)).foreach { case (pl, data) =>
            var i = 0
            while (i < data.length) {
              out(o) = InternalRow(fi, pl, i, data(i) & 0xff)
              o += 1; i += 1
            }
          }
        }
        new GenericArrayData(out)
    }

  /** The kernel; public so generated code can call it. */
  def compute(bytes: Array[Byte]): GenericArrayData =
    packFrames(graft.operators.Vp8Inter.decodeIvf(bytes))
}

/** anim_media_for_id(id) -> binary: the embedded animated-WebP
  * conformance fixture bytes ([[graft.operators.AnimWebpFixtures]]). */
case class AnimMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "anim_media_for_id"
  override def kernel: Kernel =
    Kernel(graft.operators.AnimWebpFixtures, "fileFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** webp_anim(media) -> array<struct<frame int, pos int, v int>>: the
  * COMPOSITED animation canvases of an ANIM/ANMF WebP (one value per
  * RGBA byte per frame snapshot) — [[graft.operators.Webp
  * .decodeAnimation]]'s full output surface, so an oracle can pin
  * every composited pixel. Null for stills/malformed bytes. */
case class WebpAnim(child: Expression) extends KernelExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("frame", IntegerType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("v", IntegerType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "webp_anim"
  override def kernel: Kernel = Kernel(WebpAnim, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WebpAnim {
  /** The kernel; public so generated code can call it. */
  def compute(bytes: Array[Byte]): GenericArrayData =
    graft.operators.Webp.decodeAnimation(bytes) match {
      case None => null
      case Some((_, _, frames)) =>
        val per = if (frames.isEmpty) 0 else frames.head.pixels.length
        val out = new Array[Any](per * frames.size)
        var o = 0
        frames.zipWithIndex.foreach { case (f, fi) =>
          var i = 0
          while (i < f.pixels.length) {
            out(o) = InternalRow(fi, i, f.pixels(i) & 0xff)
            o += 1; i += 1
          }
        }
        new GenericArrayData(out)
    }
}

object WebpYuv {
  /** The kernel; public so generated code can call it. */
  def compute(bytes: Array[Byte]): GenericArrayData =
    graft.operators.Webp.decodePlanes(bytes) match {
      case None => null
      case Some((_, _, planes)) =>
        val total = planes.iterator.map(_._2.length).sum
        val out = new Array[Any](total)
        var o = 0
        planes.foreach { case (plane, data) =>
          var i = 0
          while (i < data.length) {
            out(o) = InternalRow(plane, i, data(i) & 0xff)
            o += 1; i += 1
          }
        }
        new GenericArrayData(out)
    }
}

/** ivf_meta(media) -> struct<width,height,frames,keyframes,
  * interframes>: the O(frame-count) IVF triage — container header +
  * per-frame VP8 tag bits only, no entropy decode — the census twin
  * of `mp3_coverage`: a crawl report can state its VP8
  * keyframe/interframe split without paying for pixel decode.
  * Null for non-IVF bytes or truncated frame tables. */
case class IvfMeta(child: Expression) extends KernelExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("frames", IntegerType, nullable = false),
    StructField("keyframes", IntegerType, nullable = false),
    StructField("interframes", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_meta"
  override def kernel: Kernel = Kernel(IvfMeta, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object IvfMeta {
  /** The kernel; public so generated code can call it. */
  def compute(bytes: Array[Byte]): InternalRow =
    try {
      graft.operators.Vp8Inter.parseIvf(bytes) match {
        case None => null
        case Some((w, h, frames)) =>
          var key = 0; var inter = 0
          frames.foreach { case (o, l) =>
            // VP8 frame tag bit 0: 0 = keyframe, 1 = interframe
            if (l >= 3) {
              if ((bytes(o) & 1) == 0) key += 1 else inter += 1
            }
          }
          InternalRow(w, h, frames.size, key, inter)
      }
    } catch { case _: Exception => null }
}

/** webm_media_for_id(id) -> binary: the WebM container fixture (r13)
  * — the SAME pinned 3-frame VP8 sequence as `vp8_ivf_media_for_id`,
  * muxed through [[graft.operators.Webm.build]] with container-shape
  * variants cycling by id ([[graft.operators.Vp8Fixtures.webmFor]]). */
case class WebmMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "webm_media_for_id"
  override def kernel: Kernel = Kernel(graft.operators.Vp8Fixtures, "webmFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** webm_meta(media) -> struct: the Matroska/WebM container triage
  * (r13) — EBML walk only, no VP8 decode: DocType, timecode scale,
  * track inventory, the VP8 track's declared dims, cluster/block
  * counts and the container-flag keyframe/interframe split; since
  * r14 also the audio-track triage (TrackEntry/Audio: codec id,
  * channels, sample rate, packet count — real-web WebM is A/V and
  * packet DECODE stays behind the documented Vorbis/Opus seam).
  * Null for non-EBML bytes or anything outside
  * [[graft.operators.Webm]]'s documented subset. */
case class WebmMeta(child: Expression) extends KernelExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("doc_type", StringType, nullable = false),
    StructField("timecode_scale", LongType, nullable = false),
    StructField("n_tracks", IntegerType, nullable = false),
    StructField("vp8_track", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("clusters", IntegerType, nullable = false),
    StructField("blocks", IntegerType, nullable = false),
    StructField("keyframes", IntegerType, nullable = false),
    StructField("interframes", IntegerType, nullable = false),
    StructField("sub_track", IntegerType, nullable = false),
    StructField("cues", IntegerType, nullable = false),
    StructField("audio_track", IntegerType, nullable = false),
    StructField("audio_codec", StringType, nullable = false),
    StructField("audio_channels", IntegerType, nullable = false),
    StructField("audio_rate", IntegerType, nullable = false),
    StructField("audio_blocks", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "webm_meta"
  override def kernel: Kernel = Kernel(WebmMeta, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WebmMeta {
  /** The kernel; public so generated code can call it. */
  def compute(bytes: Array[Byte]): InternalRow =
    graft.operators.Webm.meta(bytes) match {
      case None => null
      case Some(m) => InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(m.docType),
        m.timecodeScale, m.nTracks, m.vp8Track, m.width, m.height,
        m.nClusters, m.nBlocks, m.keyframes, m.interframes,
        m.subTrack, m.nCues, m.audioTrack,
        org.apache.spark.unsafe.types.UTF8String.fromString(m.audioCodec),
        m.audioChannels, m.audioRate, m.nAudioBlocks)
    }
}

/** webm_frames(media) -> array<struct<frame,plane,pos,v>>: every
  * plane sample of every VP8 frame demuxed from a WebM container
  * (r13) — the [[Vp8IvfFrames]] surface through the Matroska path,
  * so the same SQL oracle pins both containers. */
case class WebmFrames(child: Expression) extends KernelExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("frame", IntegerType, nullable = false),
    StructField("plane", IntegerType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("v", IntegerType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "webm_frames"
  override def kernel: Kernel = Kernel(WebmFrames, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WebmFrames {
  /** The kernel; public so generated code can call it. */
  def compute(bytes: Array[Byte]): GenericArrayData =
    Vp8IvfFrames.packFrames(graft.operators.Webm.decode(bytes))
}


/** webm_subs_media_for_id(id) -> binary: the WebM fixture with a
  * subtitle track (r13) — video + 2-4 S_TEXT/UTF8 cues with
  * id-derived timings ([[graft.operators.Vp8Fixtures.webmSubsFor]]). */
case class WebmSubsMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "webm_subs_media_for_id"
  override def kernel: Kernel =
    Kernel(graft.operators.Vp8Fixtures, "webmSubsFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** webm_subtitles(media) -> array<struct<idx,start_ms,end_ms,text>>:
  * the cues of a WebM's first S_TEXT subtitle track (r13) —
  * BlockGroup timecodes scaled to milliseconds, text decoded UTF-8.
  * Null when the container has no subtitle track or is malformed. */
case class WebmSubtitles(child: Expression) extends KernelExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("start_ms", LongType, nullable = false),
    StructField("end_ms", LongType, nullable = false),
    StructField("text", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "webm_subtitles"
  override def kernel: Kernel = Kernel(WebmSubtitles, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WebmSubtitles {
  /** The kernel; public so generated code can call it. */
  def compute(bytes: Array[Byte]): GenericArrayData =
    graft.operators.Webm.subtitleCues(bytes) match {
      case None => null
      case Some(cues) =>
        val out = new Array[Any](cues.length)
        var i = 0
        while (i < cues.length) {
          val (s0, e0, txt) = cues(i)
          out(i) = InternalRow(i, s0, e0,
            org.apache.spark.unsafe.types.UTF8String.fromString(txt))
          i += 1
        }
        new GenericArrayData(out)
    }
}
