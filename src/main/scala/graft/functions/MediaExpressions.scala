package graft.functions

import graft.operators.{MediaCodec, MediaFixtures}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** parse_media(bytes) -> struct<width:int, height:int, channels:int,
  * format:string>: REAL PNG IHDR / JPEG SOFn header decode
  * ([[graft.operators.MediaCodec]]) as a codegen'd Catalyst expression.
  *
  * The parse is a pure `Array[Byte] => struct` function, so it belongs
  * in the expression layer, not a `mapPartitions` stage: here it stays
  * inside whole-stage codegen, costs no RowEncoder round-trip, and —
  * critically for a decode stage over 100 TB of crawled media — leaves
  * Catalyst free to push filters and prune columns THROUGH the decode
  * (a mapPartitions is an optimizer barrier; callers had to hand-order
  * filters before it). Dirty rows (unknown/truncated/corrupt bytes)
  * yield null, never an exception. */
case class ParseMedia(child: Expression) extends KernelExpression {

  override def dataType: DataType = ParseMedia.schema
  override def prettyName: String = "parse_media"
  // unparseable bytes → null even when the child is non-nullable
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(ParseMedia, "parseToRow")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object ParseMedia {
  val schema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false)))

  // the codec emits exactly two format tags — intern them once
  private val png = UTF8String.fromString("png")
  private val jpeg = UTF8String.fromString("jpeg")

  /** The kernel; public so generated code can call it. Null = no parse. */
  def parseToRow(bytes: Array[Byte]): InternalRow =
    MediaCodec.parse(bytes) match {
      case Some(m) =>
        // explicit per-tag interning: a future third codec format must
        // surface as itself, never silently mislabeled as jpeg
        val fmt = m.format match {
          case "png" => png
          case "jpeg" => jpeg
          case other => UTF8String.fromString(other)
        }
        new GenericInternalRow(Array[Any](m.width, m.height, m.channels, fmt))
      case None => null
    }
}

/** png_stats(bytes) -> struct<width:int, height:int, channels:int,
  * pix_sum:bigint, pix_count:bigint>: REAL pixel-level PNG decode
  * ([[graft.operators.PngPixels]] — chunk walk with CRC checks,
  * `java.util.zip.Inflater`, spec unfiltering) reduced to exact
  * integer statistics, as a codegen'd expression like [[ParseMedia]].
  * Integer sums (not float means) so the SQL oracle compares exactly.
  * Dirty bytes → null. */
case class PngStats(child: Expression) extends KernelExpression {

  override def dataType: DataType = PngStats.schema
  override def prettyName: String = "png_stats"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(PngStats, "statsToRow")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PngStats {
  val schema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("pix_sum", LongType, nullable = false),
    StructField("pix_count", LongType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no decode. */
  def statsToRow(bytes: Array[Byte]): InternalRow =
    graft.operators.PngPixels.decode(bytes) match {
      case Some(d) =>
        var sum = 0L
        var i = 0
        while (i < d.pixels.length) { sum += d.pixels(i) & 0xff; i += 1 }
        new GenericInternalRow(Array[Any](
          d.width, d.height, d.channels, sum, d.pixels.length.toLong))
      case None => null
    }
}

/** jpeg_stats(bytes) -> the [[PngStats]] schema over a REAL baseline
  * JPEG entropy decode ([[graft.operators.JpegDc]]: marker walk,
  * canonical Huffman, DC prediction, dequant — the DC-only subset).
  * Dirty or out-of-subset bytes → null. */
case class JpegStats(child: Expression) extends KernelExpression {

  override def dataType: DataType = PngStats.schema
  override def prettyName: String = "jpeg_stats"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(JpegStats, "statsToRow")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object JpegStats {
  /** The kernel; public so generated code can call it. Null = no decode. */
  def statsToRow(bytes: Array[Byte]): InternalRow =
    graft.operators.JpegDc.decode(bytes) match {
      case Some(d) =>
        var sum = 0L
        var i = 0
        while (i < d.pixels.length) { sum += d.pixels(i) & 0xff; i += 1 }
        new GenericInternalRow(Array[Any](
          d.width, d.height, d.channels, sum, d.pixels.length.toLong))
      case None => null
    }
}

/** pixel_stats(bytes) -> the [[PngStats]] schema, FORMAT-DISPATCHING: a
  * mixed-format media table (PNG and JPEG rows in one binary column —
  * the crawl reality) gets real pixel statistics for every row either
  * decoder covers, instead of silently nulling whichever format the
  * caller didn't pick. Dispatch is on the magic bytes (PNG signature
  * `\x89PNG` vs JPEG SOI `\xFF\xD8`), so each blob runs exactly one
  * decoder; unknown/corrupt/out-of-subset bytes → null, never a throw. */
case class PixelStats(child: Expression) extends KernelExpression {

  override def dataType: DataType = PngStats.schema
  override def prettyName: String = "pixel_stats"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(PixelStats, "statsToRow")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PixelStats {
  /** The kernel; public so generated code can call it. Null = no decode. */
  def statsToRow(bytes: Array[Byte]): InternalRow =
    if (bytes == null || bytes.length < 2) null
    else if ((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P')
      PngStats.statsToRow(bytes)
    else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
      JpegStats.statsToRow(bytes)
    else if (bytes(0) == 'B' && bytes(1) == 'M')
      decodedStats(graft.operators.Bmp.decode(bytes))
    else if (bytes.length >= 12 && bytes(0) == 'R' && bytes(1) == 'I' &&
      bytes(2) == 'F' && bytes(3) == 'F')
      // RIFF/WEBP: real pixels for both coding families — VP8L through
      // the lossless path, VP8 (lossy keyframe, r10) through the
      // RFC 6386 decoder + documented YUV→RGB policy, alpha merged
      decodedStats(graft.operators.Webp.decodeRgba(bytes))
    else if ((bytes(0) == 'I' && bytes(1) == 'I') ||
      (bytes(0) == 'M' && bytes(1) == 'M'))
      // TIFF: real pixels for the baseline 8-bit subset (none /
      // PackBits); LZW/JPEG/deflate payloads → None (the seam)
      decodedStats(graft.operators.Tiff.decodePixels(bytes))
    else null

  private def decodedStats(
      d: Option[graft.operators.PngPixels.Decoded]): InternalRow =
    d match {
      case Some(dd) =>
        var sum = 0L
        var i = 0
        while (i < dd.pixels.length) { sum += dd.pixels(i) & 0xff; i += 1 }
        new GenericInternalRow(Array[Any](
          dd.width, dd.height, dd.channels, sum, dd.pixels.length.toLong))
      case None => null
    }
}

/** media_features(bytes, dim) -> array<float>: THE feature stage of
  * the multimodal pipeline, real where a decoder exists — bytes that
  * decode as PNG ([[graft.operators.PngPixels]]), baseline JPEG
  * ([[graft.operators.JpegDc]]), animated GIF
  * ([[graft.operators.Gif]]), MJPEG-AVI container video
  * ([[graft.operators.Avi]]) or WAV/PCM16
  * ([[graft.operators.WavPcm]]) yield real content features; anything
  * else falls back to the deterministic
  * [[graft.operators.Multimodal.FakeCodec]] byte-sum head (the
  * external-codec seam, e.g. mp4/webm). Codegen'd, so the
  * decode-to-feature stage is not an optimizer barrier. */
case class MediaFeatures(child: Expression, dim: Int)
    extends KernelExpression {
  require(dim >= 1 && dim <= 256, s"dim must be in [1,256], got $dim")

  override def dataType: DataType =
    ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "media_features"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(MediaFeatures, "compute", dim)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object MediaFeatures {
  /** The kernel; public so generated code can call it. Every format
    * with an in-repo decoder gets REAL content features — images (PNG /
    * baseline JPEG) an L1-normalized luminance histogram, animated GIF
    * and MJPEG-AVI container video the same histogram over ALL decoded
    * frames, WAV/PCM16 an L1-normalized temporal |amplitude| profile
    * (dim time buckets over the flat sample stream — the envelope
    * shape used for coarse audio matching). Only formats with no
    * decoder (inter-frame video codecs, unknown bytes) fall to the
    * byte-sum head — the external-codec seam. */
  def compute(bytes: Array[Byte], dim: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val feats: Array[Float] =
      if (graft.operators.Gif.isGif(bytes))
        graft.operators.Gif.decode(bytes) match {
          case Some(d) =>
            val counts = new Array[Long](dim)
            d.frames.foreach { fr =>
              var i = 0
              while (i < fr.luma.length) {
                counts((fr.luma(i) & 0xff) * dim / 256) += 1; i += 1
              }
            }
            normalize(counts)
          case None => graft.operators.Multimodal.FakeCodec.features(bytes, dim)
        }
      else if (graft.operators.Avi.isAvi(bytes))
        graft.operators.Avi.decode(bytes) match {
          case Some(d) =>
            val counts = new Array[Long](dim)
            d.frames.foreach { fr =>
              val lm = graft.operators.Avi.luma(fr)
              var i = 0
              while (i < lm.length) {
                counts((lm(i) & 0xff) * dim / 256) += 1; i += 1
              }
            }
            normalize(counts)
          case None => graft.operators.Multimodal.FakeCodec.features(bytes, dim)
        }
      else if (graft.operators.Mp4.isMp4(bytes))
        graft.operators.Mp4.decode(bytes) match {
          case Some(d) =>
            val counts = new Array[Long](dim)
            d.frames.foreach { fr =>
              val lm = graft.operators.Avi.luma(fr)
              var i = 0
              while (i < lm.length) {
                counts((lm(i) & 0xff) * dim / 256) += 1; i += 1
              }
            }
            normalize(counts)
          // non-MJPEG (avc1/...) tracks: the inter-frame-codec seam
          case None => graft.operators.Multimodal.FakeCodec.features(bytes, dim)
        }
      else if (bytes.length >= 12 && bytes(0) == 'R' && bytes(1) == 'I' &&
        bytes(2) == 'F' && bytes(3) == 'F' &&
        bytes(8) == 'W' && bytes(9) == 'E' && bytes(10) == 'B' &&
        bytes(11) == 'P')
        // RIFF/WEBP: VP8L and (r10) lossy VP8 both decode to real
        // pixels → the same luminance histogram as the PNG/JPEG branch
        graft.operators.Webp.decodeRgba(bytes) match {
          case Some(d) => imageHistogram(d, dim)
          case None => graft.operators.Multimodal.FakeCodec.features(bytes, dim)
        }
      else if (bytes.length >= 12 && bytes(0) == 'R' && bytes(1) == 'I' &&
        bytes(2) == 'F' && bytes(3) == 'F')
        graft.operators.WavPcm.decode(bytes) match {
          case Some(d) =>
            val acc = new Array[Long](dim)
            val n = d.samples.length
            var i = 0
            while (i < n) {
              acc((i.toLong * dim / n).toInt) += math.abs(d.samples(i).toLong)
              i += 1
            }
            normalize(acc)
          case None => graft.operators.Multimodal.FakeCodec.features(bytes, dim)
        }
      else if (graft.operators.Flac.isFlac(bytes))
        graft.operators.Flac.decode(bytes) match {
          case Some(d) =>
            // same temporal |amplitude| profile as the WAV branch, so
            // a recording featurizes identically in either container
            val acc = new Array[Long](dim)
            val n = d.samples.length
            var i = 0
            while (i < n) {
              acc((i.toLong * dim / n).toInt) += math.abs(d.samples(i).toLong)
              i += 1
            }
            normalize(acc)
          case None => graft.operators.Multimodal.FakeCodec.features(bytes, dim)
        }
      else if (bytes.length >= 2 &&
        ((bytes(0) == 'I' && bytes(1) == 'I') ||
          (bytes(0) == 'M' && bytes(1) == 'M')))
        // TIFF: the baseline 8-bit subset decodes to real pixels →
        // the same luminance histogram; JPEG-in-TIFF stays the seam
        graft.operators.Tiff.decodePixels(bytes) match {
          case Some(d) => imageHistogram(d, dim)
          case None => graft.operators.Multimodal.FakeCodec.features(bytes, dim)
        }
      else if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M')
        graft.operators.Bmp.decode(bytes) match {
          case Some(d) => imageHistogram(d, dim)
          case None => graft.operators.Multimodal.FakeCodec.features(bytes, dim)
        }
      else graft.operators.PngPixels.decode(bytes)
        .orElse(graft.operators.JpegDc.decode(bytes)) match {
        case Some(d) => imageHistogram(d, dim)
        case None =>
          graft.operators.Multimodal.FakeCodec.features(bytes, dim)
      }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      feats.map(x => x: Any))
  }

  private def imageHistogram(
      d: graft.operators.PngPixels.Decoded, dim: Int): Array[Float] = {
    val counts = new Array[Long](dim)
    val px = d.pixels
    val step = d.channels // alpha (2/4-channel) never enters luma
    var i = 0
    if (d.channels >= 3) {
      while (i < px.length) {
        val luma = (299 * (px(i) & 0xff) + 587 * (px(i + 1) & 0xff) +
          114 * (px(i + 2) & 0xff)) / 1000
        counts(luma * dim / 256) += 1
        i += step
      }
    } else {
      while (i < px.length) {
        counts((px(i) & 0xff) * dim / 256) += 1
        i += step
      }
    }
    normalize(counts)
  }

  private def normalize(counts: Array[Long]): Array[Float] = {
    val total = math.max(1L, counts.sum)
    counts.map(v => v.toFloat / total)
  }
}

/** jpeg_pixel_media_for_id(id) -> binary: the DC-only JPEG fixture
  * bytes ([[graft.operators.MediaFixtures.jpegPixelMediaFor]]). */
case class JpegPixelMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "jpeg_pixel_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "jpegPixelMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** png_histogram(bytes, bins) -> array<bigint>: REAL image feature
  * extraction over decoded pixels — the luminance histogram (integer
  * luma `(299r + 587g + 114b) / 1000` for truecolor, the sample value
  * for grayscale) bucketed into `bins` equal ranges of 0..255. Exact
  * integer counts, so the SQL oracle re-derives the histogram
  * analytically from the pixel contract and compares bit-for-bit; the
  * normalized float form feeds cosine kNN (image near-dup search over
  * REAL pixel content). Dirty bytes → null. */
case class PngHistogram(child: Expression, bins: Int)
    extends KernelExpression {
  require(bins >= 1 && bins <= 256, s"bins must be in [1,256], got $bins")

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "png_histogram"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(PngHistogram, "compute", bins)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PngHistogram {
  /** The kernel; public so generated code can call it. Null = no decode.
    * Bucket of luma v is `v * bins / 256` (exact integer math). */
  def compute(bytes: Array[Byte], bins: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    graft.operators.PngPixels.decode(bytes) match {
      case Some(d) =>
        val counts = new Array[Long](bins)
        val px = d.pixels
        val step = d.channels // alpha (2/4-channel) never enters luma
        var i = 0
        if (d.channels >= 3) {
          while (i < px.length) {
            val luma = (299 * (px(i) & 0xff) + 587 * (px(i + 1) & 0xff) +
              114 * (px(i + 2) & 0xff)) / 1000
            counts(luma * bins / 256) += 1
            i += step
          }
        } else {
          while (i < px.length) {
            counts((px(i) & 0xff) * bins / 256) += 1
            i += step
          }
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          counts.map(x => x: Any))
      case None => null
    }
}

/** wav_stats(bytes) -> struct<channels:int, sample_rate:int,
  * n_frames:bigint, samp_sum:bigint, samp_energy:bigint>: REAL
  * RIFF/WAVE PCM16 decode ([[graft.operators.WavPcm]] — chunk walk,
  * fmt validation, little-endian sample extraction) reduced to exact
  * integer statistics (sum + energy = Σv²), the audio twin of
  * [[PngStats]]. Dirty or out-of-subset bytes → null. */
case class WavStats(child: Expression) extends KernelExpression {

  override def dataType: DataType = WavStats.schema
  override def prettyName: String = "wav_stats"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(WavStats, "statsToRow")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WavStats {
  val schema: StructType = StructType(Seq(
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("samp_sum", LongType, nullable = false),
    StructField("samp_energy", LongType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no decode. */
  def statsToRow(bytes: Array[Byte]): InternalRow =
    graft.operators.WavPcm.decode(bytes) match {
      case Some(d) =>
        var sum = 0L
        var energy = 0L
        var i = 0
        while (i < d.samples.length) {
          val v = d.samples(i).toLong
          sum += v; energy += v * v
          i += 1
        }
        new GenericInternalRow(Array[Any](
          d.channels, d.sampleRate, d.frames.toLong, sum, energy))
      case None => null
    }
}

/** wav_media_for_id(id) -> binary: the PCM16 WAV fixture bytes
  * ([[graft.operators.MediaFixtures.wavMediaFor]]). */
case class WavMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "wav_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "wavMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** decoded_pixels(bytes) -> array<int>: the FULL decoded pixel dump
  * (scanline-major, channel-interleaved, unsigned byte values) of a
  * PNG or baseline-JPEG blob, format-dispatched on the magic bytes
  * like [[PixelStats]]. This is the strongest oracle surface the
  * codecs expose: a SQL oracle can compare every sample POSITIONALLY,
  * so zigzag/run-length/IDCT bugs that cancel in aggregate statistics
  * (sums are blind to where the energy landed) still break the match.
  * Dirty/unknown bytes → null. */
case class DecodedPixels(child: Expression) extends KernelExpression {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "decoded_pixels"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(DecodedPixels, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object DecodedPixels {
  /** The kernel; public so generated code can call it. Null = no decode. */
  def compute(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (bytes == null || bytes.length < 2) return null
    val decoded =
      if ((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P')
        graft.operators.PngPixels.decode(bytes)
      else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
        graft.operators.JpegDc.decode(bytes)
      else None
    decoded match {
      case Some(d) =>
        val out = new Array[Any](d.pixels.length)
        var i = 0
        while (i < d.pixels.length) { out(i) = d.pixels(i) & 0xff; i += 1 }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      case None => null
    }
  }
}

/** jpeg_ac_media_for_id(id) -> binary: the full-baseline JPEG fixture
  * bytes with real AC coefficients
  * ([[graft.operators.MediaFixtures.jpegAcMediaFor]]). */
case class JpegAcMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "jpeg_ac_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "jpegAcMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** jpeg_sub_media_for_id(id) -> binary: the CHROMA-SUBSAMPLED
  * full-baseline JPEG fixture bytes
  * ([[graft.operators.MediaFixtures.jpegSubMediaFor]] — 4:2:0/4:2:2/
  * 4:4:0 cycling by id, real interleaved MCUs). */
case class JpegSubMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "jpeg_sub_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "jpegSubMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** jpeg_rst_media_for_id(id) -> binary: the RESTART-MARKER
  * full-baseline JPEG fixture bytes
  * ([[graft.operators.MediaFixtures.jpegRstMediaFor]] — DRI + cycling
  * RSTn every 1..5 MCUs, per-interval DC prediction). */
case class JpegRstMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "jpeg_rst_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "jpegRstMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** jpeg_prog_media_for_id(id) -> binary: the PROGRESSIVE (SOF2) JPEG
  * fixture bytes ([[graft.operators.MediaFixtures.jpegProgMediaFor]]
  * — 6-scan successive approximation, layout cycling by id). */
case class JpegProgMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "jpeg_prog_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "jpegProgMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** mixed_pixel_media_for_id(id) -> binary: the MIXED-format pixel
  * fixture bytes ([[graft.operators.MediaFixtures.mixedPixelMediaFor]]
  * — PNG even ids, JPEG odd ids, real pixels in both). */
case class MixedPixelMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "mixed_pixel_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "mixedPixelMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** pixel_media_for_id(id) -> binary: the pixel-bearing PNG fixture
  * bytes ([[graft.operators.MediaFixtures.pixelMediaFor]]) — the
  * codegen'd writer half of the pixel pipeline. */
case class PixelMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "pixel_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "pixelMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** web_pixel_media_for_id(id) -> binary: the WEB-subset PNG fixture
  * bytes ([[graft.operators.MediaFixtures.webPixelMediaFor]] — all
  * five depth-8 color types, a third of them Adam7-interlaced). */
case class WebPixelMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "web_pixel_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "webPixelMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** media_for_id(id) -> binary: the deterministic fixture media bytes for
  * one row id ([[graft.operators.MediaFixtures.mediaFor]]) as a codegen'd
  * expression, so fixture attachment is not an optimizer barrier either —
  * scan-pushdown and whole-stage codegen survive the whole
  * generate → decode pipeline. */
case class MediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "mediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** gif_frame_stats(bytes) -> array<struct<frame:int, width:int,
  * height:int, pix_sum:bigint>>: REAL animated-GIF decode
  * ([[graft.operators.Gif]] — full variable-width LZW, extension
  * skipping, palette→luminance) reduced to exact per-frame integer
  * statistics — the multi-frame twin of [[PixelStats]]. Dirty or
  * out-of-subset bytes → null. */
case class GifFrameStats(child: Expression) extends KernelExpression {

  override def dataType: DataType =
    ArrayType(GifFrameStats.frameSchema, containsNull = false)
  override def prettyName: String = "gif_frame_stats"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(GifFrameStats, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object GifFrameStats {
  val frameSchema: StructType = StructType(Seq(
    StructField("frame", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("pix_sum", LongType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no decode. */
  def compute(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    graft.operators.Gif.decode(bytes) match {
      case Some(d) =>
        val rows = new Array[Any](d.frames.length)
        var f = 0
        while (f < d.frames.length) {
          val fr = d.frames(f)
          var sum = 0L
          var i = 0
          while (i < fr.luma.length) { sum += (fr.luma(i) & 0xff); i += 1 }
          rows(f) = new GenericInternalRow(
            Array[Any](f, fr.width, fr.height, sum))
          f += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
      case None => null
    }
}

/** gif_composite_stats(bytes) -> array<struct<frame:int, pix_sum:
  * bigint, pix_count:bigint>>: per-frame integer luminance stats over
  * the COMPOSITED animation canvas
  * ([[graft.operators.Gif.decodeComposited]] — sub-rect placement,
  * transparency show-through, disposal methods), the delta-frame
  * animation surface per-frame-independent [[GifFrameStats]] cannot
  * express. Dirty bytes → null. */
case class GifCompositeStats(child: Expression) extends KernelExpression {

  override def dataType: DataType =
    ArrayType(GifCompositeStats.frameSchema, containsNull = false)
  override def prettyName: String = "gif_composite_stats"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(GifCompositeStats, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object GifCompositeStats {
  val frameSchema: StructType = StructType(Seq(
    StructField("frame", IntegerType, nullable = false),
    StructField("pix_sum", LongType, nullable = false),
    StructField("pix_count", LongType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no decode. */
  def compute(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    graft.operators.Gif.decodeComposited(bytes) match {
      case Some(d) =>
        val rows = new Array[Any](d.frames.length)
        var f = 0
        while (f < d.frames.length) {
          val fr = d.frames(f)
          var sum = 0L
          var i = 0
          while (i < fr.luma.length) { sum += (fr.luma(i) & 0xff); i += 1 }
          rows(f) = new GenericInternalRow(
            Array[Any](f, sum, fr.luma.length.toLong))
          f += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
      case None => null
    }
}

/** gif_delta_media_for_id(id) -> binary: the delta-frame animated-GIF
  * fixture bytes ([[graft.operators.MediaFixtures.gifDeltaMediaFor]]
  * — sub-rect frames, transparency holes, disposal 1). */
case class GifDeltaMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "gif_delta_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "gifDeltaMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** wav_gain_media_for_id(id) -> binary: the gain-variant audio-dedup
  * fixture bytes ([[graft.operators.MediaFixtures.wavGainMediaFor]] —
  * the same recording at four amplitude levels + unique metadata). */
case class WavGainMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "wav_gain_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "wavGainMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** bmp_media_for_id(id) -> binary: the pixel-bearing BMP fixture
  * bytes ([[graft.operators.MediaFixtures.bmpMediaFor]] — both row
  * orders, every padding residue). */
case class BmpMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "bmp_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "bmpMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** webp_pixel_media_for_id(id) -> binary: the pixel-bearing LOSSLESS
  * WebP fixture ([[graft.operators.MediaFixtures.webpPixelMediaFor]]
  * — real VP8L streams cycling transforms/cache/LZ77/meta-groups). */
case class WebpPixelMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "webp_pixel_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "webpPixelMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** gif_media_for_id(id) -> binary: the animated-GIF fixture bytes
  * ([[graft.operators.MediaFixtures.gifMediaFor]]). */
case class GifMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "gif_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "gifMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** wav_windows(bytes, win_frames) -> array<struct<win:int,
  * energy:bigint, zcr:bigint>>: REAL PCM16 decode ([[WavStats]]'
  * codec) reduced to per-window integer features over channel 0 —
  * energy Σv² and zero-crossing count (sign flips between adjacent
  * frames within a window), the classic VAD/segmentation pair.
  * Only complete windows are emitted (the trailing partial window is
  * dropped); dirty or out-of-subset bytes → null. */
case class WavWindows(child: Expression, winFrames: Int)
    extends KernelExpression {
  require(winFrames >= 2, s"winFrames must be >= 2, got $winFrames")

  override def dataType: DataType =
    ArrayType(WavWindows.windowSchema, containsNull = false)
  override def prettyName: String = "wav_windows"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(WavWindows, "compute", winFrames)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WavWindows {
  val windowSchema: StructType = StructType(Seq(
    StructField("win", IntegerType, nullable = false),
    StructField("energy", LongType, nullable = false),
    StructField("zcr", LongType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no
    * decode. Channel 0 at frame f is interleaved sample f·channels;
    * a crossing is (v≥0) ≠ (prev≥0) for adjacent frames in-window. */
  def compute(bytes: Array[Byte], winFrames: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    graft.operators.WavPcm.decode(bytes) match {
      case Some(d) =>
        val nWin = d.frames / winFrames
        val rows = new Array[Any](nWin)
        var w = 0
        while (w < nWin) {
          var energy = 0L
          var zcr = 0L
          var i = 0
          var prevNonNeg = false
          while (i < winFrames) {
            val v = d.samples((w * winFrames + i) * d.channels).toLong
            energy += v * v
            val nonNeg = v >= 0
            if (i > 0 && nonNeg != prevNonNeg) zcr += 1
            prevNonNeg = nonNeg
            i += 1
          }
          rows(w) = new GenericInternalRow(Array[Any](w, energy, zcr))
          w += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
      case None => null
    }
}

/** wav_spectral(bytes, winFrames) -> array<struct<win:int,
  * dom_bin:int, centroid:double>>: REAL frequency-domain audio
  * features — a per-window discrete Fourier transform over channel 0
  * of the decoded PCM ([[graft.operators.WavPcm]]), reduced to the
  * two classic spectral-shape signals: the dominant frequency bin
  * (argmax magnitude over bins 1..N/2, DC excluded; ties take the
  * lowest bin) and the spectral centroid (magnitude-weighted mean
  * bin, rounded to 6 so the SQL oracle — which re-derives the DFT
  * with cos/sin sums over the analytic sample contract — compares on
  * the same 1e-6 grid). Complete windows only; O(N) bins x O(N)
  * samples per window = O(N²) per window, the direct-DFT cost the
  * small analysis windows of VAD/segmentation pipelines pay happily
  * (a radix-2 FFT changes summation ORDER, which an exact-sum oracle
  * can see — the direct form keeps engine and oracle term-for-term
  * identical). Dirty or out-of-subset bytes → null. */
case class WavSpectral(child: Expression, winFrames: Int)
    extends KernelExpression {
  require(winFrames >= 4 && winFrames % 2 == 0,
    s"winFrames must be even and >= 4, got $winFrames")

  override def dataType: DataType =
    ArrayType(WavSpectral.windowSchema, containsNull = false)
  override def prettyName: String = "wav_spectral"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(WavSpectral, "compute", winFrames)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WavSpectral {
  val windowSchema: StructType = StructType(Seq(
    StructField("win", IntegerType, nullable = false),
    StructField("dom_bin", IntegerType, nullable = false),
    StructField("centroid", DoubleType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no
    * decode. Bin k's magnitude is |Σ_n v(n)·e^{-i2πkn/N}|; the
    * argument is computed as `2.0 * π * k * n / N` term-for-term so a
    * SQL oracle using `2 * pi() * k * n / N` produces bit-identical
    * doubles before the final rounding. */
  def compute(bytes: Array[Byte], winFrames: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    graft.operators.WavPcm.decode(bytes) match {
      case Some(d) =>
        val nWin = d.frames / winFrames
        val nBins = winFrames / 2
        val rows = new Array[Any](nWin)
        var w = 0
        while (w < nWin) {
          var domBin = 0
          var domMag = -1.0
          var wsum = 0.0
          var msum = 0.0
          var k = 1
          while (k <= nBins) {
            var re = 0.0
            var im = 0.0
            var n = 0
            while (n < winFrames) {
              val v = d.samples((w * winFrames + n) * d.channels).toDouble
              val arg = 2.0 * math.Pi * k * n / winFrames
              re += v * math.cos(arg)
              im += v * math.sin(arg)
              n += 1
            }
            val mag = math.sqrt(re * re + im * im)
            if (mag > domMag) { domMag = mag; domBin = k }
            wsum += k * mag
            msum += mag
            k += 1
          }
          val centroid =
            if (msum == 0.0) 0.0
            else BigDecimal(wsum / msum)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          rows(w) = new GenericInternalRow(Array[Any](w, domBin, centroid))
          w += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
      case None => null
    }
}

/** wav_spectral_flux(bytes, winFrames) -> array<struct<win:int,
  * flux:double>>: onset/segment-boundary detection in the frequency
  * domain — per consecutive window pair, the L1 distance between DFT
  * magnitude spectra (Σ_k |mag_k(w) − mag_k(w−1)|, bins 1..N/2), the
  * audio twin of the GIF/AVI scene-cut SADs. One row per pair (win =
  * the later index), rounded to 6 like [[WavSpectral]] so the SQL
  * oracle — same term-for-term DFT — compares on the 1e-6 grid.
  * Dirty bytes → null. */
case class WavSpectralFlux(child: Expression, winFrames: Int)
    extends KernelExpression {
  require(winFrames >= 4 && winFrames % 2 == 0,
    s"winFrames must be even and >= 4, got $winFrames")

  override def dataType: DataType =
    ArrayType(WavSpectralFlux.fluxSchema, containsNull = false)
  override def prettyName: String = "wav_spectral_flux"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(WavSpectralFlux, "compute", winFrames)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WavSpectralFlux {
  val fluxSchema: StructType = StructType(Seq(
    StructField("win", IntegerType, nullable = false),
    StructField("flux", DoubleType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no
    * decode. Shares [[WavSpectral]]'s exact DFT arithmetic. */
  def compute(bytes: Array[Byte], winFrames: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    graft.operators.WavPcm.decode(bytes) match {
      case Some(d) =>
        val nWin = d.frames / winFrames
        if (nWin < 2)
          return new org.apache.spark.sql.catalyst.util.GenericArrayData(
            Array.empty[Any])
        val nBins = winFrames / 2
        val mags = Array.ofDim[Double](nWin, nBins)
        var w = 0
        while (w < nWin) {
          var k = 1
          while (k <= nBins) {
            var re = 0.0
            var im = 0.0
            var n = 0
            while (n < winFrames) {
              val v = d.samples((w * winFrames + n) * d.channels).toDouble
              val arg = 2.0 * math.Pi * k * n / winFrames
              re += v * math.cos(arg)
              im += v * math.sin(arg)
              n += 1
            }
            mags(w)(k - 1) = math.sqrt(re * re + im * im)
            k += 1
          }
          w += 1
        }
        val rows = new Array[Any](nWin - 1)
        w = 1
        while (w < nWin) {
          var f = 0.0
          var k = 0
          while (k < nBins) {
            f += math.abs(mags(w)(k) - mags(w - 1)(k)); k += 1
          }
          rows(w - 1) = new GenericInternalRow(Array[Any](w,
            BigDecimal(f).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .toDouble))
          w += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
      case None => null
    }
}

/** gif_frame_diffs(bytes) -> array<struct<frame:int, sad:bigint>>:
  * adjacent-frame sum-of-absolute-differences over the REAL decoded
  * luminance rasters ([[GifFrameStats]]' codec) — the classic
  * shot-boundary/scene-cut signal of a video ingest pipeline, one row
  * per frame pair (frame = the later index). Pairs whose dims differ
  * are skipped (no comparable raster); dirty bytes → null. */
case class GifFrameDiffs(child: Expression) extends KernelExpression {

  override def dataType: DataType =
    ArrayType(GifFrameDiffs.diffSchema, containsNull = false)
  override def prettyName: String = "gif_frame_diffs"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(GifFrameDiffs, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object GifFrameDiffs {
  val diffSchema: StructType = StructType(Seq(
    StructField("frame", IntegerType, nullable = false),
    StructField("sad", LongType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no decode. */
  def compute(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    graft.operators.Gif.decode(bytes) match {
      case Some(d) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Any]
        var f = 1
        while (f < d.frames.length) {
          val a = d.frames(f - 1); val b = d.frames(f)
          if (a.width == b.width && a.height == b.height) {
            var sad = 0L
            var i = 0
            while (i < b.luma.length) {
              sad += math.abs((b.luma(i) & 0xff) - (a.luma(i) & 0xff))
              i += 1
            }
            out += new GenericInternalRow(Array[Any](f, sad))
          }
          f += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
      case None => null
    }
}

/** gif_frame_bytes(bytes) -> array<struct<width:int, height:int,
  * px:binary>>: the REAL decoded per-frame luminance rasters
  * ([[GifFrameStats]]' codec) as raw bytes — the input shape for
  * frame-level dedup/fingerprinting across a video corpus. Dirty
  * bytes → null. */
case class GifFrameBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType =
    ArrayType(GifFrameBytes.frameSchema, containsNull = false)
  override def prettyName: String = "gif_frame_bytes"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(GifFrameBytes, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object GifFrameBytes {
  val frameSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("px", BinaryType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no decode. */
  def compute(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    graft.operators.Gif.decode(bytes) match {
      case Some(d) =>
        val rows = new Array[Any](d.frames.length)
        var f = 0
        while (f < d.frames.length) {
          val fr = d.frames(f)
          rows(f) = new GenericInternalRow(
            Array[Any](fr.width, fr.height, fr.luma))
          f += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
      case None => null
    }
}

/** wav_pcm_bytes(bytes) -> struct<channels:int, sample_rate:int,
  * pcm:binary>: the REAL decoded PCM16 payload ([[WavStats]]' codec)
  * as raw little-endian bytes — the input shape for CONTENT-level
  * audio dedup: two files whose containers differ (metadata chunks,
  * chunk order) but whose samples match hash identically here, where
  * a byte-level file hash would miss them. Dirty bytes → null. */
case class WavPcmBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = WavPcmBytes.schema
  override def prettyName: String = "wav_pcm_bytes"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(WavPcmBytes, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WavPcmBytes {
  val schema: StructType = StructType(Seq(
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("pcm", BinaryType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no
    * decode. PCM rides out exactly as decoded (LE int16, interleaved). */
  def compute(bytes: Array[Byte]): InternalRow =
    graft.operators.WavPcm.decode(bytes) match {
      case Some(d) =>
        val out = new Array[Byte](d.samples.length * 2)
        var i = 0
        while (i < d.samples.length) {
          out(2 * i) = (d.samples(i) & 0xff).toByte
          out(2 * i + 1) = ((d.samples(i) >> 8) & 0xff).toByte
          i += 1
        }
        new GenericInternalRow(Array[Any](d.channels, d.sampleRate, out))
      case None => null
    }
}

/** wav_tagged_media_for_id(id) -> binary: the container-robust-dedup
  * fixture ([[graft.operators.MediaFixtures.wavTaggedMediaFor]]) —
  * PCM content seeded by id % 8, but a per-id LIST metadata chunk
  * spliced into the container so the FILE bytes are all distinct. */
case class WavTaggedMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "wav_tagged_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "wavTaggedMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** avi_media_for_id(id) -> binary: the MJPEG-AVI container-video
  * fixture bytes ([[graft.operators.MediaFixtures.aviMediaFor]]). */
case class AviMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "avi_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "aviMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** avi_av_media_for_id(id) -> binary: the mixed-track audio+video AVI
  * fixture bytes ([[graft.operators.MediaFixtures.aviAvMediaFor]]). */
case class AviAvMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "avi_av_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "aviAvMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** avi_meta(bytes) -> struct<width:int, height:int,
  * us_per_frame:int, streams:int, video_chunks:int, audio_chunks:int,
  * audio_channels:int, audio_rate:int, audio_bytes:bigint>: the AVI
  * container TRIAGE (r14) — RIFF header + chunk-table walk with NO
  * JPEG/PCM decode ([[graft.operators.Avi.meta]]), the AVI face of
  * `webm_meta`/`ivf_meta` for the crawl census. Null for non-AVI or
  * structurally broken bytes. */
case class AviMetaExpr(child: Expression) extends KernelExpression {

  override def dataType: DataType = AviMetaExpr.schema
  override def nullable: Boolean = true
  override def prettyName: String = "avi_meta"
  override def kernel: Kernel = Kernel(AviMetaExpr, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object AviMetaExpr {
  val schema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("us_per_frame", IntegerType, nullable = false),
    StructField("streams", IntegerType, nullable = false),
    StructField("video_chunks", IntegerType, nullable = false),
    StructField("audio_chunks", IntegerType, nullable = false),
    StructField("audio_channels", IntegerType, nullable = false),
    StructField("audio_rate", IntegerType, nullable = false),
    StructField("audio_bytes", LongType, nullable = false)))

  /** The kernel; public so generated code can call it. */
  def compute(bytes: Array[Byte]): InternalRow =
    graft.operators.Avi.meta(bytes) match {
      case None => null
      case Some(m) => InternalRow(m.width, m.height, m.usPerFrame,
        m.nStreams, m.videoChunks, m.audioChunks, m.audioChannels,
        m.audioRate, m.audioBytes)
    }
}

/** avi_av_features(bytes) -> struct<n_frames:int, pix_sum:bigint,
  * a_channels:int, a_rate:int, a_samples:bigint, a_sum:bigint,
  * a_abs_sum:bigint>: BOTH tracks of a mixed-track AVI decoded in one
  * pass ([[graft.operators.Avi.decodeAv]] — RIFF walk + per-frame
  * baseline-JPEG entropy decode + PCM16 chunk reassembly) and reduced
  * to exact integer statistics. Dirty bytes, out-of-subset streams,
  * or a missing audio track → null (the query contract is the MIXED
  * container; video-only stats are [[AviFrameStats]]). */
case class AviAvFeatures(child: Expression) extends KernelExpression {

  override def dataType: DataType = AviAvFeatures.schema
  override def prettyName: String = "avi_av_features"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(AviAvFeatures, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object AviAvFeatures {
  val schema: StructType = StructType(Seq(
    StructField("n_frames", IntegerType, nullable = false),
    StructField("pix_sum", LongType, nullable = false),
    StructField("a_channels", IntegerType, nullable = false),
    StructField("a_rate", IntegerType, nullable = false),
    StructField("a_samples", LongType, nullable = false),
    StructField("a_sum", LongType, nullable = false),
    StructField("a_abs_sum", LongType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no
    * decode or no audio track. */
  def compute(bytes: Array[Byte]): GenericInternalRow =
    graft.operators.Avi.decodeAv(bytes) match {
      case Some(av) if av.audio.isDefined =>
        var pix = 0L
        av.video.frames.foreach { fr =>
          var i = 0
          while (i < fr.pixels.length) { pix += (fr.pixels(i) & 0xff); i += 1 }
        }
        val a = av.audio.get
        var s = 0L; var sAbs = 0L
        var i = 0
        while (i < a.samples.length) {
          val v = a.samples(i).toLong
          s += v; sAbs += math.abs(v)
          i += 1
        }
        new GenericInternalRow(Array[Any](
          av.video.frames.length, pix, a.channels, a.sampleRate,
          a.samples.length.toLong, s, sAbs))
      case _ => null
    }
}

/** avi_audio_wav(bytes) -> binary: the PCM16 audio track of a
  * mixed-track AVI re-wrapped as a canonical RIFF/WAVE file
  * ([[graft.operators.Avi.decodeAv]] →
  * [[graft.operators.WavPcm.wavFromSamples]]) — the bridge that lets
  * container audio flow through EVERY existing WAV kernel unchanged:
  * `wav_windows(avi_audio_wav(v), 64)`, `wav_stats(...)`, decoded-
  * content dedup via `wav_pcm_bytes`. Dirty bytes or no routed audio
  * track → null. */
/** wav_resample(bytes, dstRate) -> binary: linear-interpolation
  * sample-rate conversion re-wrapped as a canonical WAV
  * ([[graft.operators.WavPcm.resample]] — integer-exact contract), so
  * the resampled audio flows through every WAV kernel unchanged. Dirty
  * bytes → null. */
case class WavResample(child: Expression, dstRate: Int)
    extends KernelExpression {
  require(dstRate > 0 && dstRate <= 1000000,
    s"dstRate must be in (0, 1e6], got $dstRate")

  override def dataType: DataType = BinaryType
  override def prettyName: String = "wav_resample"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(WavResample, "compute", dstRate)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WavResample {
  /** The kernel; public so generated code can call it. */
  def compute(bytes: Array[Byte], dstRate: Int): Array[Byte] =
    graft.operators.WavPcm.resample(bytes, dstRate).orNull
}

/** wav_normalize(bytes, targetPeak) -> binary: peak/gain
  * normalization re-wrapped as a canonical WAV
  * ([[graft.operators.WavPcm.normalize]] — integer-exact
  * sign·(|v|·peak/maxAbs) contract), so normalized audio flows
  * through every WAV kernel unchanged. Dirty bytes → null. */
case class WavNormalize(child: Expression, targetPeak: Int)
    extends KernelExpression {
  require(targetPeak >= 1 && targetPeak <= 32767,
    s"targetPeak must be in [1, 32767], got $targetPeak")

  override def dataType: DataType = BinaryType
  override def prettyName: String = "wav_normalize"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(WavNormalize, "compute", targetPeak)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object WavNormalize {
  /** The kernel; public so generated code can call it. */
  def compute(bytes: Array[Byte], targetPeak: Int): Array[Byte] =
    graft.operators.WavPcm.normalize(bytes, targetPeak).orNull
}

case class AviAudioWav(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "avi_audio_wav"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(AviAudioWav, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object AviAudioWav {
  /** The kernel; public so generated code can call it. */
  def compute(bytes: Array[Byte]): Array[Byte] =
    graft.operators.Avi.decodeAv(bytes) match {
      case Some(av) => av.audio match {
        case Some(a) if a.samples.nonEmpty =>
          graft.operators.WavPcm.wavFromSamples(
            a.channels, a.sampleRate, a.samples)
        case _ => null
      }
      case None => null
    }
}

/** avi_frame_stats(bytes) -> array<struct<frame:int, width:int,
  * height:int, channels:int, pix_sum:bigint>>: REAL MJPEG-AVI decode
  * ([[graft.operators.Avi]] — RIFF walk + per-frame baseline-JPEG
  * entropy decode) reduced to exact per-frame integer statistics —
  * the container-video twin of [[GifFrameStats]]. `pix_sum` sums the
  * RAW component samples (all channels), so the oracle re-derives it
  * straight from the block contract. Dirty or out-of-subset bytes →
  * null. */
case class AviFrameStats(child: Expression) extends KernelExpression {

  override def dataType: DataType =
    ArrayType(AviFrameStats.frameSchema, containsNull = false)
  override def prettyName: String = "avi_frame_stats"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(AviFrameStats, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object AviFrameStats {
  val frameSchema: StructType = StructType(Seq(
    StructField("frame", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("pix_sum", LongType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no decode. */
  def compute(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    graft.operators.Avi.decode(bytes) match {
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

/** avi_frame_diffs(bytes) -> array<struct<frame:int, sad:bigint>>:
  * adjacent-frame sum-of-absolute-differences over the REAL decoded
  * MJPEG frames' luminance rasters ([[graft.operators.Avi.luma]]) —
  * the scene-cut signal of [[GifFrameDiffs]] applied to container
  * video. One row per frame pair (frame = the later index); pairs
  * whose dims differ are skipped; dirty bytes → null. */
case class AviFrameDiffs(child: Expression) extends KernelExpression {

  override def dataType: DataType =
    ArrayType(GifFrameDiffs.diffSchema, containsNull = false)
  override def prettyName: String = "avi_frame_diffs"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(AviFrameDiffs, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object AviFrameDiffs {
  /** The kernel; public so generated code can call it. Null = no decode. */
  def compute(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    graft.operators.Avi.decode(bytes) match {
      case Some(d) =>
        val lumas = d.frames.map(graft.operators.Avi.luma)
        val out = scala.collection.mutable.ArrayBuffer.empty[Any]
        var f = 1
        while (f < d.frames.length) {
          val a = d.frames(f - 1); val b = d.frames(f)
          if (a.width == b.width && a.height == b.height) {
            val la = lumas(f - 1); val lb = lumas(f)
            var sad = 0L
            var i = 0
            while (i < lb.length) {
              sad += math.abs((lb(i) & 0xff) - (la(i) & 0xff))
              i += 1
            }
            out += new GenericInternalRow(Array[Any](f, sad))
          }
          f += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
      case None => null
    }
}
