package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._

/** image_quality(bytes) -> struct<width, height, channels, lum_sum,
  * lum_sq_sum, lap_sq_sum, n_gray>: the LAION-style curation signals
  * over REAL decoded pixels, format-dispatched on magic bytes like
  * [[PixelStats]] (PNG / JPEG / BMP / WebP-VP8L / baseline TIFF).
  *
  * Everything is an exact INTEGER moment so the oracle can replay it
  * hash-identically; the float scores a curator thresholds on are one
  * division away downstream, where float tolerance belongs:
  *  - brightness  = lum_sum / (w*h)
  *  - contrast    = sqrt(lum_sq_sum/(w*h) - brightness^2)
  *  - blur score  = lap_sq_sum / ((w-2)*(h-2))  (Laplacian variance,
  *    the standard opencv-style sharpness measure; < threshold =>
  *    blurry), 4-neighbor kernel over interior pixels
  *  - n_gray      = distinct luminance levels (degenerate/flat-image
  *    detector: a screenshot of a solid fill has n_gray ~ 1)
  *
  * Luminance is the repo-wide integer convention ([[ImageDHash]]):
  * (299 R + 587 G + 114 B) / 1000 for >= 3 channels (alpha ignored),
  * the raw sample for gray/gray-alpha. Dirty or out-of-subset bytes
  * -> null, never a throw. */
case class ImageQuality(child: Expression) extends KernelExpression {

  override def dataType: DataType = ImageQuality.schema
  override def prettyName: String = "image_quality"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(ImageQuality, "statsToRow")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object ImageQuality {
  val schema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("lum_sum", LongType, nullable = false),
    StructField("lum_sq_sum", LongType, nullable = false),
    StructField("lap_sq_sum", LongType, nullable = false),
    StructField("n_gray", IntegerType, nullable = false)))

  /** Magic-dispatched decode to the shared raster shape — the one
    * entry point for "give me pixels whatever the format is". */
  def decodeAny(bytes: Array[Byte])
      : Option[graft.operators.PngPixels.Decoded] =
    if (bytes == null || bytes.length < 12) None
    else if ((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P')
      graft.operators.PngPixels.decode(bytes)
    else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
      graft.operators.JpegDc.decode(bytes)
    else if (bytes(0) == 'B' && bytes(1) == 'M')
      graft.operators.Bmp.decode(bytes)
    else if (bytes(0) == 'R' && bytes(1) == 'I' &&
      bytes(2) == 'F' && bytes(3) == 'F')
      graft.operators.Webp.decode(bytes)
    else if ((bytes(0) == 'I' && bytes(1) == 'I') ||
      (bytes(0) == 'M' && bytes(1) == 'M'))
      graft.operators.Tiff.decodePixels(bytes)
    else None

  /** The kernel; public so generated code can call it. Null = no decode. */
  def statsToRow(bytes: Array[Byte]): InternalRow =
    decodeAny(bytes) match {
      case Some(d) =>
        val w = d.width
        val h = d.height
        val ch = d.channels
        val px = d.pixels
        val lum = new Array[Int](w * h)
        var p = 0
        var o = 0
        if (ch >= 3) {
          while (p < lum.length) {
            lum(p) = (299 * (px(o) & 0xff) + 587 * (px(o + 1) & 0xff) +
              114 * (px(o + 2) & 0xff)) / 1000
            p += 1; o += ch
          }
        } else {
          while (p < lum.length) { lum(p) = px(o) & 0xff; p += 1; o += ch }
        }
        var lumSum = 0L
        var lumSq = 0L
        var nGray = 0
        val seen = new Array[Boolean](256)
        p = 0
        while (p < lum.length) {
          val v = lum(p)
          lumSum += v
          lumSq += v.toLong * v
          if (!seen(v)) { seen(v) = true; nGray += 1 }
          p += 1
        }
        var lapSq = 0L
        var y = 1
        while (y < h - 1) {
          var x = 1
          while (x < w - 1) {
            val lap = 4 * lum(y * w + x) - lum(y * w + x - 1) -
              lum(y * w + x + 1) - lum((y - 1) * w + x) -
              lum((y + 1) * w + x)
            lapSq += lap.toLong * lap
            x += 1
          }
          y += 1
        }
        new GenericInternalRow(Array[Any](
          w, h, ch, lumSum, lumSq, lapSq, nGray))
      case None => null
    }
}
