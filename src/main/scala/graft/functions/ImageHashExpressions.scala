package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** image_resize(bytes, w, h) -> binary: resize a decoded image (PNG
  * or baseline JPEG, the `pixel_stats` dispatch) to exact target
  * dimensions and re-encode as a REAL PNG, so the result flows
  * through every image kernel unchanged — the image twin of
  * `wav_resample`'s bridge pattern. Downscale cells box-average with
  * floor boundaries `i·src/dst` and integer-division means (the same
  * arithmetic as [[ImageDhash]]'s grid, SQL-reproducible); an
  * upscale cell whose box is empty samples its boundary pixel
  * (nearest neighbor). Channel count is preserved. Dirty bytes →
  * null. */
case class ImageResize(child: Expression, dstW: Int, dstH: Int)
    extends KernelExpression {
  require(dstW >= 1 && dstW <= 4096 && dstH >= 1 && dstH <= 4096,
    s"target dims must be in [1, 4096], got ${dstW}x$dstH")

  override def dataType: DataType = BinaryType
  override def prettyName: String = "image_resize"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(ImageResize, "compute", dstW, dstH)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object ImageResize {
  /** The kernel; public so generated code can call it. Null = no decode. */
  def compute(bytes: Array[Byte], dstW: Int, dstH: Int): Array[Byte] = {
    if (bytes == null || bytes.length < 2) return null
    val decoded =
      if ((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P')
        graft.operators.PngPixels.decode(bytes)
          .map(d => (d.width, d.height, d.channels, d.pixels))
      else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
        graft.operators.JpegDc.decode(bytes)
          .map(d => (d.width, d.height, d.channels, d.pixels))
      else if (bytes(0) == 'B' && bytes(1) == 'M')
        graft.operators.Bmp.decode(bytes)
          .map(d => (d.width, d.height, d.channels, d.pixels))
      else None
    decoded match {
      case Some((w, h, ch, px)) =>
        val out = new Array[Byte](dstW * dstH * ch)
        var j = 0
        while (j < dstH) {
          val y0 = j * h / dstH
          val y1e = (j + 1) * h / dstH
          val y1 = if (y1e > y0) y1e else y0 + 1 // empty box: nearest
          var i = 0
          while (i < dstW) {
            val x0 = i * w / dstW
            val x1e = (i + 1) * w / dstW
            val x1 = if (x1e > x0) x1e else x0 + 1
            var c = 0
            while (c < ch) {
              var sum = 0L
              var y = y0
              while (y < y1) {
                var x = x0
                while (x < x1) {
                  sum += px((y * w + x) * ch + c) & 0xff
                  x += 1
                }
                y += 1
              }
              out((j * dstW + i) * ch + c) =
                (sum / ((x1 - x0).toLong * (y1 - y0))).toByte
              c += 1
            }
            i += 1
          }
          j += 1
        }
        graft.operators.PngPixels.encodeRaster(dstW, dstH, ch, out)
      case None => null
    }
  }
}

/** image_dhash(bytes) -> struct<hi:bigint, lo:bigint>: the difference
  * hash (dHash) — the classic perceptual image fingerprint: decode
  * (PNG or baseline JPEG, the same format dispatch as `pixel_stats`),
  * reduce luminance to a 9x8 grid of integer box averages, and emit
  * bit (j*8+i) = 1 iff cell (i,j) is darker than its right neighbor.
  * Gradient-structure–invariant: two images differing by noise, mild
  * recompression, or small luminance shifts land within a few bits,
  * so near-duplicate search is a Hamming ball — exactly SimHash's
  * deployment shape, which [[graft.operators.ImageDedup]] reuses.
  *
  * The 64 bits ship as two NON-NEGATIVE 32-bit halves (hi = bits
  * 32..63, lo = bits 0..31) so a SQL oracle can assemble each half as
  * an exact integer sum without touching the BIGINT sign bit. All
  * grid math is integer (floor boundaries `i*w/9`, floor-divide
  * averages) — bit-reproducible in SQL. Images narrower than the grid
  * (w < 9 or h < 8) and dirty bytes → null. */
case class ImageDhash(child: Expression) extends KernelExpression {

  override def dataType: DataType = ImageDhash.schema
  override def prettyName: String = "image_dhash"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(ImageDhash, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object ImageDhash {
  val schema: StructType = StructType(Seq(
    StructField("hi", LongType, nullable = false),
    StructField("lo", LongType, nullable = false)))

  private val Cols = 9
  private val Rows = 8

  /** The kernel; public so generated code can call it. Null = no
    * decode or image smaller than the sampling grid. */
  def compute(bytes: Array[Byte]): InternalRow = {
    if (bytes == null || bytes.length < 2) return null
    val decoded =
      if ((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P')
        graft.operators.PngPixels.decode(bytes)
          .map(d => (d.width, d.height, d.channels, d.pixels))
      else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
        graft.operators.JpegDc.decode(bytes)
          .map(d => (d.width, d.height, d.channels, d.pixels))
      else if (bytes(0) == 'B' && bytes(1) == 'M')
        graft.operators.Bmp.decode(bytes)
          .map(d => (d.width, d.height, d.channels, d.pixels))
      else None
    decoded match {
      case Some((w, h, ch, px)) if w >= Cols && h >= Rows =>
        // integer luminance plane (alpha channels never enter)
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
        var hi = 0L
        var lo = 0L
        var j = 0
        while (j < Rows) {
          val y0 = j * h / Rows
          val y1 = (j + 1) * h / Rows
          // the 9 box averages of this row band (floor division — the
          // same arithmetic the SQL oracle runs)
          val avg = new Array[Int](Cols)
          var i = 0
          while (i < Cols) {
            val x0 = i * w / Cols
            val x1 = (i + 1) * w / Cols
            var sum = 0L
            var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) { sum += lum(y * w + x); x += 1 }
              y += 1
            }
            avg(i) = (sum / ((x1 - x0).toLong * (y1 - y0))).toInt
            i += 1
          }
          i = 0
          while (i < Rows) {
            if (avg(i) < avg(i + 1)) {
              val n = j * 8 + i
              if (n >= 32) hi |= 1L << (n - 32) else lo |= 1L << n
            }
            i += 1
          }
          j += 1
        }
        new GenericInternalRow(Array[Any](hi, lo))
      case _ => null
    }
  }
}
