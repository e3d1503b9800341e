package graft.functions

import graft.operators.{MediaFixtures, Pdf}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** pdf_text(bytes) -> struct<npages:int, text:string>: real PDF text
  * extraction — xref table → catalog → page-tree walk → FlateDecode
  * content streams → Tj/'/"/TJ interpretation with line-move newlines
  * ([[Pdf.text]]). One parse serves both fields. Encrypted files,
  * xref streams, and non-Flate filters are out of subset → null, as
  * are dirty bytes. */
case class PdfText(child: Expression) extends KernelExpression {

  override def dataType: DataType = PdfText.schema
  override def prettyName: String = "pdf_text"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(PdfText, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PdfText {
  val schema: StructType = StructType(Seq(
    StructField("npages", IntegerType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no parse. */
  def compute(bytes: Array[Byte]): GenericInternalRow =
    Pdf.extract(bytes) match {
      case Some((n, t)) => new GenericInternalRow(Array[Any](
        n, UTF8String.fromString(t)))
      case None => null
    }
}

/** pdf_media_for_id(id) -> binary ([[MediaFixtures.pdfMediaFor]] —
  * complete spec-valid PDFs, Flate on odd ids). */
case class PdfMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "pdf_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "pdfMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** pdf_images(bytes) -> array<struct<page, name, width, height,
  * filter, data>>: embedded image XObjects via the full page-tree
  * walk ([[Pdf.images]]). DCTDecode payloads stay encoded (complete
  * JPEG files — route to jpeg_stats/pixel decode); Flate payloads
  * come out as raw samples. Dirty bytes or an unsupported image
  * filter → null (never a partial inventory). */
case class PdfImages(child: Expression) extends KernelExpression {

  override def dataType: DataType =
    ArrayType(PdfImages.imageSchema, containsNull = false)
  override def prettyName: String = "pdf_images"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(PdfImages, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PdfImages {
  val imageSchema: StructType = StructType(Seq(
    StructField("page", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("filter", StringType, nullable = false),
    StructField("data", BinaryType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no parse. */
  def compute(bytes: Array[Byte])
      : org.apache.spark.sql.catalyst.util.GenericArrayData =
    Pdf.images(bytes) match {
      case Some(ims) =>
        val rows = new Array[Any](ims.length)
        var i = 0
        while (i < ims.length) {
          val im = ims(i)
          rows(i) = new GenericInternalRow(Array[Any](
            im.page, UTF8String.fromString(im.name),
            im.width, im.height,
            UTF8String.fromString(im.filter), im.data))
          i += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
      case None => null
    }
}

/** byte_sum(bytes) -> bigint: the sum of the unsigned byte values —
  * the one-number integrity/energy statistic for an opaque binary
  * column (and the pixel sum of a raw 8-bit sample payload, e.g. a
  * Flate image out of [[PdfImages]]). Null in → null out. */
case class ByteSum(child: Expression) extends KernelExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "byte_sum"
  override def kernel: Kernel = Kernel(ByteSum, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object ByteSum {
  /** The kernel; public so generated code can call it. */
  def compute(bytes: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < bytes.length) { s += bytes(i) & 0xff; i += 1 }
    s
  }
}

/** pdfimg_media_for_id(id) -> binary ([[MediaFixtures.pdfImgMediaFor]]
  * — image-bearing PDFs: a DCTDecode JPEG per even jid, a Flate gray
  * raster per odd jid, closed-form pixel contracts throughout). */
case class PdfImgMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "pdfimg_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "pdfImgMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
