package graft.functions

import graft.operators.{MediaFixtures, Tiff}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** jpeg_exif(bytes) -> struct<orientation:int, make:string,
  * model:string, datetime:string, exif_w:int, exif_h:int>: EXIF
  * triage from a JPEG's APP1 segment via the real TIFF IFD walk
  * ([[Tiff.parseExif]] — both byte orders, IFD0 + the Exif-private
  * sub-IFD). Orientation is the field image pipelines MUST read
  * before any pixel op. No-EXIF or dirty bytes → null. */
case class JpegExif(child: Expression) extends KernelExpression {

  override def dataType: DataType = JpegExif.schema
  override def prettyName: String = "jpeg_exif"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(JpegExif, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object JpegExif {
  val schema: StructType = StructType(Seq(
    StructField("orientation", IntegerType, nullable = false),
    StructField("make", StringType, nullable = false),
    StructField("model", StringType, nullable = false),
    StructField("datetime", StringType, nullable = false),
    StructField("exif_w", IntegerType, nullable = false),
    StructField("exif_h", IntegerType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no EXIF. */
  def compute(bytes: Array[Byte]): GenericInternalRow =
    Tiff.parseExif(bytes) match {
      case Some(e) => new GenericInternalRow(Array[Any](
        e.orientation, UTF8String.fromString(e.make),
        UTF8String.fromString(e.model), UTF8String.fromString(e.dateTime),
        e.exifW, e.exifH))
      case None => null
    }
}

/** tiff_media_for_id(id) -> binary ([[MediaFixtures.tiffMediaFor]]). */
case class TiffMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "tiff_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "tiffMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** tiffpx_media_for_id(id) -> binary: FULLY pixel-decodable TIFF
  * ([[MediaFixtures.tiffPixelMediaFor]] — closed-form pixels through
  * gray/inverted-gray/RGB, none/PackBits, multi-strip, both byte
  * orders). */
case class TiffPixelMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "tiffpx_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "tiffPixelMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** tiffext_media_for_id(id) -> binary: SEGMENTED-grammar TIFF
  * (tiled/planar/16-bit variants, [[MediaFixtures.tiffExtMediaFor]]). */
case class TiffExtMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "tiffext_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "tiffExtMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** g4_media_for_id(id) -> binary: EXTERNAL CCITT Group 4 fixture bytes
  * ([[graft.operators.G4Fixtures]] — real libtiff encodes, never
  * engine-written). */
case class G4MediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "g4_media_for_id"
  override def kernel: Kernel = Kernel(graft.operators.G4Fixtures, "fileFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** tiffjpeg_media_for_id(id) -> binary: JPEG-in-TIFF (Compression 7)
  * with a REAL decodable baseline JPEG strip
  * ([[MediaFixtures.tiffJpegFor]]). */
case class TiffJpegMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "tiffjpeg_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "tiffJpegFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** jpeg_exif_media_for_id(id) -> binary
  * ([[MediaFixtures.jpegExifMediaFor]] — decodable JPEG + APP1). */
case class JpegExifMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "jpeg_exif_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "jpegExifMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
