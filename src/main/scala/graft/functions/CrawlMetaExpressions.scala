package graft.functions

import graft.operators.{MediaFixtures, Sitemap, Zstd}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** zstd_meta(bytes) -> struct<content_size, has_content_size,
  * window_size, dict_id, has_checksum, skippable>: RFC 8878 frame-
  * header triage — declared size, window budget, dictionary
  * requirement, checksum flag, leading skippable frames counted
  * ([[Zstd.parse]]; block CONTENT is the documented codec seam).
  * Dirty bytes → null. */
case class ZstdMeta(child: Expression) extends KernelExpression {

  override def dataType: DataType = ZstdMeta.schema
  override def prettyName: String = "zstd_meta"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(ZstdMeta, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object ZstdMeta {
  val schema: StructType = StructType(Seq(
    StructField("content_size", LongType, nullable = false),
    StructField("has_content_size", BooleanType, nullable = false),
    StructField("window_size", LongType, nullable = false),
    StructField("dict_id", LongType, nullable = false),
    StructField("has_checksum", BooleanType, nullable = false),
    StructField("skippable", IntegerType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no parse. */
  def compute(bytes: Array[Byte]): GenericInternalRow =
    Zstd.parse(bytes) match {
      case Some(m) => new GenericInternalRow(Array[Any](
        m.contentSize, m.hasContentSize, m.windowSize, m.dictId,
        m.hasChecksum, m.skippableFrames))
      case None => null
    }
}

/** zst_media_for_id(id) -> binary ([[MediaFixtures.zstMediaFor]]). */
case class ZstMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "zst_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "zstMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** unzstd(bytes) -> binary: full RFC 8878 decompression
  * ([[graft.operators.ZstdDecode.decompress]] — FSE, Huffman
  * literals, sequences, repeat offsets, checksums, multi-frame).
  * Malformed/dictionary input → null (the gunzip contract). */
case class Unzstd(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "unzstd"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(Unzstd, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Unzstd {
  /** The kernel; public so generated code can call it. */
  def compute(bytes: Array[Byte]): Array[Byte] =
    graft.operators.ZstdDecode.decompress(bytes).orNull
}

/** zstfull_media_for_id(id) -> binary: FULLY decodable zstd frames
  * ([[MediaFixtures.zstFullMediaFor]] — raw/compressed blocks, real
  * LZ sequences through RLE/repeat-mode tables, checksums,
  * multi-frame and skippable variants). */
case class ZstFullMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "zstfull_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "zstFullMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** sitemap_entries(text) -> array<struct<loc, lastmod, priority>>:
  * sitemaps.org urlset/sitemapindex extraction — entity decoding,
  * CDATA, per-entry blocks, the 0.5 priority default ([[Sitemap
  * .parse]]). Dirty input → null. */
case class SitemapEntries(child: Expression) extends KernelExpression {

  override def dataType: DataType =
    ArrayType(SitemapEntries.entrySchema, containsNull = false)
  override def prettyName: String = "sitemap_entries"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(SitemapEntries, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object SitemapEntries {
  val entrySchema: StructType = StructType(Seq(
    StructField("loc", StringType, nullable = false),
    StructField("lastmod", StringType, nullable = false),
    StructField("priority", DoubleType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no parse. */
  def compute(text: UTF8String): GenericArrayData =
    Sitemap.parse(text.toString) match {
      case Some(p) =>
        val rows = new Array[Any](p.entries.length)
        var i = 0
        while (i < p.entries.length) {
          val e = p.entries(i)
          rows(i) = new GenericInternalRow(Array[Any](
            UTF8String.fromString(e.loc), UTF8String.fromString(e.lastmod),
            e.priority))
          i += 1
        }
        new GenericArrayData(rows)
      case None => null
    }
}

/** sitemap_media_for_id(id) -> string ([[MediaFixtures
  * .sitemapMediaFor]] — urlset / sitemapindex cycling). */
case class SitemapMediaText(child: Expression) extends KernelExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "sitemap_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "sitemapMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** media_kind(bytes) -> string: O(1) magic-byte triage routing a
  * MIXED binary column to the right decoder family — the dispatch
  * step in front of every codec here. Seventeen formats recognized
  * by their signatures (RIFF subtypes split on the form tag, parquet
  * requires BOTH magics, zstd includes leading skippable frames,
  * mp3 by ID3 tag or frame sync, tar by the ustar magic at 257);
  * anything else is "unknown", never a throw. */
case class MediaKind(child: Expression) extends KernelExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "media_kind"
  override def kernel: Kernel = Kernel(MediaKind, "kind")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object MediaKind {
  /** The kernel; public so generated code can call it. */
  def kind(b: Array[Byte]): String = {
    if (b == null || b.length < 4) return "unknown"
    def at(i: Int): Int = b(i) & 0xff
    if (at(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
    else if (at(0) == 0xff && at(1) == 0xd8) "jpeg"
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') "gif"
    else if (b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b.length >= 12) {
      val t = new String(b, 8, 4, "US-ASCII")
      if (t == "WAVE") "wav"
      else if (t == "WEBP") "webp"
      else if (t == "AVI ") "avi"
      else "riff"
    }
    else if (b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C') "flac"
    else if (b(0) == 'O' && b(1) == 'g' && b(2) == 'g' && b(3) == 'S') "ogg"
    else if (b(0) == 'P' && b(1) == 'K' && b(2) == 3 && b(3) == 4) "zip"
    else if (at(0) == 0x1f && at(1) == 0x8b) "gzip"
    else if (at(0) == 0x28 && at(1) == 0xb5 && at(2) == 0x2f &&
      at(3) == 0xfd) "zstd"
    else if ((at(0) & 0xf0) == 0x50 && at(1) == 0x2a && at(2) == 0x4d &&
      at(3) == 0x18) "zstd" // leading skippable frame
    else if (b.length >= 5 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' &&
      b(3) == 'F' && b(4) == '-') "pdf"
    else if (b.length >= 12 && b(0) == 'P' && b(1) == 'A' && b(2) == 'R' &&
      b(3) == '1' && b(b.length - 4) == 'P' && b(b.length - 3) == 'A' &&
      b(b.length - 2) == 'R' && b(b.length - 1) == '1') "parquet"
    else if (b.length >= 12 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' &&
      b(7) == 'p') "mp4"
    else if ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) ||
      (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42)) "tiff"
    else if (b(0) == 'I' && b(1) == 'D' && b(2) == '3') "mp3"
    else if (b(0) == 'D' && b(1) == 'K' && b(2) == 'I' && b(3) == 'F')
      "ivf" // libvpx's VP8 video container (Vp8Inter.decodeIvf)
    else if (at(0) == 0x1a && at(1) == 0x45 && at(2) == 0xdf &&
      at(3) == 0xa3) {
      // EBML (r13): split webm vs generic matroska by the DocType
      // string, which sits in the first few dozen header bytes
      val lim = math.min(b.length - 4, 64)
      var i = 4
      var webm = false
      while (!webm && i < lim) {
        webm = b(i) == 'w' && b(i + 1) == 'e' && b(i + 2) == 'b' &&
          b(i + 3) == 'm'
        i += 1
      }
      if (webm) "webm" else "matroska"
    }
    else if (at(0) == 0xff && (at(1) & 0xe0) == 0xe0) "mp3"
    else if (b.length >= 262 && b(257) == 'u' && b(258) == 's' &&
      b(259) == 't' && b(260) == 'a' && b(261) == 'r') "tar"
    else "unknown"
  }
}
