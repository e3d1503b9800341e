package graft.functions

import graft.operators.{MediaFixtures, Mime}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** mime_message(bytes) -> struct<from, to, subject, date,
  * content_type, n_parts, text>: RFC 5322/MIME parsing — header
  * unfolding, RFC 2047 encoded-word decoding, base64/quoted-printable
  * reversal, multipart traversal; `text` is the join of the
  * text/plain leaves ([[Mime.parse]]). Dirty bytes → null. */
case class MimeMessage(child: Expression) extends KernelExpression {

  override def dataType: DataType = MimeMessage.schema
  override def prettyName: String = "mime_message"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(MimeMessage, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object MimeMessage {
  val schema: StructType = StructType(Seq(
    StructField("from", StringType, nullable = false),
    StructField("to", StringType, nullable = false),
    StructField("subject", StringType, nullable = false),
    StructField("date", StringType, nullable = false),
    StructField("content_type", StringType, nullable = false),
    StructField("n_parts", IntegerType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** The kernel; public so generated code can call it. Null = no parse. */
  def compute(bytes: Array[Byte]): GenericInternalRow = {
    if (bytes == null) return null
    Mime.parse(new String(bytes, "UTF-8")) match {
      case Some(m) => new GenericInternalRow(Array[Any](
        UTF8String.fromString(m.from), UTF8String.fromString(m.to),
        UTF8String.fromString(m.subject), UTF8String.fromString(m.date),
        UTF8String.fromString(m.contentType), m.nParts,
        UTF8String.fromString(m.text)))
      case None => null
    }
  }
}

/** eml_media_for_id(id) -> binary ([[MediaFixtures.emlMediaFor]] —
  * QP / multipart+base64 / plain messages cycling by id). */
case class EmlMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "eml_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "emlMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
