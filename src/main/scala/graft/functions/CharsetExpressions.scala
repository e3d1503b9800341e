package graft.functions

import graft.operators.{Charset, MediaFixtures}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** sniff_charset(bytes) -> string: the browser-order charset verdict
  * ([[Charset.sniff]]) — utf-16le/utf-16be by BOM, binary on NUL,
  * ascii, utf-8 via strict DFA validation, windows-1252 fallback. */
case class SniffCharset(child: Expression) extends KernelExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "sniff_charset"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(Charset, "sniff")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** decode_charset(bytes) -> string: bytes to text under the sniffed
  * charset ([[Charset.decode]]) — total for text (WHATWG 1252 maps
  * every byte), null for binary payloads and broken UTF-16; never a
  * U+FFFD. */
case class DecodeCharset(child: Expression) extends KernelExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "decode_charset"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(DecodeCharset, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object DecodeCharset {
  /** The kernel; public so generated code can call it. */
  def compute(bytes: Array[Byte]): UTF8String = {
    val s = Charset.decode(bytes)
    if (s == null) null else UTF8String.fromString(s)
  }
}

/** fix_mojibake(s) -> string: undo UTF-8-read-as-windows-1252 double
  * encoding, bounded at two rounds ([[Charset.fixMojibake]]); clean
  * text — including genuinely non-Western text — is a fixed point. */
case class FixMojibake(child: Expression) extends KernelExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "fix_mojibake"
  override def kernel: Kernel = Kernel(FixMojibake, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object FixMojibake {
  /** The kernel; public so generated code can call it. */
  def compute(s: UTF8String): UTF8String =
    UTF8String.fromString(Charset.fixMojibake(s.toString))
}

/** enc_media_for_id(id) -> binary ([[MediaFixtures.encMediaFor]] —
  * one closed-form sentence through five transfer encodings). */
case class EncMediaBytes(child: Expression) extends KernelExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "enc_media_for_id"
  override def kernel: Kernel = Kernel(MediaFixtures, "encMediaFor")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
