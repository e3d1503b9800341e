package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{BinaryType => _, _}
import org.apache.spark.unsafe.types.UTF8String

/** bpe_encode(text) -> string: the document tokenized under a FROZEN
  * byte-pair-encoding merge list ([[graft.operators.Bpe]]) — every
  * word reduced to its BPE symbols by canonical single-pass merge
  * application, all symbols joined by single spaces. A pure map (the
  * [[BpeCodec]] over the merge list is the kernel owner, the
  * [[UnigramBits]]/[[BigramBits]] deployment shape), so the same call
  * tokenizes a structured stream. A bounded per-expression memo caches
  * word encodings — natural-language corpora repeat words heavily, so
  * the O(merges x len) inner loop runs once per distinct word, not
  * once per occurrence. */
case class BpeEncode(child: Expression, merges: Array[(String, String)])
    extends KernelExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "bpe_encode"

  @transient private lazy val codec = new BpeCodec(merges)
  override def kernel: Kernel = Kernel(codec, "encodeDoc")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)

  // the merge array is part of identity; default case-class equality
  // on Array compares by reference, which breaks plan canonicalization
  override def equals(o: Any): Boolean = o match {
    case BpeEncode(c, m) =>
      c == child && java.util.Arrays.equals(
        m.asInstanceOf[Array[AnyRef]], merges.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(
      merges.asInstanceOf[Array[AnyRef]])
}

/** The serializable kernel: canonical merge application with a bounded
  * word-encoding memo (per executor instance; thread-safe). */
final class BpeCodec(val merges: Array[(String, String)])
    extends Serializable {

  private val MemoCap = 1 << 16
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Public so generated code can call it. */
  def encodeDoc(text: UTF8String): UTF8String = {
    if (text == null) return null
    val words = text.toString.split(" ", -1)
    val sb = new java.lang.StringBuilder(text.numBytes() * 2)
    var i = 0
    while (i < words.length) {
      if (i > 0) sb.append(' ')
      sb.append(encodeWord(words(i)))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  private def encodeWord(w: String): String = {
    if (w.length <= 1) return w
    val hit = memo.get(w)
    if (hit != null) return hit
    var syms = new Array[String](w.length)
    var i = 0
    while (i < w.length) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
    var m = 0
    while (m < merges.length && syms.length > 1) {
      syms = graft.operators.Bpe.applyMerge(syms, merges(m)._1, merges(m)._2)
      m += 1
    }
    val enc = syms.mkString(" ")
    if (memo.size < MemoCap) memo.put(w, enc)
    enc
  }
}
