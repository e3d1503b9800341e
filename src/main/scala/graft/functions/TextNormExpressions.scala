package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** normalize_text(s) -> string: the canonicalization pass a crawl
  * pipeline runs before hashing or deduplicating text (CCNet §3.1,
  * C4): Unicode NFC composition, control-character strip
  * (U+0000–U+0008, U+000B, U+000C, U+000E–U+001F, U+007F), whitespace
  * collapse (runs of space/tab/newline/CR → one space), and trim.
  *
  * NFC matters for dedup correctness: 'café' with a combining acute
  * and 'café' with precomposed U+00E9 are byte-different but the same
  * text — without composition they hash apart and near-dup thresholds
  * drift. The kernel is single-pass after the JDK normalizer and
  * matches, step for step, the SQL form
  * `trim(regexp_replace(regexp_replace(nfc_normalize(s), ctrl, ''),
  * '[ \t\n\r]+', ' '))` — so a DuckDB oracle checks the JDK's NFC
  * against ICU's on real combining sequences.
  *
  * Map-only, codegen'd, no shuffle: the 100 TB shape. */
case class NormalizeText(child: Expression) extends KernelExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_text"
  override def kernel: Kernel = Kernel(NormalizeText, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object NormalizeText {
  /** The kernel; public so generated code can call it. */
  def compute(s: UTF8String): UTF8String = {
    val nfc = java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(nfc.length)
    var i = 0
    var lastWs = false
    while (i < nfc.length) {
      val c = nfc.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r') {
        // collapse: stripping controls first then collapsing ws is
        // equivalent to this single pass because the strip branch
        // below leaves `lastWs` untouched
        if (!lastWs) { sb.append(' '); lastWs = true }
      } else if (c < 0x20 || c == 0x7f) {
        () // control strip
      } else {
        sb.append(c); lastWs = false
      }
      i += 1
    }
    // trim the single possible leading/trailing space
    var from = 0
    var until = sb.length
    if (until > from && sb.charAt(from) == ' ') from += 1
    if (until > from && sb.charAt(until - 1) == ' ') until -= 1
    UTF8String.fromString(sb.substring(from, until))
  }
}
