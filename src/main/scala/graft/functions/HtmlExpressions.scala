package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** html_text(s) -> string: HTML-to-text extraction — the step every
  * web-crawl pipeline runs before ANY text operation (C4 extracts
  * from crawled pages; RefinedWeb §3.1 makes extraction quality a
  * headline contribution). The contract is a fixed, ordered chain of
  * RE2-compatible regex passes plus a fixed entity table, chosen so a
  * SQL oracle can replay it VERBATIM (the [[graft.operators
  * .TextClean]] discipline — a dialect or ordering difference breaks
  * the full-text hash):
  *
  *  1. drop `<script>…</script>` and `<style>…</style>` blocks
  *     (case-insensitive, dotall, non-greedy);
  *  2. drop `<!-- … -->` comments;
  *  3. block-level closers/breaks (`<br>`, `</p>`, `</div>`,
  *     `</h1>`–`</h6>`, `</li>`, `</tr>`) become newlines;
  *  4. every remaining tag becomes a space;
  *  5. entity decode in fixed order — `&lt; &gt; &quot; &#39;
  *     &nbsp;` then `&amp;` LAST, so double-escaped text
  *     (`&amp;lt;`) decodes one level per pass, the standard
  *     semantics;
  *  6. whitespace: space/tab runs collapse to one space, spaces
  *     around newlines drop, newline runs collapse to one, trim.
  *
  * Map-only, codegen'd, no shuffle — extraction rides the scan at any
  * scale. Null input → null; non-HTML text passes through with only
  * the whitespace normalization. */
case class HtmlText(child: Expression) extends KernelExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "html_text"
  override def kernel: Kernel = Kernel(HtmlText, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HtmlText {
  // the EXACT patterns the SQL oracle replays (RE2 ∩ java.util.regex)
  private val script = java.util.regex.Pattern.compile(
    "(?is)<script[^>]*>.*?</script>")
  private val style = java.util.regex.Pattern.compile(
    "(?is)<style[^>]*>.*?</style>")
  private val comment = java.util.regex.Pattern.compile(
    "(?s)<!--.*?-->")
  private val breaks = java.util.regex.Pattern.compile(
    "(?i)<(?:br|/p|/div|/h[1-6]|/li|/tr)[^>]*>")
  private val anyTag = java.util.regex.Pattern.compile("<[^>]*>")
  private val spaceRun = java.util.regex.Pattern.compile("[ \\t]+")
  private val nlSpace = java.util.regex.Pattern.compile(" ?\\n ?")
  private val nlRun = java.util.regex.Pattern.compile("\\n+")

  /** The kernel; public so generated code can call it. */
  def compute(s: UTF8String): UTF8String = {
    var t = s.toString
    t = script.matcher(t).replaceAll(" ")
    t = style.matcher(t).replaceAll(" ")
    t = comment.matcher(t).replaceAll(" ")
    t = breaks.matcher(t).replaceAll("\n")
    t = anyTag.matcher(t).replaceAll(" ")
    // fixed-order entity decode, &amp; last (double-escape semantics)
    t = t.replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'")
      .replace("&nbsp;", " ").replace("&amp;", "&")
    t = spaceRun.matcher(t).replaceAll(" ")
    t = nlSpace.matcher(t).replaceAll("\n")
    t = nlRun.matcher(t).replaceAll("\n")
    // trim exactly space + newline (DuckDB: trim(x, ' ' || chr(10)))
    var from = 0
    var until = t.length
    while (from < until && (t.charAt(from) == ' ' || t.charAt(from) == '\n'))
      from += 1
    while (until > from &&
      (t.charAt(until - 1) == ' ' || t.charAt(until - 1) == '\n')) until -= 1
    UTF8String.fromString(t.substring(from, until))
  }
}
