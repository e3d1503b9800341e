package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared URL field splitter for the two URL kernels. The parse is
  * deliberately lenient (crawl URLs are dirty); anything without a
  * `scheme://` prefix is "not a URL" and the kernels return null. */
private[functions] object UrlParse {
  /** (scheme, host, port, path, query) — fragment dropped; port -1 if
    * absent or non-numeric; null if not parseable as a URL. */
  def split(url: String): (String, String, Int, String, String) = {
    val sep = url.indexOf("://")
    if (sep <= 0) return null
    val scheme = url.substring(0, sep)
    var i = sep + 3
    val authEnd = {
      var j = i
      while (j < url.length && url.charAt(j) != '/' && url.charAt(j) != '?' &&
        url.charAt(j) != '#') j += 1
      j
    }
    val hostport = url.substring(i, authEnd)
    if (hostport.isEmpty) return null
    val colon = hostport.lastIndexOf(':')
    val (host, port) =
      if (colon < 0) (hostport, -1)
      else {
        val p = hostport.substring(colon + 1)
        if (p.nonEmpty && p.forall(_.isDigit) && p.length <= 5)
          (hostport.substring(0, colon), p.toInt)
        else (hostport, -1)
      }
    i = authEnd
    val pathEnd = {
      var j = i
      while (j < url.length && url.charAt(j) != '?' && url.charAt(j) != '#') j += 1
      j
    }
    val path = url.substring(i, pathEnd)
    i = pathEnd
    val query =
      if (i < url.length && url.charAt(i) == '?') {
        var j = i + 1
        while (j < url.length && url.charAt(j) != '#') j += 1
        url.substring(i + 1, j)
      } else ""
    (scheme, host, port, path, query)
  }

  /** Multi-label public suffixes the registered-domain rule knows
    * beyond the default single-label TLD (a bounded, embedded subset
    * of the public-suffix list — the full list is data, not code, and
    * plugs in here). */
  val multiLabelSuffixes: Set[String] = Set(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "com.br", "co.in", "co.nz", "com.cn", "com.mx")
}

/** url_normalize(url) -> string: crawl-URL canonicalization — the
  * dedup key step of C4/RefinedWeb-style pipelines (two fetches of
  * the same page must normalize to one key). Lowercases scheme and
  * host, strips default ports (http:80, https:443), drops the
  * fragment, removes tracking parameters (`utm_*`, `fbclid`,
  * `gclid`) while preserving the order of the rest, and roots an
  * empty path at `/`. Path case is preserved (paths are
  * case-sensitive). Non-URL strings → null. Map-only and codegen'd —
  * a pure per-row kernel at any scale. */
case class UrlNormalize(child: Expression) extends KernelExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "url_normalize"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(UrlNormalize, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object UrlNormalize {
  private def isTracker(param: String): Boolean = {
    val eq = param.indexOf('=')
    val key = if (eq < 0) param else param.substring(0, eq)
    key.startsWith("utm_") || key == "fbclid" || key == "gclid"
  }

  /** The kernel; public so generated code can call it. Null = not a URL. */
  def compute(s: UTF8String): UTF8String = {
    val parts = UrlParse.split(s.toString)
    if (parts == null) return null
    val (scheme0, host0, port, path0, query) = parts
    val scheme = scheme0.toLowerCase(java.util.Locale.ROOT)
    val host = host0.toLowerCase(java.util.Locale.ROOT)
    val keepPort = port > 0 &&
      !((scheme == "http" && port == 80) || (scheme == "https" && port == 443))
    val path = if (path0.isEmpty) "/" else path0
    val params =
      if (query.isEmpty) ""
      else query.split("&", -1).filterNot(isTracker).mkString("&")
    val sb = new java.lang.StringBuilder(s.numChars())
    sb.append(scheme).append("://").append(host)
    if (keepPort) sb.append(':').append(port)
    sb.append(path)
    if (params.nonEmpty) sb.append('?').append(params)
    UTF8String.fromString(sb.toString)
  }
}

/** url_domain(url) -> string: the registered (pay-level) domain — the
  * grouping key of per-domain caps, domain blocklists and domain
  * mixing in crawl pipelines (RefinedWeb §3.1 caps documents per
  * domain; the Pile reports per-domain composition). Splits the host
  * on dots and keeps one label above the public suffix, with an
  * embedded subset of the multi-label suffix list (`co.uk`, `com.au`,
  * …). Accepts a full URL or a bare host. Null for unparseable
  * input. */
case class UrlDomain(child: Expression) extends KernelExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "url_domain"
  override def nullable: Boolean = true
  override def kernel: Kernel = Kernel(UrlDomain, "compute")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object UrlDomain {
  /** The kernel; public so generated code can call it. */
  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    val host0 =
      if (str.contains("://")) {
        val parts = UrlParse.split(str)
        if (parts == null) return null
        parts._2
      } else {
        // bare host: reject anything with a path/query character
        if (str.exists(c => c == '/' || c == '?' || c == '#' || c == ' '))
          return null
        str
      }
    val host = host0.toLowerCase(java.util.Locale.ROOT)
    if (host.isEmpty) return null
    val labels = host.split("\\.", -1)
    if (labels.exists(_.isEmpty)) return null
    if (labels.length < 2) return UTF8String.fromString(host)
    val lastTwo = labels(labels.length - 2) + "." + labels(labels.length - 1)
    val suffixLen =
      if (UrlParse.multiLabelSuffixes.contains(lastTwo)) 2 else 1
    val keep = math.min(labels.length, suffixLen + 1)
    UTF8String.fromString(
      labels.slice(labels.length - keep, labels.length).mkString("."))
  }
}
