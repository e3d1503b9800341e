package graft.operators

/** PDF text extraction (ISO 32000 subset) — after HTML, the document
  * format a pretraining pipeline most wants to read: papers, reports,
  * and scanned-born-digital documents arrive as PDF blobs in a crawl.
  *
  * This is the real file grammar, not a string sniff:
  *
  *  - `startxref` → classic cross-reference table → trailer dict
  *    (`/Root`), with every object fetched through its xref offset
  *    and `N G obj` header re-validated at the landing site;
  *  - a recursive-descent parser for the full object syntax: dicts,
  *    arrays, names, numbers, refs (`N G R`), literal strings with
  *    the escape grammar (octal, nested parens, line continuations),
  *    hex strings, booleans/null, streams with `/Length` resolved
  *    through the xref when indirect;
  *  - the page tree walked from the catalog (`/Pages` → `/Kids`,
  *    intermediate nodes supported, depth- and count-capped);
  *  - content streams decoded (`/FlateDecode` via the JDK Inflater —
  *    zlib-wrapped, same machinery as [[PngPixels]] — or raw), then
  *    the text-showing operators interpreted: `Tj`, `'`, `"`, `TJ`
  *    (kerning numbers skipped), with `Td`/`TD`/`T*`/`'`/`"` line
  *    moves emitting newlines.
  *
  * Out of subset (→ None, never a throw): encrypted files, xref
  * STREAMS (PDF 1.5 compressed xref), filters beyond FlateDecode,
  * and CID/composite font decoding (text is read through the
  * single-byte encodings simple generated PDFs use). */
object Pdf {

  private val MaxObjects = 65536
  private val MaxPages = 8192
  private val MaxRefDepth = 32

  // ------------------------------------------------------------- values

  private sealed trait PVal
  private final case class PNum(v: Double) extends PVal
  private final case class PName(v: String) extends PVal
  private final case class PStr(v: Array[Byte]) extends PVal
  private final case class PArr(v: Vector[PVal]) extends PVal
  private final case class PDict(v: Map[String, PVal]) extends PVal
  private final case class PRef(num: Int, gen: Int) extends PVal
  private final case class PStream(dict: Map[String, PVal],
      data: Array[Byte]) extends PVal
  private final case class PBool(v: Boolean) extends PVal
  private case object PNull extends PVal

  private final class Bad extends RuntimeException

  // ------------------------------------------------------------- lexer

  private final class Lexer(val b: Array[Byte]) {
    var pos = 0

    private def bad(): Nothing = throw new Bad

    def peek: Int = if (pos < b.length) b(pos) & 0xff else -1
    def next(): Int = { val c = peek; if (c < 0) bad(); pos += 1; c }

    def isWs(c: Int): Boolean =
      c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
    def isDelim(c: Int): Boolean =
      c == '(' || c == ')' || c == '<' || c == '>' || c == '[' ||
        c == ']' || c == '{' || c == '}' || c == '/' || c == '%'

    def skipWs(): Unit = {
      var going = true
      while (going) {
        while (isWs(peek)) pos += 1
        if (peek == '%') { // comment to EOL
          while (peek >= 0 && peek != '\n' && peek != '\r') pos += 1
        } else going = false
      }
    }

    def expect(s: String): Unit = {
      var i = 0
      while (i < s.length) { if (next() != s.charAt(i)) bad(); i += 1 }
    }

    /** Next regular-character token (operator / keyword). */
    def token(): String = {
      skipWs()
      val start = pos
      while (peek >= 0 && !isWs(peek) && !isDelim(peek)) pos += 1
      if (pos == start) bad()
      new String(b, start, pos - start, "US-ASCII")
    }

    def parseName(): String = {
      if (next() != '/') bad()
      val sb = new StringBuilder
      while (peek >= 0 && !isWs(peek) && !isDelim(peek)) {
        val c = next()
        if (c == '#') { // hex escape in names
          val h = Character.digit(next(), 16) * 16 + Character.digit(next(), 16)
          if (h < 0) bad()
          sb.append(h.toChar)
        } else sb.append(c.toChar)
      }
      sb.toString
    }

    /** Literal string: nested parens, backslash escapes. */
    def parseLiteralString(): Array[Byte] = {
      if (next() != '(') bad()
      val out = new java.io.ByteArrayOutputStream()
      var depth = 1
      while (depth > 0) {
        val c = next()
        c match {
          case '(' => depth += 1; out.write(c)
          case ')' => depth -= 1; if (depth > 0) out.write(c)
          case '\\' =>
            val e = next()
            e match {
              case 'n' => out.write('\n')
              case 'r' => out.write('\r')
              case 't' => out.write('\t')
              case 'b' => out.write('\b')
              case 'f' => out.write('\f')
              case '(' | ')' | '\\' => out.write(e)
              case '\r' => if (peek == '\n') pos += 1 // line continuation
              case '\n' => ()
              case d if d >= '0' && d <= '7' => // up to 3 octal digits
                var v = d - '0'
                var k = 0
                while (k < 2 && peek >= '0' && peek <= '7') {
                  v = v * 8 + (next() - '0'); k += 1
                }
                out.write(v & 0xff)
              case other => out.write(other) // spec: backslash dropped
            }
          case _ => out.write(c)
        }
        if (out.size() > (1 << 24)) bad()
      }
      out.toByteArray
    }

    def parseHexString(): Array[Byte] = {
      // caller consumed '<'
      val out = new java.io.ByteArrayOutputStream()
      var hi = -1
      var going = true
      while (going) {
        val c = next()
        if (c == '>') {
          if (hi >= 0) out.write(hi * 16) // odd digit: trailing 0
          going = false
        } else if (!isWs(c)) {
          val d = Character.digit(c, 16)
          if (d < 0) bad()
          if (hi < 0) hi = d else { out.write(hi * 16 + d); hi = -1 }
        }
        if (out.size() > (1 << 24)) bad()
      }
      out.toByteArray
    }

    def parseNumber(): Double = {
      skipWs()
      val start = pos
      if (peek == '+' || peek == '-') pos += 1
      var digits = false
      while (peek >= '0' && peek <= '9') { pos += 1; digits = true }
      if (peek == '.') {
        pos += 1
        while (peek >= '0' && peek <= '9') { pos += 1; digits = true }
      }
      if (!digits) bad()
      java.lang.Double.parseDouble(new String(b, start, pos - start, "US-ASCII"))
    }
  }

  // ------------------------------------------------------------- parser

  /** One object at the lexer position; `resolveLen` fetches an
    * indirect /Length when a stream needs it (null during xref-less
    * phases). */
  private def parseVal(lx: Lexer, resolveLen: PRef => Option[Long]): PVal = {
    lx.skipWs()
    lx.peek match {
      case '/' => PName(lx.parseName())
      case '(' => PStr(lx.parseLiteralString())
      case '[' =>
        lx.next()
        val items = Vector.newBuilder[PVal]
        var going = true
        var n = 0
        while (going) {
          lx.skipWs()
          if (lx.peek == ']') { lx.next(); going = false }
          else {
            items += parseVal(lx, resolveLen)
            n += 1
            if (n > 65536) throw new Bad
          }
        }
        PArr(items.result())
      case '<' =>
        lx.next()
        if (lx.peek == '<') {
          lx.next()
          val m = Map.newBuilder[String, PVal]
          var going = true
          var n = 0
          while (going) {
            lx.skipWs()
            if (lx.peek == '>') { lx.next(); lx.expect(">"); going = false }
            else {
              val k = lx.parseName()
              m += k -> parseVal(lx, resolveLen)
              n += 1
              if (n > 4096) throw new Bad
            }
          }
          val dict = m.result()
          // a stream may follow a dict
          val save = lx.pos
          lx.skipWs()
          if (lx.pos + 6 <= lx.b.length &&
            new String(lx.b, lx.pos, 6, "US-ASCII") == "stream") {
            lx.pos += 6
            if (lx.peek == '\r') lx.next()
            if (lx.peek == '\n') lx.next()
            val len = dict.get("Length") match {
              case Some(PNum(v)) => v.toLong
              case Some(r: PRef) if resolveLen != null =>
                resolveLen(r).getOrElse(throw new Bad)
              case _ => throw new Bad
            }
            if (len < 0 || len > PngPixels.MaxDecodedBytes ||
              lx.pos + len > lx.b.length) throw new Bad
            val data = java.util.Arrays.copyOfRange(
              lx.b, lx.pos, (lx.pos + len).toInt)
            lx.pos += len.toInt
            lx.skipWs()
            lx.expect("endstream")
            PStream(dict, data)
          } else { lx.pos = save; PDict(dict) }
        } else PStr(lx.parseHexString())
      case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
        val v = lx.parseNumber()
        // lookahead: "N G R" is a reference
        if (v == v.toLong.toDouble && v >= 0) {
          val save = lx.pos
          try {
            val g = lx.parseNumber()
            lx.skipWs()
            if (g == g.toLong.toDouble && g >= 0 && lx.peek == 'R') {
              lx.next()
              // R must be a lone token
              if (lx.peek < 0 || lx.isWs(lx.peek) || lx.isDelim(lx.peek))
                return PRef(v.toInt, g.toInt)
            }
            lx.pos = save
          } catch { case _: Bad => lx.pos = save }
        }
        PNum(v)
      case 't' => lx.expect("true"); PBool(true)
      case 'f' => lx.expect("false"); PBool(false)
      case 'n' => lx.expect("null"); PNull
      case _ => throw new Bad
    }
  }

  // ------------------------------------------------------------- xref

  /** Where an object lives: directly at a byte offset, or as entry
    * `idx` inside the object stream numbered `objStm` (PDF 1.5). */
  private sealed trait Loc
  private final case class AtOffset(off: Long) extends Loc
  private final case class InObjStm(objStm: Int, idx: Int) extends Loc

  /** startxref → either a classic xref table or a PDF 1.5 xref STREAM
    * (/Type /XRef: W-packed binary rows, FlateDecode, PNG predictors)
    * → (locations, trailer). Follows /Prev chains (bounded). */
  private def readXref(b: Array[Byte]): (Map[Int, Loc], Map[String, PVal]) = {
    // find the last "startxref" in the tail window
    val tailStart = math.max(0, b.length - 2048)
    val tail = new String(b, tailStart, b.length - tailStart, "ISO-8859-1")
    val sx = tail.lastIndexOf("startxref")
    if (sx < 0) throw new Bad
    val lx0 = new Lexer(b)
    lx0.pos = tailStart + sx + "startxref".length
    val xrefAt = lx0.parseNumber().toLong
    var locs = Map.empty[Int, Loc]
    var trailer: Map[String, PVal] = null
    var at = xrefAt
    var hops = 0
    while (at >= 0 && hops < 32) {
      if (at > b.length - 4) throw new Bad
      val lx = new Lexer(b)
      lx.pos = at.toInt
      lx.skipWs()
      val t =
        if (lx.peek == 'x') { // classic table
          lx.expect("xref")
          var going = true
          while (going) {
            lx.skipWs()
            if (lx.peek == 't') { lx.expect("trailer"); going = false }
            else {
              val first = lx.parseNumber().toInt
              val n = lx.parseNumber().toInt
              if (first < 0 || n < 0 || first + n > MaxObjects) throw new Bad
              var i = 0
              while (i < n) {
                val off = lx.parseNumber().toLong
                lx.parseNumber() // generation
                lx.skipWs()
                val kind = lx.next()
                if (kind != 'n' && kind != 'f') throw new Bad
                // earlier tables in the /Prev chain must not override
                if (kind == 'n' && !locs.contains(first + i))
                  locs = locs.updated(first + i, AtOffset(off))
                i += 1
              }
            }
          }
          parseVal(lx, null) match {
            case PDict(d) => d
            case _ => throw new Bad
          }
        } else { // PDF 1.5 xref stream: "N G obj << ... >> stream"
          lx.parseNumber(); lx.parseNumber()
          lx.skipWs()
          lx.expect("obj")
          val (dict, data) = parseVal(lx, null) match {
            case PStream(d, raw) => (d, decodeXrefStream(d, raw))
            case _ => throw new Bad
          }
          if (dict.get("Type") != Some(PName("XRef"))) throw new Bad
          val ws = dict.get("W") match {
            case Some(PArr(a)) if a.length == 3 =>
              a.map { case PNum(v) => v.toInt; case _ => throw new Bad }
            case _ => throw new Bad
          }
          if (ws.exists(w => w < 0 || w > 8)) throw new Bad
          val rowLen = ws.sum
          if (rowLen <= 0) throw new Bad
          val size = dict.get("Size") match {
            case Some(PNum(v)) => v.toInt
            case _ => throw new Bad
          }
          val index: Vector[(Int, Int)] = dict.get("Index") match {
            case Some(PArr(a)) if a.length % 2 == 0 =>
              a.grouped(2).map {
                case Vector(PNum(s), PNum(n)) => (s.toInt, n.toInt)
                case _ => throw new Bad
              }.toVector
            case None => Vector((0, size))
            case _ => throw new Bad
          }
          var pos = 0
          def field(w: Int, dflt: Long): Long = {
            if (w == 0) return dflt
            var v = 0L
            var i = 0
            while (i < w) { v = (v << 8) | (data(pos + i) & 0xff); i += 1 }
            pos += w
            v
          }
          index.foreach { case (start, n) =>
            if (start < 0 || n < 0 || start + n > MaxObjects) throw new Bad
            var i = 0
            while (i < n) {
              if (pos + rowLen > data.length) throw new Bad
              val typ = field(ws(0), 1L) // absent type field defaults to 1
              val f2 = field(ws(1), 0L)
              val f3 = field(ws(2), 0L)
              val num = start + i
              if (!locs.contains(num)) typ match {
                case 1 => locs = locs.updated(num, AtOffset(f2))
                case 2 => locs = locs.updated(num, InObjStm(f2.toInt, f3.toInt))
                case _ => () // type 0 free (or unknown: skip, per spec)
              }
              i += 1
            }
          }
          dict // the xref stream's dict IS the trailer
        }
      if (trailer == null) trailer = t
      at = t.get("Prev") match {
        case Some(PNum(v)) => v.toLong
        case _ => -1L
      }
      hops += 1
    }
    if (trailer == null) throw new Bad
    (locs, trailer)
  }

  /** Decode an xref stream's payload: FlateDecode (direct /Length
    * only, per the chicken-and-egg rule) + the PNG row predictors
    * (/DecodeParms /Predictor >= 10) modern writers emit. */
  private def decodeXrefStream(dict: Map[String, PVal],
      raw: Array[Byte]): Array[Byte] = {
    val inflated = dict.get("Filter") match {
      case None => raw
      case Some(PName("FlateDecode")) => inflate(raw)
      case _ => throw new Bad
    }
    dict.get("DecodeParms") match {
      case Some(PDict(p)) =>
        val pred = p.get("Predictor") match {
          case Some(PNum(v)) => v.toInt
          case None => 1
          case _ => throw new Bad
        }
        if (pred == 1) inflated
        else if (pred >= 10) {
          val cols = p.get("Columns") match {
            case Some(PNum(v)) => v.toInt
            case _ => throw new Bad
          }
          if (cols <= 0 || cols > 64) throw new Bad
          pngUnpredict(inflated, cols)
        } else throw new Bad
      case None => inflated
      case _ => throw new Bad
    }
  }

  /** PNG row unfiltering with bpp = 1 byte (the xref-stream case):
    * each row is a filter-type byte + `cols` data bytes. */
  private def pngUnpredict(data: Array[Byte], cols: Int): Array[Byte] = {
    if (data.length % (cols + 1) != 0) throw new Bad
    val rows = data.length / (cols + 1)
    val out = new Array[Byte](rows * cols)
    var r = 0
    while (r < rows) {
      val ft = data(r * (cols + 1)) & 0xff
      var c = 0
      while (c < cols) {
        val x = data(r * (cols + 1) + 1 + c) & 0xff
        val left = if (c > 0) out(r * cols + c - 1) & 0xff else 0
        val up = if (r > 0) out((r - 1) * cols + c) & 0xff else 0
        val ul = if (r > 0 && c > 0) out((r - 1) * cols + c - 1) & 0xff else 0
        val v = ft match {
          case 0 => x
          case 1 => x + left
          case 2 => x + up
          case 3 => x + (left + up) / 2
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            x + (if (pa <= pb && pa <= pc) left
            else if (pb <= pc) up else ul)
          case _ => throw new Bad
        }
        out(r * cols + c) = v.toByte
        c += 1
      }
      r += 1
    }
    out
  }

  // ------------------------------------------------------------- loader

  private final class Doc(b: Array[Byte]) {
    val (offsets, trailer) = readXref(b)
    private val memo = new java.util.HashMap[Int, PVal]()

    /** Fetch object `num` — at its byte offset (validating the
      * `N G obj` header on site) or out of its object stream. */
    def fetch(num: Int, depth: Int): PVal = {
      if (depth > MaxRefDepth) throw new Bad
      val cached = memo.get(num)
      if (cached != null) return cached
      val v = offsets.getOrElse(num, throw new Bad) match {
        case AtOffset(off) =>
          if (off < 0 || off >= b.length) throw new Bad
          val lx = new Lexer(b)
          lx.pos = off.toInt
          lx.skipWs()
          if (lx.parseNumber().toInt != num) throw new Bad
          lx.parseNumber() // generation
          lx.skipWs()
          lx.expect("obj")
          parseVal(lx, r => numOf(fetch(r.num, depth + 1)))
        case InObjStm(stmNum, idx) => fromObjStm(stmNum, idx, num, depth)
      }
      memo.put(num, v)
      v
    }

    /** PDF 1.5 object stream (/Type /ObjStm): /N (objnum, offset)
      * integer pairs, then the objects back to back at /First +
      * offset — no obj/endobj wrappers, no nested streams. */
    private def fromObjStm(stmNum: Int, idx: Int, wantNum: Int,
        depth: Int): PVal = {
      val (dict, data) = fetch(stmNum, depth + 1) match {
        case PStream(d, raw) => (d, resolveD(d, "Filter", depth) match {
          case None => raw
          case Some(PName("FlateDecode")) => inflate(raw)
          case _ => throw new Bad
        })
        case _ => throw new Bad
      }
      if (dict.get("Type") != Some(PName("ObjStm"))) throw new Bad
      val n = dict.get("N") match {
        case Some(PNum(v)) => v.toInt
        case _ => throw new Bad
      }
      val first = dict.get("First") match {
        case Some(PNum(v)) => v.toInt
        case _ => throw new Bad
      }
      if (idx < 0 || idx >= n || n > MaxObjects) throw new Bad
      val hx = new Lexer(data)
      var objOff = -1L
      var i = 0
      while (i < n) {
        val on = hx.parseNumber().toLong
        val off = hx.parseNumber().toLong
        if (i == idx) {
          if (on != wantNum) throw new Bad // index must name our object
          objOff = off
        }
        i += 1
      }
      if (objOff < 0 || first + objOff >= data.length) throw new Bad
      val ox = new Lexer(data)
      ox.pos = (first + objOff).toInt
      parseVal(ox, null)
    }

    private def resolveD(d: Map[String, PVal], k: String,
        depth: Int): Option[PVal] =
      d.get(k).map {
        case PRef(rn, _) => fetch(rn, depth + 1)
        case other => other
      }

    private def numOf(v: PVal): Option[Long] = v match {
      case PNum(n) => Some(n.toLong)
      case _ => None
    }

    def resolve(v: PVal, depth: Int = 0): PVal = v match {
      case PRef(n, _) => resolve(fetch(n, depth + 1), depth + 1)
      case other => other
    }

    def dictGet(d: Map[String, PVal], k: String): Option[PVal] =
      d.get(k).map(resolve(_))
  }

  // ------------------------------------------------------------- pages

  /** Page count via the real catalog walk (not the /Count shortcut —
    * the tree is enumerated so a lying /Count can't inflate it). */
  def pageCount(bytes: Array[Byte]): Option[Int] =
    withDoc(bytes)(doc => collectPages(doc).length)

  /** Concatenated text of all pages, in page-tree order. */
  def text(bytes: Array[Byte]): Option[String] =
    extract(bytes).map(_._2)

  /** (page count, text) from ONE parse — the expression kernel. */
  def extract(bytes: Array[Byte]): Option[(Int, String)] =
    withDoc(bytes) { doc =>
      val sb = new StringBuilder
      val pages = collectPages(doc)
      pages.foreach { page =>
        doc.dictGet(page, "Contents").foreach {
          case PStream(d, data) => runContent(decodeStream(d, data, doc), sb)
          case PArr(items) => items.foreach { it =>
            doc.resolve(it) match {
              case PStream(d, data) => runContent(decodeStream(d, data, doc), sb)
              case _ => throw new Bad
            }
          }
          case _ => throw new Bad
        }
      }
      (pages.length, sb.toString)
    }

  /** One embedded image XObject. `data` keeps the DCTDecode payload
    * in its transfer encoding — a complete JPEG file, routable
    * straight to [[JpegDc]] — and holds DECODED raw samples for
    * Flate/unfiltered images, so pdf-to-pixels needs no second walk
    * of the page tree. */
  final case class PdfImage(page: Int, name: String, width: Int,
      height: Int, filter: String, data: Array[Byte])

  /** All image XObjects across the document, page-tree order then
    * name order within a page. Non-image XObjects (forms) are
    * skipped; an unsupported image filter fails the whole parse (a
    * partial inventory would undercount a corpus silently). */
  def images(bytes: Array[Byte]): Option[Vector[PdfImage]] =
    withDoc(bytes) { doc =>
      val out = Vector.newBuilder[PdfImage]
      collectPages(doc).zipWithIndex.foreach { case (page, pi) =>
        val res = doc.dictGet(page, "Resources") match {
          case Some(PDict(d)) => d
          case _ => Map.empty[String, PVal]
        }
        val xo = doc.dictGet(res, "XObject") match {
          case Some(PDict(d)) => d
          case _ => Map.empty[String, PVal]
        }
        xo.toSeq.sortBy(_._1).foreach { case (name, ref) =>
          doc.resolve(ref) match {
            case PStream(d, data)
                if doc.dictGet(d, "Subtype").contains(PName("Image")) =>
              val w = doc.dictGet(d, "Width") match {
                case Some(PNum(n)) if n >= 1 && n <= 65536 => n.toInt
                case _ => throw new Bad
              }
              val h = doc.dictGet(d, "Height") match {
                case Some(PNum(n)) if n >= 1 && n <= 65536 => n.toInt
                case _ => throw new Bad
              }
              val (filter, payload) = doc.dictGet(d, "Filter") match {
                case Some(PName("DCTDecode")) |
                  Some(PArr(Vector(PName("DCTDecode")))) =>
                  ("DCTDecode", data)
                case Some(PName("FlateDecode")) |
                  Some(PArr(Vector(PName("FlateDecode")))) =>
                  ("FlateDecode", inflate(data))
                case None => ("", data)
                case _ => throw new Bad // other image filters: whole parse fails
              }
              out += PdfImage(pi, name, w, h, filter, payload)
            case PStream(_, _) => () // form XObject: not an image
            case _ => throw new Bad
          }
        }
      }
      out.result()
    }

  private def withDoc[A](bytes: Array[Byte])(f: Doc => A): Option[A] = {
    try {
      if (bytes == null || bytes.length < 16) return None
      if (!(bytes(0) == '%' && bytes(1) == 'P' && bytes(2) == 'D' &&
        bytes(3) == 'F' && bytes(4) == '-')) return None
      val doc = new Doc(bytes)
      if (doc.trailer.contains("Encrypt")) return None
      Some(f(doc))
    } catch { case _: Exception => None }
  }

  private def collectPages(doc: Doc): Vector[Map[String, PVal]] = {
    val root = doc.dictGet(doc.trailer, "Root") match {
      case Some(PDict(d)) => d
      case _ => throw new Bad
    }
    val pagesRoot = doc.dictGet(root, "Pages") match {
      case Some(PDict(d)) => d
      case _ => throw new Bad
    }
    val out = Vector.newBuilder[Map[String, PVal]]
    var count = 0
    def walk(node: Map[String, PVal], depth: Int): Unit = {
      if (depth > 64) throw new Bad
      doc.dictGet(node, "Type") match {
        case Some(PName("Pages")) =>
          doc.dictGet(node, "Kids") match {
            case Some(PArr(kids)) => kids.foreach { k =>
              doc.resolve(k) match {
                case PDict(d) => walk(d, depth + 1)
                case _ => throw new Bad
              }
            }
            case _ => throw new Bad
          }
        case Some(PName("Page")) =>
          count += 1
          if (count > MaxPages) throw new Bad
          out += node
        case _ => throw new Bad
      }
    }
    walk(pagesRoot, 0)
    out.result()
  }

  private def decodeStream(dict: Map[String, PVal], data: Array[Byte],
      doc: Doc): Array[Byte] =
    doc.dictGet(dict, "Filter") match {
      case None => data
      case Some(PName("FlateDecode")) => inflate(data)
      case Some(PArr(Vector(PName("FlateDecode")))) => inflate(data)
      case _ => throw new Bad // other filters out of subset
    }

  // One zlib Inflater per executor thread, reset() between streams
  // (r13): a PDF decode inflates SEVERAL streams per file (an xref
  // stream, object streams, one content stream per page), and
  // Inflater construction/end() is a native malloc/free pair — the
  // r13 phase split (BASELINE.md, Round-8 fourth-pass `pdf_text`
  // row) showed it as a measurable slice of both the
  // object-graph and content phases. reset() reuses the native
  // buffer; a corrupt stream that leaves the inflater mid-state is
  // handled by reset() on the NEXT use (reset is unconditional).
  // Lifecycle bound (r14): each Inflater pins one native zlib buffer
  // for its thread's lifetime — sized for a single production deploy
  // with a bounded executor pool (32 task threads = 32 buffers). The
  // JVM-exit path frees them natively; for host JVMs that reload
  // classloaders (repeated embedded runs), `endInflaters()` releases
  // the tracked set explicitly.
  private val liveInflaters =
    java.util.concurrent.ConcurrentHashMap
      .newKeySet[java.util.zip.Inflater]()
  private val tlInflater =
    ThreadLocal.withInitial[java.util.zip.Inflater] { () =>
      val inf = new java.util.zip.Inflater() // zlib-wrapped
      liveInflaters.add(inf)
      inf
    }

  /** Release every thread's cached native zlib buffer (idempotent;
    * threads allocate a fresh one on next use). For classloader-
    * reload hosts; a normal Spark executor never needs to call it. */
  def endInflaters(): Unit = {
    val it = liveInflaters.iterator()
    while (it.hasNext) { it.next().end(); it.remove() }
    tlInflater.remove()
  }

  private def inflate(data: Array[Byte]): Array[Byte] = {
    var inf = tlInflater.get()
    if (!liveInflaters.contains(inf)) { // ended by endInflaters()
      tlInflater.remove(); inf = tlInflater.get()
    }
    inf.reset()
    inf.setInput(data)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      if (n == 0 && (inf.needsInput() || inf.needsDictionary())) throw new Bad
      out.write(buf, 0, n)
      if (out.size() > PngPixels.MaxDecodedBytes) throw new Bad
    }
    out.toByteArray
  }

  // --------------------------------------------------------- content ops

  /** Interpret one content stream's text-showing operators into `sb`.
    * Line-move operators (`Td`/`TD`/`T*` and the `'`/`"` forms) emit
    * a newline when text has already accumulated. */
  private def runContent(content: Array[Byte], sb: StringBuilder): Unit = {
    val lx = new Lexer(content)
    val stack = scala.collection.mutable.ArrayBuffer.empty[PVal]
    def newline(): Unit =
      if (sb.nonEmpty && sb.charAt(sb.length - 1) != '\n') sb.append('\n')
    def show(v: PVal): Unit = v match {
      case PStr(bytes) => sb.append(new String(bytes, "ISO-8859-1"))
      case _ => ()
    }
    var going = true
    while (going) {
      lx.skipWs()
      if (lx.peek < 0) going = false
      else lx.peek match {
        case c if c == '/' || c == '(' || c == '[' || c == '<' ||
          c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
          stack += parseVal(lx, null)
          if (stack.length > 64) stack.remove(0)
        case _ =>
          val op = lx.token()
          op match {
            case "Tj" => if (stack.nonEmpty) show(stack.last)
            case "'" =>
              newline()
              if (stack.nonEmpty) show(stack.last)
            case "\"" =>
              newline()
              if (stack.nonEmpty) show(stack.last)
            case "TJ" => stack.lastOption match {
              case Some(PArr(items)) => items.foreach {
                case s: PStr => show(s)
                case _ => () // kerning adjustments
              }
              case _ => ()
            }
            case "Td" | "TD" | "T*" => newline()
            case _ => () // all other operators: graphics state etc.
          }
          stack.clear()
      }
    }
  }

  // ------------------------------------------------------------- writer

  /** A complete spec-valid PDF: catalog → pages → page leaves, one
    * content stream per page showing `lines(p)` with alternating
    * `Tj`/`TJ` forms, a correct xref table (real byte offsets) and
    * trailer. `deflate` wraps content streams in /FlateDecode. With
    * `xrefStream = true` the file takes the PDF 1.5 shape modern
    * generators emit: all dict objects packed into one /ObjStm and a
    * /XRef STREAM (W-packed rows, Flate + PNG Up predictor) instead
    * of the classic table. */
  def pdf(pageLines: Seq[Seq[String]], deflate: Boolean,
      xrefStream: Boolean): Array[Byte] =
    if (xrefStream) pdf15(pageLines, deflate)
    else pdf(pageLines, deflate)

  def pdf(pageLines: Seq[Seq[String]], deflate: Boolean): Array[Byte] = {
    require(pageLines.nonEmpty && pageLines.length <= 256)
    def esc(s: String): String =
      s.flatMap {
        case '(' => "\\("
        case ')' => "\\)"
        case '\\' => "\\\\"
        case c => c.toString
      }
    val nPages = pageLines.length
    // object numbering: 1 catalog, 2 pages, 3 font,
    // 4..3+n page leaves, 4+n..3+2n content streams
    val pageObj = (p: Int) => 4 + p
    val contentObj = (p: Int) => 4 + nPages + p
    val objects = Vector.newBuilder[(Int, Array[Byte])]
    objects += 1 -> "<< /Type /Catalog /Pages 2 0 R >>".getBytes("ISO-8859-1")
    objects += 2 -> (s"<< /Type /Pages /Kids [" +
      (0 until nPages).map(p => s"${pageObj(p)} 0 R").mkString(" ") +
      s"] /Count $nPages >>").getBytes("ISO-8859-1")
    objects += 3 -> ("<< /Type /Font /Subtype /Type1 " +
      "/BaseFont /Helvetica >>").getBytes("ISO-8859-1")
    (0 until nPages).foreach { p =>
      objects += pageObj(p) -> (s"<< /Type /Page /Parent 2 0 R " +
        s"/MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> >> " +
        s"/Contents ${contentObj(p)} 0 R >>").getBytes("ISO-8859-1")
    }
    (0 until nPages).foreach { p =>
      val ops = new StringBuilder
      ops.append("BT /F1 12 Tf 72 720 Td\n")
      pageLines(p).zipWithIndex.foreach { case (line, k) =>
        if (k > 0) ops.append("0 -14 Td\n")
        if (k % 2 == 0) ops.append(s"(${esc(line)}) Tj\n")
        else {
          // TJ with a kern split mid-line
          val cut = line.length / 2
          ops.append(s"[(${esc(line.substring(0, cut))}) -250 " +
            s"(${esc(line.substring(cut))})] TJ\n")
        }
      }
      ops.append("ET")
      val raw = ops.toString.getBytes("ISO-8859-1")
      val (data, filter) =
        if (!deflate) (raw, "")
        else {
          val d = new java.util.zip.Deflater()
          try {
            d.setInput(raw); d.finish()
            val bos = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](8192)
            while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
            (bos.toByteArray, "/Filter /FlateDecode ")
          } finally d.end()
        }
      val head = s"<< ${filter}/Length ${data.length} >>\nstream\n"
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(head.getBytes("ISO-8859-1"))
      bos.write(data, 0, data.length)
      bos.write("\nendstream".getBytes("ISO-8859-1"))
      objects += contentObj(p) -> bos.toByteArray
    }
    val objs = objects.result().sortBy(_._1)
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    val offsets = objs.map { case (num, body) =>
      val off = out.size()
      w(s"$num 0 obj\n")
      out.write(body, 0, body.length)
      w("\nendobj\n")
      num -> off
    }.toMap
    val xrefAt = out.size()
    val maxObj = objs.map(_._1).max
    w(s"xref\n0 ${maxObj + 1}\n")
    w("0000000000 65535 f \n")
    (1 to maxObj).foreach { n =>
      w(f"${offsets(n)}%010d 00000 n \n")
    }
    w(s"trailer\n<< /Size ${maxObj + 1} /Root 1 0 R >>\n")
    w(s"startxref\n$xrefAt\n")
    w("%%EOF\n")
    out.toByteArray
  }

  /** Fixture spec for one embedded image: `jpeg = true` embeds
    * `data` verbatim under /Filter /DCTDecode (DeviceRGB); otherwise
    * `data` is raw 8-bit gray samples, deflated under /FlateDecode
    * (DeviceGray). */
  final case class ImageSpec(page: Int, width: Int, height: Int,
      jpeg: Boolean, data: Array[Byte])

  /** The classic-xref writer with image XObjects: each spec becomes
    * `/Im{k}` in its page's /Resources /XObject dict, painted by a
    * `cm`+`Do` pair after the page's text — a complete spec-valid
    * image-bearing PDF for the extraction path ([[images]]). */
  def pdfWithImages(pageLines: Seq[Seq[String]], images: Seq[ImageSpec],
      deflate: Boolean): Array[Byte] = {
    require(pageLines.nonEmpty && pageLines.length <= 256)
    require(images.forall(im => im.page >= 0 && im.page < pageLines.length))
    val nPages = pageLines.length
    val pageObj = (p: Int) => 4 + p
    val contentObj = (p: Int) => 4 + nPages + p
    val imageObj = (k: Int) => 4 + 2 * nPages + k
    val byPage: Map[Int, Seq[(ImageSpec, Int)]] =
      images.zipWithIndex.groupBy(_._1.page)
    val objects = Vector.newBuilder[(Int, Array[Byte])]
    objects += 1 -> "<< /Type /Catalog /Pages 2 0 R >>".getBytes("ISO-8859-1")
    objects += 2 -> (s"<< /Type /Pages /Kids [" +
      (0 until nPages).map(p => s"${pageObj(p)} 0 R").mkString(" ") +
      s"] /Count $nPages >>").getBytes("ISO-8859-1")
    objects += 3 -> ("<< /Type /Font /Subtype /Type1 " +
      "/BaseFont /Helvetica >>").getBytes("ISO-8859-1")
    (0 until nPages).foreach { p =>
      val xobj = byPage.getOrElse(p, Nil)
        .map { case (_, k) => s"/Im$k ${imageObj(k)} 0 R" }.mkString(" ")
      val xoEntry = if (xobj.isEmpty) "" else s"/XObject << $xobj >> "
      objects += pageObj(p) -> (s"<< /Type /Page /Parent 2 0 R " +
        s"/MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> $xoEntry>> " +
        s"/Contents ${contentObj(p)} 0 R >>").getBytes("ISO-8859-1")
    }
    (0 until nPages).foreach { p =>
      val ops = new StringBuilder(contentOps(pageLines(p)))
      byPage.getOrElse(p, Nil).foreach { case (im, k) =>
        ops.append(s"\nq ${im.width * 4} 0 0 ${im.height * 4} 72 120 cm " +
          s"/Im$k Do Q")
      }
      val raw = ops.toString.getBytes("ISO-8859-1")
      val (data, filter) =
        if (deflate) (flate(raw), "/Filter /FlateDecode ") else (raw, "")
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(s"<< ${filter}/Length ${data.length} >>\nstream\n"
        .getBytes("ISO-8859-1"))
      bos.write(data, 0, data.length)
      bos.write("\nendstream".getBytes("ISO-8859-1"))
      objects += contentObj(p) -> bos.toByteArray
    }
    images.zipWithIndex.foreach { case (im, k) =>
      val (data, filter, cs) =
        if (im.jpeg) (im.data, "/DCTDecode", "/DeviceRGB")
        else (flate(im.data), "/FlateDecode", "/DeviceGray")
      val bos = new java.io.ByteArrayOutputStream()
      bos.write((s"<< /Type /XObject /Subtype /Image " +
        s"/Width ${im.width} /Height ${im.height} /ColorSpace $cs " +
        s"/BitsPerComponent 8 /Filter $filter /Length ${data.length} " +
        s">>\nstream\n").getBytes("ISO-8859-1"))
      bos.write(data, 0, data.length)
      bos.write("\nendstream".getBytes("ISO-8859-1"))
      objects += imageObj(k) -> bos.toByteArray
    }
    val objs = objects.result().sortBy(_._1)
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    val offsets = objs.map { case (num, body) =>
      val off = out.size()
      w(s"$num 0 obj\n")
      out.write(body, 0, body.length)
      w("\nendobj\n")
      num -> off
    }.toMap
    val xrefAt = out.size()
    val maxObj = objs.map(_._1).max
    w(s"xref\n0 ${maxObj + 1}\n")
    w("0000000000 65535 f \n")
    (1 to maxObj).foreach(n => w(f"${offsets(n)}%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${maxObj + 1} /Root 1 0 R >>\n")
    w(s"startxref\n$xrefAt\n")
    w("%%EOF\n")
    out.toByteArray
  }

  /** One page's content operators (shared by both writer forms). */
  private def contentOps(lines: Seq[String]): String = {
    def esc(s: String): String =
      s.flatMap {
        case '(' => "\\("
        case ')' => "\\)"
        case '\\' => "\\\\"
        case c => c.toString
      }
    val ops = new StringBuilder
    ops.append("BT /F1 12 Tf 72 720 Td\n")
    lines.zipWithIndex.foreach { case (line, k) =>
      if (k > 0) ops.append("0 -14 Td\n")
      if (k % 2 == 0) ops.append(s"(${esc(line)}) Tj\n")
      else {
        val cut = line.length / 2
        ops.append(s"[(${esc(line.substring(0, cut))}) -250 " +
          s"(${esc(line.substring(cut))})] TJ\n")
      }
    }
    ops.append("ET")
    ops.toString
  }

  private def flate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(raw); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      bos.toByteArray
    } finally d.end()
  }

  /** The PDF 1.5 form: catalog/pages/font/page dicts packed into one
    * object stream, content streams standalone, and a /XRef stream
    * (W = [1 4 2], Flate, PNG Up predictor) closing the file. */
  private def pdf15(pageLines: Seq[Seq[String]], deflate: Boolean)
      : Array[Byte] = {
    require(pageLines.nonEmpty && pageLines.length <= 256)
    val nPages = pageLines.length
    val pageObj = (p: Int) => 4 + p
    val contentObj = (p: Int) => 4 + nPages + p
    val objStmNum = 4 + 2 * nPages
    val xrefNum = objStmNum + 1
    // ---- the object stream: all dict-only objects
    val dictObjs: Seq[(Int, String)] =
      Seq(1 -> "<< /Type /Catalog /Pages 2 0 R >>",
        2 -> (s"<< /Type /Pages /Kids [" +
          (0 until nPages).map(p => s"${pageObj(p)} 0 R").mkString(" ") +
          s"] /Count $nPages >>"),
        3 -> ("<< /Type /Font /Subtype /Type1 " +
          "/BaseFont /Helvetica >>")) ++
      (0 until nPages).map { p =>
        pageObj(p) -> (s"<< /Type /Page /Parent 2 0 R " +
          s"/MediaBox [0 0 612 792] " +
          s"/Resources << /Font << /F1 3 0 R >> >> " +
          s"/Contents ${contentObj(p)} 0 R >>")
      }
    val bodies = dictObjs.map(_._2.getBytes("ISO-8859-1"))
    val objOffsets = bodies.scanLeft(0)((acc, b) => acc + b.length + 1)
    val header = dictObjs.zip(objOffsets)
      .map { case ((num, _), off) => s"$num $off" }.mkString(" ") + " "
    val headerB = header.getBytes("ISO-8859-1")
    val stmRaw = new java.io.ByteArrayOutputStream()
    stmRaw.write(headerB, 0, headerB.length)
    bodies.foreach { bb => stmRaw.write(bb, 0, bb.length); stmRaw.write('\n') }
    val stmData0 = stmRaw.toByteArray
    val (stmData, stmFilter) =
      if (deflate) (flate(stmData0), "/Filter /FlateDecode ") else (stmData0, "")
    // ---- assemble the file
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.5\n")
    val offsets = scala.collection.mutable.Map.empty[Int, Int]
    // content streams (standalone, as in the classic form)
    (0 until nPages).foreach { p =>
      val raw = contentOps(pageLines(p)).getBytes("ISO-8859-1")
      val (data, filter) =
        if (deflate) (flate(raw), "/Filter /FlateDecode ") else (raw, "")
      offsets(contentObj(p)) = out.size()
      w(s"${contentObj(p)} 0 obj\n<< ${filter}/Length ${data.length} " +
        s">>\nstream\n")
      out.write(data, 0, data.length)
      w("\nendstream\nendobj\n")
    }
    // the object stream
    offsets(objStmNum) = out.size()
    w(s"$objStmNum 0 obj\n<< /Type /ObjStm /N ${dictObjs.length} " +
      s"/First ${headerB.length} ${stmFilter}/Length ${stmData.length} " +
      s">>\nstream\n")
    out.write(stmData, 0, stmData.length)
    w("\nendstream\nendobj\n")
    // the xref stream: W = [1 4 2], rows for objects 0..xrefNum
    val xrefAt = out.size()
    offsets(xrefNum) = xrefAt
    val cols = 7
    val size = xrefNum + 1
    val rows = new Array[Byte](size * cols)
    def putRow(num: Int, t: Int, f2: Long, f3: Int): Unit = {
      val o = num * cols
      rows(o) = t.toByte
      rows(o + 1) = (f2 >> 24).toByte; rows(o + 2) = (f2 >> 16).toByte
      rows(o + 3) = (f2 >> 8).toByte; rows(o + 4) = f2.toByte
      rows(o + 5) = (f3 >> 8).toByte; rows(o + 6) = f3.toByte
    }
    putRow(0, 0, 0, 0) // the free-list head
    dictObjs.zipWithIndex.foreach { case ((num, _), idx) =>
      putRow(num, 2, objStmNum.toLong, idx)
    }
    (0 until nPages).foreach(p =>
      putRow(contentObj(p), 1, offsets(contentObj(p)).toLong, 0))
    putRow(objStmNum, 1, offsets(objStmNum).toLong, 0)
    putRow(xrefNum, 1, xrefAt.toLong, 0)
    // PNG Up predictor (type 2): row minus previous row, bytewise
    val pred = new Array[Byte](size * (cols + 1))
    var r = 0
    while (r < size) {
      pred(r * (cols + 1)) = 2
      var c = 0
      while (c < cols) {
        val prev = if (r > 0) rows((r - 1) * cols + c) & 0xff else 0
        pred(r * (cols + 1) + 1 + c) =
          (((rows(r * cols + c) & 0xff) - prev) & 0xff).toByte
        c += 1
      }
      r += 1
    }
    val xrefData = flate(pred)
    w(s"$xrefNum 0 obj\n<< /Type /XRef /Size $size /W [1 4 2] " +
      s"/Index [0 $size] /Root 1 0 R " +
      s"/Filter /FlateDecode /DecodeParms << /Predictor 12 " +
      s"/Columns $cols >> /Length ${xrefData.length} >>\nstream\n")
    out.write(xrefData, 0, xrefData.length)
    w("\nendstream\nendobj\n")
    w(s"startxref\n$xrefAt\n")
    w("%%EOF\n")
    out.toByteArray
  }
}
