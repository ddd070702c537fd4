package graft.parse

import java.util.zip.Inflater

import scala.collection.mutable

/** Minimal PDF → text extractor over raw bytes, JDK-only (the reference
  * front-ends its parsers with pdfplumber's `extract_text` and joins page
  * texts with "\n" — bb_bill.py:89-92, bb_statement.py:28-31,
  * bradesco_bill.py:27-30; no PDF library ships in this environment, so
  * the engine carries its own extractor for the text-PDF subset the
  * pipeline actually ingests).
  *
  * The extractor is position-aware, mirroring how pdfplumber assembles
  * `extract_text` output: every shown string is recorded as a span at its
  * text-matrix position, spans are clustered into lines by y (tolerance 3,
  * pdfplumber's default `y_tolerance`), lines are ordered top-down and
  * spans within a line left-to-right. That reproduces reading order even
  * when the content stream draws out of order — which the reference's real
  * bank PDFs (BB faturas, Bradesco) do.
  *
  * Supported subset — verified against the reference's checked-in corpus
  * (15 real BB/Bradesco statements and bills under
  * spark/scripts/data/raw/drive/01_clientes/...):
  *   - cross-reference-free object scan (`N 0 obj … endobj`), page order
  *     from the Catalog/Pages/Kids tree;
  *   - content streams stored raw or /FlateDecode-compressed
  *     (java.util.zip.Inflater is the same zlib pdfplumber uses);
  *   - text shown with Tj / ' / " / TJ inside BT..ET, literal `(...)`
  *     strings (with \-escapes and octal) and `<...>` hex strings;
  *   - positioning via Tm / Td / TD / T* with leading (TL);
  *   - simple fonts decoded as WinAnsiEncoding (the superset all four
  *     document families use); composite Type0/Identity-H fonts decoded
  *     through their /ToUnicode CMap (bfrange + bfchar), the way the BB
  *     faturas embed subsetted CID fonts.
  * Image/font/xref streams never reach the text path (no BT block).
  * Encrypted PDFs and exotic filters (DCT, LZW) are out of scope — they
  * would arrive via a real PDF jar behind this same seam.
  */
object PdfText {

  /** Typed extraction result: the page-concat text plus the distinct
    * stream filters the extractor had to SKIP (DCTDecode images,
    * CCITTFax scans, LZW …). A non-empty `skippedFilters` is the
    * diagnostic that the text may be partial, and a scanned-image PDF
    * comes back as (empty text, [/DCTDecode]) rather than a silent "". */
  final case class PdfExtraction(text: String, skippedFilters: Seq[String])

  /** [[extractText]] plus skipped-filter diagnostics — never throws on
    * exotic or corrupted streams; unsupported filters are skipped and
    * reported, exactly like the per-object decode path does. The specs
    * audit what the engine's extractor skipped through it. */
  private[graft] def extract(pdf: Array[Byte]): PdfExtraction =
    PdfExtraction(extractText(pdf), unsupportedStreamFilters(pdf))

  /** Filter names (beyond /FlateDecode) attached to stream dictionaries
    * in the raw bytes — one scan, order of first appearance, distinct.
    * These are exactly the streams parseObjects/contentStreams skip.
    * Name tokens with `#xx` escapes are decoded before comparison
    * (`/Fl#61teDecode` IS FlateDecode), and an INDIRECT filter value
    * (`/Filter 12 0 R`) — which this raw scan cannot resolve — is
    * reported as the `/IndirectFilterRef` marker rather than silently
    * passing, so `skippedFilters` stays honest on documents that route
    * their filter through an object reference. */
  private[graft] def unsupportedStreamFilters(pdf: Array[Byte]): Seq[String] = {
    val doc = new String(pdf, java.nio.charset.StandardCharsets.ISO_8859_1)
    FilterNamesRe.findAllMatchIn(doc)
      .flatMap { m =>
        val v = m.group(1)
        if (IndirectRefRe.matches(v)) Iterator("/IndirectFilterRef")
        else FilterTokenRe.findAllIn(v).map(decodeNameEscapes)
      }
      .filter(_ != "/FlateDecode")
      .toSeq.distinct
  }

  // `/Filter /Name` (one name), `/Filter [/A /B]` (a filter chain) or
  // `/Filter 12 0 R` (indirect value) — the single-name form must NOT
  // run on into the next dictionary key; names may carry #xx escapes
  private val FilterNamesRe =
    """/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9#]+|\d+\s+\d+\s+R)""".r
  private val FilterTokenRe = """/[A-Za-z0-9#]+""".r
  private val IndirectRefRe = """\d+\s+\d+\s+R""".r

  /** PDF name-object `#xx` hex escapes decoded to their characters
    * (ISO-8859-1 range, per the raw-bytes read above). */
  private def decodeNameEscapes(name: String): String =
    NameEscapeRe.replaceAllIn(name, m => java.util.regex.Matcher
      .quoteReplacement(Integer.parseInt(m.group(1), 16).toChar.toString))
  private val NameEscapeRe = """#([0-9A-Fa-f]{2})""".r

  /** All page texts joined with "\n" — the reference's page-concat
    * contract. Returns "" for bytes with no extractable text. */
  def extractText(pdf: Array[Byte]): String = {
    val doc = new String(pdf, java.nio.charset.StandardCharsets.ISO_8859_1)
    val objs = parseObjects(doc, pdf)
    val pages = pageOrder(objs)
    val texts = pages.map(p => renderPage(objs, p)).filter(_.nonEmpty)
    if (texts.nonEmpty) texts.mkString("\n")
    // structure-free fallback (content streams without a page tree)
    else contentStreams(pdf).map(textOfContentStream).filter(_.nonEmpty).mkString("\n")
  }

  // ---- object table ---------------------------------------------------

  private[parse] final case class PdfObj(dict: String, stream: Option[Array[Byte]])

  private val ObjStart = """(\d+)\s+0\s+obj""".r

  /** All `N 0 obj` bodies: dictionary text + decoded stream bytes. The
    * scan ignores the xref table entirely (robust to the slightly-off
    * offsets real generators emit). Matches that fall INSIDE a previous
    * object's binary stream are skipped — compressed bytes can contain
    * the `N 0 obj` pattern, and such a phantom must not shadow a real
    * object. */
  private[parse] def parseObjects(doc: String, pdf: Array[Byte]): Map[Int, PdfObj] = {
    val out = mutable.Map.empty[Int, PdfObj]
    var skipUntil = 0 // end offset of the last seen stream body
    ObjStart.findAllMatchIn(doc).foreach { m =>
      if (m.start >= skipUntil) {
        val num = m.group(1).toInt
        var i = skipWs(doc, m.end)
        val dict =
          if (doc.startsWith("<<", i)) {
            val (d, after) = balancedDict(doc, i)
            i = skipWs(doc, after)
            d
          } else "" // scalar object (length int etc.) — no dict
        val stream =
          if (doc.startsWith("stream", i)) {
            var s = i + "stream".length
            if (s < doc.length && doc.charAt(s) == '\r') s += 1
            if (s < doc.length && doc.charAt(s) == '\n') s += 1
            val e = doc.indexOf("endstream", s)
            if (e < 0) None
            else {
              skipUntil = e
              val raw = pdf.slice(s, trimEol(doc, e))
              if (dict.contains("/FlateDecode")) inflate(raw)
              else if (dict.contains("/Filter")) None // unsupported filter
              else Some(raw)
            }
          } else None
        out(num) = PdfObj(dict, stream)
      }
    }
    out.toMap
  }

  private def skipWs(doc: String, from: Int): Int = {
    var i = from
    while (i < doc.length && doc.charAt(i).isWhitespace) i += 1
    i
  }

  /** Balanced `<<…>>` scan that steps over literal strings and comments so
    * nested dict delimiters inside string values can't desync it. */
  private def balancedDict(doc: String, start: Int): (String, Int) = {
    var i = start
    var depth = 0
    val n = doc.length
    while (i < n) {
      if (doc.startsWith("<<", i)) { depth += 1; i += 2 }
      else if (doc.startsWith(">>", i)) {
        depth -= 1; i += 2
        if (depth == 0) return (doc.substring(start, i), i)
      } else doc.charAt(i) match {
        case '(' =>
          var d = 1; i += 1
          while (i < n && d > 0) {
            doc.charAt(i) match {
              case '\\' => i += 2
              case '('  => d += 1; i += 1
              case ')'  => d -= 1; i += 1
              case _    => i += 1
            }
          }
        case '%' => while (i < n && doc.charAt(i) != '\n' && doc.charAt(i) != '\r') i += 1
        case _ => i += 1
      }
    }
    (doc.substring(start), n)
  }

  private def trimEol(doc: String, end: Int): Int = {
    var e = end
    if (e > 0 && doc.charAt(e - 1) == '\n') e -= 1
    if (e > 0 && doc.charAt(e - 1) == '\r') e -= 1
    e
  }

  private def inflate(data: Array[Byte]): Option[Array[Byte]] =
    try {
      val inf = new Inflater()
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(data.length * 4)
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput()) throw new java.util.zip.DataFormatException("truncated")
        out.write(buf, 0, n)
      }
      inf.end()
      Some(out.toByteArray)
    } catch { case _: Exception => None }

  // ---- dict helpers ---------------------------------------------------

  private def ref(dict: String, key: String): Option[Int] =
    s"""/$key\\s+(\\d+)\\s+0\\s+R""".r.findFirstMatchIn(dict).map(_.group(1).toInt)

  private def refArray(dict: String, key: String): Seq[Int] =
    s"""/$key\\s*\\[([^\\]]*)\\]""".r.findFirstMatchIn(dict) match {
      case Some(m) => """(\d+)\s+0\s+R""".r.findAllMatchIn(m.group(1)).map(_.group(1).toInt).toSeq
      case None => ref(dict, key).toSeq
    }

  /** `/Key <<…>>` inline sub-dictionary, or `/Key N 0 R` resolved. */
  private def subDict(objs: Map[Int, PdfObj], dict: String, key: String): Option[String] = {
    val k = s"/$key"
    var i = dict.indexOf(k)
    while (i >= 0) {
      // require a delimiter after the key so /Font never matches /FontFile2
      if (i + k.length < dict.length && dict.charAt(i + k.length).isLetterOrDigit) {
        i = dict.indexOf(k, i + 1)
      } else {
      val after = skipWs(dict, i + k.length)
      if (dict.startsWith("<<", after)) return Some(balancedDict(dict, after)._1)
      s"""^(\\d+)\\s+0\\s+R""".r.findFirstMatchIn(dict.substring(after)) match {
        case Some(m) => return objs.get(m.group(1).toInt).map(_.dict)
        case None => ()
      }
      i = dict.indexOf(k, i + 1)
      }
    }
    None
  }

  // ---- page tree ------------------------------------------------------

  /** Page object ids in reading order via Catalog → Pages → Kids; falls
    * back to document order of /Type/Page objects. */
  private[parse] def pageOrder(objs: Map[Int, PdfObj]): Seq[Int] = {
    val byTree = for {
      (_, cat) <- objs.find(_._2.dict.contains("/Type/Catalog"))
        .orElse(objs.find(_._2.dict.contains("/Type /Catalog")))
      root <- ref(cat.dict, "Pages")
    } yield {
      val acc = mutable.ArrayBuffer.empty[Int]
      val seen = mutable.Set.empty[Int]
      def walk(n: Int): Unit = if (seen.add(n)) objs.get(n).foreach { o =>
        val kids = refArray(o.dict, "Kids")
        if (kids.nonEmpty) kids.foreach(walk)
        else if (isPage(o.dict)) acc += n
      }
      walk(root)
      acc.toSeq
    }
    byTree.filter(_.nonEmpty).getOrElse {
      objs.toSeq.filter(o => isPage(o._2.dict)).map(_._1).sorted
    }
  }

  private def isPage(dict: String): Boolean =
    """/Type\s*/Page(?![a-zA-Z])""".r.findFirstIn(dict).isDefined

  // ---- fonts ----------------------------------------------------------

  private[parse] sealed trait FontDec
  private[parse] case object WinAnsiFont extends FontDec
  private[parse] final case class CidFont(toUnicode: Map[Int, String]) extends FontDec

  /** WinAnsiEncoding differs from latin-1 only in 0x80–0x9F. */
  private val winAnsiHigh: Map[Char, Char] = Map(
    0x80.toChar -> '€', 0x82.toChar -> '‚', 0x83.toChar -> 'ƒ',
    0x84.toChar -> '„', 0x85.toChar -> '…', 0x86.toChar -> '†',
    0x87.toChar -> '‡', 0x88.toChar -> 'ˆ', 0x89.toChar -> '‰',
    0x8a.toChar -> 'Š', 0x8b.toChar -> '‹', 0x8c.toChar -> 'Œ',
    0x8e.toChar -> 'Ž', 0x91.toChar -> '‘', 0x92.toChar -> '’',
    0x93.toChar -> '“', 0x94.toChar -> '”', 0x95.toChar -> '•',
    0x96.toChar -> '–', 0x97.toChar -> '—', 0x98.toChar -> '˜',
    0x99.toChar -> '™', 0x9a.toChar -> 'š', 0x9b.toChar -> '›',
    0x9c.toChar -> 'œ', 0x9e.toChar -> 'ž', 0x9f.toChar -> 'Ÿ')

  private def decodeString(raw: String, font: FontDec): String = font match {
    case WinAnsiFont => raw.map(c => winAnsiHigh.getOrElse(c, c))
    case CidFont(map) =>
      val sb = new StringBuilder
      var k = 0
      while (k + 1 < raw.length) {
        val code = (raw.charAt(k) << 8) | raw.charAt(k + 1)
        map.get(code).foreach(sb ++= _)
        k += 2
      }
      sb.toString
  }

  /** Resource-name → decoder map for one page. */
  private def pageFonts(objs: Map[Int, PdfObj], pageDict: String): Map[String, FontDec] = {
    val fontDict = subDict(objs, pageDict, "Resources")
      .flatMap(res => subDict(objs, res, "Font"))
      .orElse(subDict(objs, pageDict, "Font"))
      .getOrElse("")
    """/(\w+)\s+(\d+)\s+0\s+R""".r.findAllMatchIn(fontDict).flatMap { m =>
      objs.get(m.group(2).toInt).map(f => m.group(1) -> fontDecoder(objs, f.dict))
    }.toMap
  }

  private def fontDecoder(objs: Map[Int, PdfObj], fontDict: String): FontDec =
    if (fontDict.contains("/Type0"))
      CidFont(ref(fontDict, "ToUnicode")
        .flatMap(objs.get).flatMap(_.stream)
        .map(b => parseCMap(new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)))
        .getOrElse(Map.empty))
    else WinAnsiFont

  // ---- ToUnicode CMap -------------------------------------------------

  private val BfRangeBlock = """(?s)beginbfrange(.*?)endbfrange""".r
  private val BfCharBlock  = """(?s)beginbfchar(.*?)endbfchar""".r
  private val RangeTriple  = """(?s)<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>\s*(?:<([0-9a-fA-F]+)>|\[(.*?)\])""".r
  private val HexPair      = """<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>""".r
  private val HexTok       = """<([0-9a-fA-F]+)>""".r

  private def utf16Hex(hex: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i + 4 <= hex.length) { sb += Integer.parseInt(hex.substring(i, i + 4), 16).toChar; i += 4 }
    if (sb.isEmpty && hex.nonEmpty) sb += Integer.parseInt(hex, 16).toChar
    sb.toString
  }

  /** bfrange (`<lo> <hi> <dstBase>` and `<lo> <hi> [<d0> <d1> …]`) plus
    * bfchar entries → code → unicode string. */
  private[parse] def parseCMap(cmap: String): Map[Int, String] = {
    val out = mutable.Map.empty[Int, String]
    BfRangeBlock.findAllMatchIn(cmap).foreach { block =>
      RangeTriple.findAllMatchIn(block.group(1)).foreach { m =>
        val lo = Integer.parseInt(m.group(1), 16)
        val hi = Integer.parseInt(m.group(2), 16)
        if (m.group(3) != null) {
          val dst = m.group(3)
          if (dst.length <= 4) {
            val base = Integer.parseInt(dst, 16)
            var c = lo
            while (c <= hi) { out(c) = (base + c - lo).toChar.toString; c += 1 }
          } else out(lo) = utf16Hex(dst) // multi-char target: single mapping
        } else {
          val arr = HexTok.findAllMatchIn(m.group(4)).map(_.group(1)).toSeq
          arr.zipWithIndex.foreach { case (d, i) => if (lo + i <= hi) out(lo + i) = utf16Hex(d) }
        }
      }
    }
    BfCharBlock.findAllMatchIn(cmap).foreach { block =>
      HexPair.findAllMatchIn(block.group(1)).foreach { m =>
        out(Integer.parseInt(m.group(1), 16)) = utf16Hex(m.group(2))
      }
    }
    out.toMap
  }

  // ---- page rendering -------------------------------------------------

  private final case class Span(y: Double, x: Double, text: String)

  private def renderPage(objs: Map[Int, PdfObj], pageId: Int): String = {
    val page = objs(pageId)
    val fonts = pageFonts(objs, page.dict)
    val content = refArray(page.dict, "Contents").flatMap(objs.get).flatMap(_.stream)
      .map(b => new String(b, java.nio.charset.StandardCharsets.ISO_8859_1))
      .mkString("\n")
    assemble(spansOf(content, fonts))
  }

  /** pdfplumber-style assembly: cluster spans into lines by y (tolerance
    * 3 pt, chained), order lines top-down, spans left-to-right; spans at
    * the same x (sequential shows without repositioning) concatenate
    * without a separator, distinct x positions get one space. */
  private def assemble(spans: Seq[Span]): String = {
    if (spans.isEmpty) return ""
    val sorted = spans.sortBy(s => (-s.y, s.x))
    val lines = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Span]]
    var prevY = Double.NaN
    sorted.foreach { s =>
      if (lines.isEmpty || (prevY - s.y) > 3.0) lines += mutable.ArrayBuffer(s)
      else lines.last += s
      prevY = s.y
    }
    lines.map { ln =>
      val inline = ln.sortBy(_.x) // stable: emission order preserved at equal x
      val sb = new StringBuilder
      var lastX = Double.NaN
      inline.foreach { s =>
        if (sb.nonEmpty && math.abs(s.x - lastX) > 0.01) sb += ' '
        sb ++= s.text
        lastX = s.x
      }
      sb.toString
    }.filter(_.nonEmpty).mkString("\n")
  }

  /** Interpret one page's content: track the text cursor through
    * Tm, Td, TD, T-star and the quote ops, the current font through Tf;
    * emit one span per show op. */
  private def spansOf(cs: String, fonts: Map[String, FontDec]): Seq[Span] = {
    val spans = mutable.ArrayBuffer.empty[Span]
    var x = 0.0; var y = 0.0    // line-start cursor (text line matrix origin)
    var tl = 0.0                 // leading for T*
    var font: FontDec = WinAnsiFont
    val nums = mutable.ArrayBuffer.empty[Double]     // pending numeric operands
    val strs = mutable.ArrayBuffer.empty[String]     // pending string operands (raw bytes)
    var lastName: String = null                      // last /Name operand (for Tf)

    def show(): Unit = {
      val text = strs.map(decodeString(_, font)).mkString
      if (text.nonEmpty) spans += Span(y, x, text)
      strs.clear()
    }
    def nextLine(): Unit = { y -= tl }

    var i = 0
    val n = cs.length
    while (i < n) {
      cs.charAt(i) match {
        case '(' =>
          val (s, next) = literalString(cs, i)
          strs += s; i = next
        case '<' if i + 1 < n && cs.charAt(i + 1) != '<' =>
          val (s, next) = hexString(cs, i)
          strs += s; i = next
        case '<' => i += 2 // dict open inside content (BDC property lists)
        case '>' => i += 1
        case '[' | ']' => i += 1 // TJ arrays: strings collected, kerning numbers ignored below
        case '/' =>
          val start = i + 1
          var j = start
          while (j < n && !cs.charAt(j).isWhitespace && !"()<>[]/%".contains(cs.charAt(j))) j += 1
          lastName = cs.substring(start, j); i = j
        case '%' =>
          while (i < n && cs.charAt(i) != '\n' && cs.charAt(i) != '\r') i += 1
        case c if c.isWhitespace => i += 1
        case _ =>
          val start = i
          while (i < n && !cs.charAt(i).isWhitespace && !"()<>[]/%".contains(cs.charAt(i))) i += 1
          if (i == start) i += 1 // lone delimiter
          else cs.substring(start, i) match {
            case t if t.matches("[-+.0-9]+") =>
              try nums += t.toDouble catch { case _: NumberFormatException => () }
            case "BT" => x = 0; y = 0; tl = 0; nums.clear(); strs.clear()
            case "Tm" if nums.length >= 2 =>
              x = nums(nums.length - 2); y = nums.last; nums.clear(); strs.clear()
            case "Td" if nums.length >= 2 =>
              x += nums(nums.length - 2); y += nums.last; nums.clear(); strs.clear()
            case "TD" if nums.length >= 2 =>
              tl = -nums.last; x += nums(nums.length - 2); y += nums.last; nums.clear(); strs.clear()
            case "TL" if nums.nonEmpty => tl = nums.last; nums.clear()
            case "T*" => nextLine(); nums.clear(); strs.clear()
            case "Tf" => font = Option(lastName).flatMap(fonts.get).getOrElse(WinAnsiFont); nums.clear()
            case "Tj" | "TJ" => show(); nums.clear()
            case "'" => nextLine(); show(); nums.clear()
            case "\"" => nextLine(); show(); nums.clear()
            case _ => nums.clear(); strs.clear()
          }
      }
    }
    spans.toSeq
  }

  // ---- structure-free fallback ---------------------------------------

  private val StreamRe =
    """(?s)<<(.{0,2000}?)>>\s*stream\r?\n""".r

  /** Decoded candidate content streams, in document order (fallback path
    * for byte blobs without a parseable page tree). */
  private[parse] def contentStreams(pdf: Array[Byte]): Seq[String] = {
    val doc = new String(pdf, java.nio.charset.StandardCharsets.ISO_8859_1)
    StreamRe.findAllMatchIn(doc).flatMap { m =>
      val dict = m.group(1)
      val start = m.end
      val end = doc.indexOf("endstream", start)
      if (end < 0) None
      else {
        val raw = pdf.slice(start, trimEol(doc, end))
        val data =
          if (dict.contains("/FlateDecode")) inflate(raw)
          else if (dict.contains("/Filter")) None // unsupported filter
          else Some(raw)
        data.map(b => new String(b, java.nio.charset.StandardCharsets.ISO_8859_1))
          .filter(_.contains("BT"))
      }
    }.toSeq
  }

  /** Fallback text of one content stream: position-aware spans with no
    * font table (WinAnsi assumed). */
  private[parse] def textOfContentStream(cs: String): String =
    assemble(spansOf(cs, Map.empty))

  /** `(...)` literal string with escapes; returns (decoded, indexAfter). */
  private def literalString(cs: String, open: Int): (String, Int) = {
    val sb = new StringBuilder
    var i = open + 1
    var depth = 1
    val n = cs.length
    while (i < n && depth > 0) {
      cs.charAt(i) match {
        case '\\' if i + 1 < n =>
          cs.charAt(i + 1) match {
            case 'n' => sb += '\n'; i += 2
            case 'r' => sb += '\r'; i += 2
            case 't' => sb += '\t'; i += 2
            case 'b' => sb += '\b'; i += 2
            case 'f' => sb += '\f'; i += 2
            case '(' => sb += '('; i += 2
            case ')' => sb += ')'; i += 2
            case '\\' => sb += '\\'; i += 2
            case '\r' => i += (if (i + 2 < n && cs.charAt(i + 2) == '\n') 3 else 2) // continuation
            case '\n' => i += 2
            case d if d >= '0' && d <= '7' =>
              var j = i + 1; var v = 0
              while (j < n && j < i + 4 && cs.charAt(j) >= '0' && cs.charAt(j) <= '7') {
                v = v * 8 + (cs.charAt(j) - '0'); j += 1
              }
              sb += v.toChar; i = j
            case other => sb += other; i += 2
          }
        case '(' => depth += 1; sb += '('; i += 1
        case ')' =>
          depth -= 1
          if (depth > 0) sb += ')'
          i += 1
        case c => sb += c; i += 1
      }
    }
    (sb.toString, i)
  }

  /** `<hex>` string; returns (decoded, indexAfter). */
  private def hexString(cs: String, open: Int): (String, Int) = {
    val close = cs.indexOf('>', open + 1)
    if (close < 0) return ("", cs.length)
    val hex = cs.substring(open + 1, close).filterNot(_.isWhitespace)
    val padded = if (hex.length % 2 == 1) hex + "0" else hex
    val sb = new StringBuilder
    var k = 0
    while (k + 2 <= padded.length) {
      sb += Integer.parseInt(padded.substring(k, k + 2), 16).toChar
      k += 2
    }
    (sb.toString, close + 1)
  }
}
