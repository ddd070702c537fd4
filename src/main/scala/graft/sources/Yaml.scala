package graft.sources

import scala.collection.mutable

/** Minimal YAML-subset reader for the engine's config surface (S4 — the
  * reference loads a flat budget map with yaml.safe_load,
  * compare_budget.py:12-25, and a nested client registry,
  * spark/scripts/sources/clients.yaml:1-16). Config files are tiny and
  * read once on the driver — exactly how the reference treats them — so
  * this is plain Scala, not a DataFrame source; the parsed values feed
  * literal DataFrames.
  *
  * Supported subset (everything those two files use, and nothing more):
  * block maps (`key: value` / `key:` + indented block), block lists
  * (`- item`, including `- key: value` map-items), inline lists
  * (`[a, b]`), single/double-quoted and plain scalars, numbers, booleans,
  * null, `#` comments. Anchors, multi-docs, and block scalars are out of
  * scope and fail loudly.
  */
object Yaml {

  sealed trait YValue {
    def asMap: Map[String, YValue] = this match {
      case YMap(m) => m
      case other => throw new IllegalArgumentException(s"expected map, got $other")
    }
    def asDouble: Double = this match {
      case YNum(d) => d
      case YStr(s) => s.toDouble
      case other => throw new IllegalArgumentException(s"expected number, got $other")
    }
  }
  final case class YMap(entries: Map[String, YValue]) extends YValue {
    // insertion order preserved separately for deterministic iteration
    var order: Seq[String] = entries.keys.toSeq
  }
  final case class YList(items: Seq[YValue]) extends YValue
  final case class YStr(value: String) extends YValue
  final case class YNum(value: Double) extends YValue
  final case class YBool(value: Boolean) extends YValue
  case object YNull extends YValue

  private final case class Line(indent: Int, content: String)

  def parse(text: String): YValue = {
    val lines = text.linesIterator.map(stripComment).filter(_.trim.nonEmpty).map { raw =>
      val indent = raw.takeWhile(_ == ' ').length
      val c = raw.trim
      if (raw.contains("\t")) throw new IllegalArgumentException("tabs not allowed in YAML indent")
      Line(indent, c)
    }.toVector
    if (lines.isEmpty) YMap(Map.empty)
    else parseBlock(lines, 0, lines.head.indent)._1
  }

  /** Strip a trailing `# comment`, ignoring `#` inside quotes. */
  private def stripComment(raw: String): String = {
    var i = 0
    var quote: Char = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') quote = c
      else if (c == '#' && (i == 0 || raw.charAt(i - 1).isWhitespace)) return raw.substring(0, i)
      i += 1
    }
    raw
  }

  /** Parse the block starting at `i` whose lines sit at `indent`. */
  private def parseBlock(lines: Vector[Line], i: Int, indent: Int): (YValue, Int) =
    if (lines(i).content.startsWith("- ") || lines(i).content == "-") parseList(lines, i, indent)
    else parseMap(lines, i, indent)

  private def parseList(lines: Vector[Line], start: Int, indent: Int): (YValue, Int) = {
    val items = mutable.ArrayBuffer.empty[YValue]
    var i = start
    while (i < lines.length && lines(i).indent == indent && lines(i).content.startsWith("-")) {
      val rest = lines(i).content.drop(1).trim
      if (rest.isEmpty) { // `-` alone: nested block on following lines
        val (v, next) = parseBlock(lines, i + 1, lines(i + 1).indent)
        items += v; i = next
      } else if (keySplit(rest).isDefined) {
        // `- key: value` map-item: the map continues at indent+2
        val virtIndent = indent + 2
        val (v, next) = parseMapItem(lines, i, virtIndent, rest)
        items += v; i = next
      } else {
        items += scalar(rest); i += 1
      }
    }
    (YList(items.toSeq), i)
  }

  /** A list item that opens a map: first entry inline after `- `, the
    * rest on following lines indented two past the dash. */
  private def parseMapItem(lines: Vector[Line], dashIdx: Int, indent: Int,
      firstEntry: String): (YValue, Int) = {
    val entries = mutable.LinkedHashMap.empty[String, YValue]
    var i = dashIdx
    var pending = Option(firstEntry)
    while (pending.isDefined ||
        (i < lines.length && lines(i).indent == indent && !lines(i).content.startsWith("- "))) {
      val content = pending.getOrElse(lines(i).content)
      val Some((k, rest)) = keySplit(content): @unchecked
      if (rest.nonEmpty) {
        entries(k) = inlineValue(rest)
        i += 1
      } else if (i + 1 < lines.length && lines(i + 1).indent > indent) {
        val (v, next) = parseBlock(lines, i + 1, lines(i + 1).indent)
        entries(k) = v; i = next
      } else { entries(k) = YNull; i += 1 }
      pending = None
    }
    (YMap(entries.toMap), i)
  }

  private def parseMap(lines: Vector[Line], start: Int, indent: Int): (YValue, Int) = {
    val entries = mutable.LinkedHashMap.empty[String, YValue]
    var i = start
    while (i < lines.length && lines(i).indent == indent && keySplit(lines(i).content).isDefined) {
      val Some((k, rest)) = keySplit(lines(i).content): @unchecked
      if (rest.nonEmpty) { entries(k) = inlineValue(rest); i += 1 }
      else if (i + 1 < lines.length && lines(i + 1).indent > indent) {
        val (v, next) = parseBlock(lines, i + 1, lines(i + 1).indent)
        entries(k) = v; i = next
      } else { entries(k) = YNull; i += 1 }
    }
    val m = YMap(entries.toMap)
    m.order = entries.keys.toSeq
    (m, i)
  }

  /** `key: rest` split (rest may be empty); None if the line is not a
    * map entry. Keys may be quoted. */
  private def keySplit(content: String): Option[(String, String)] = {
    if (content.startsWith("\"") || content.startsWith("'")) {
      val q = content.charAt(0)
      val close = content.indexOf(q, 1)
      if (close < 0 || close + 1 >= content.length || content.charAt(close + 1) != ':') None
      else Some(content.substring(1, close) -> content.substring(close + 2).trim)
    } else {
      val i = content.indexOf(':')
      if (i < 0) None
      else if (i + 1 < content.length && !content.charAt(i + 1).isWhitespace) None // e.g. a URL
      else Some(content.substring(0, i).trim -> content.substring(i + 1).trim)
    }
  }

  private def inlineValue(s: String): YValue =
    if (s.startsWith("[")) {
      if (!s.endsWith("]")) throw new IllegalArgumentException(s"unterminated inline list: $s")
      val body = s.substring(1, s.length - 1).trim
      if (body.isEmpty) YList(Nil)
      else YList(splitTopLevel(body).map(x => scalar(x.trim)))
    } else scalar(s)

  /** Split an inline-list body on commas outside quotes. */
  private def splitTopLevel(body: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var quote: Char = 0
    body.foreach { c =>
      if (quote != 0) { cur += c; if (c == quote) quote = 0 }
      else if (c == '"' || c == '\'') { quote = c; cur += c }
      else if (c == ',') { out += cur.toString; cur.clear() }
      else cur += c
    }
    out += cur.toString
    out.toSeq
  }

  private def scalar(s: String): YValue = s match {
    case "" | "~" | "null" | "Null" | "NULL" => YNull
    case "true" | "True" => YBool(true)
    case "false" | "False" => YBool(false)
    case q if (q.startsWith("\"") && q.endsWith("\"") && q.length >= 2) ||
              (q.startsWith("'") && q.endsWith("'") && q.length >= 2) =>
      YStr(q.substring(1, q.length - 1))
    case n if n.matches("-?\\d+(\\.\\d+)?([eE][-+]?\\d+)?") => YNum(n.toDouble)
    case other => YStr(other)
  }

  // ---- the config shape the engine consumes ---------------------------

  /** Flat budget map `categoria: orçado` (compare_budget.py:12-25): null
    * values skipped, everything else coerced to Double — same contract as
    * the reference's load_budget. */
  def budget(text: String): Seq[(String, Double)] = {
    val m = parse(text)
    val order = m match { case ym: YMap => ym.order; case _ => Nil }
    val entries = m.asMap
    order.flatMap { k =>
      entries(k) match {
        case YNull => None
        case v => Some(k -> v.asDouble)
      }
    }
  }

  /** Read a classpath resource or filesystem path as UTF-8 text. */
  def readConfig(pathOrResource: String): String = {
    val res = getClass.getResourceAsStream(pathOrResource)
    if (res != null)
      try scala.io.Source.fromInputStream(res, "UTF-8").mkString finally res.close()
    else {
      val p = java.nio.file.Paths.get(pathOrResource)
      new String(java.nio.file.Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)
    }
  }
}
