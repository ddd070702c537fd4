package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` carries only the entry points the project runs: the
  * verify and bench mains (`Verify`, `Bench`), the plan dumper and the
  * two workers the crash specs fork. A single-use probe or micro-bench
  * main belongs in a scratch checkout, not in the engine; the per-layer
  * span tracer under `perfbench/` does the timing such probes did.
  *
  * The same source scan keeps the engine off SparkContext-global
  * checkpoint state: the reliable-vs-local lineage cut reads the
  * session's checkpoint dir (`graft.Lineage`) and never sets it, and
  * `graft.Lineage.cut` is the only place that cuts lineage. It also
  * pins the public surface of every package under `src/main/scala/graft`:
  * a public def that nothing in the engine or the benchmark calls is
  * deleted, narrowed to `private[graft]`, or listed with its reason. A
  * def on an object counts only calls that name it through its object
  * (`Object.name`, `Object(…)` for `apply`, an import of the object, a
  * row kernel's `GraftSqlBridge.kernel(Object, "name", …)`), or
  * unqualified calls in the object's own file, so a namesake elsewhere
  * does not hide it; a def on a class or trait counts its name as a
  * whole token, since an instance call carries no owner name. Row
  * kernels go through that bridge only: no file hand-writes a Catalyst
  * row expression (`doGenCode`, a Unary/Binary/TernaryExpression
  * subclass, an override of `deterministic`). */
class DevMainsSpec extends AnyFunSuite {

  private val allowed = Set(
    "graft.Bench", "graft.Verify",
    "graft.tools.Explain", "graft.tools.SoakWorker",
    "graft.tools.LogTableCrashWorker")

  private val PackageDecl = """(?m)^\s*package\s+([\w.]+)""".r
  private val ObjectDecl = """\bobject\s+(\w+)""".r

  private def scalaSources(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  /** Fully-qualified name of every object declaring `def main(` — the
    * nearest `object` declared above each `def main(` in its file. */
  private def mains(root: Path): Set[String] =
    scalaSources(root)
      .flatMap { f =>
        val src = Files.readString(f)
        val pkg = PackageDecl.findAllMatchIn(src).map(_.group(1)).mkString(".")
        "def main\\(".r.findAllMatchIn(src).map { m =>
          val obj = ObjectDecl.findAllMatchIn(src.substring(0, m.start)).toSeq
            .lastOption.map(_.group(1)).getOrElse("<no object>")
          if (pkg.isEmpty) obj else s"$pkg.$obj"
        }
      }.toSet

  test("src/main declares exactly the allowed main entry points") {
    val found = mains(Paths.get("src/main/scala"))
    assert(found === allowed,
      s"unexpected: ${(found -- allowed).toSeq.sorted.mkString(", ")}; " +
        s"missing: ${(allowed -- found).toSeq.sorted.mkString(", ")}")
  }

  /** Public defs that nothing in the engine or the benchmark calls, each
    * kept on purpose as public API: the flagship smoke entry, an
    * auto-scaling entry point, the no-retrain ANN writer the restart soak
    * drives, the log table's compaction verb and the reference's catalog
    * DDL on the trusted parquet table. */
  private val surfaceAllowlist = Map(
    "SparkEntry.entry" ->
      "the flagship query a caller smoke-checks a session with (rows > 0)",
    "TextStats.sequencePackingAuto" ->
      "the auto-scaling entry point: shard count from plan stats",
    "AnnIndexStreaming.annIndexStream" ->
      "the no-retrain ANN writer the restart soak drives",
    "LogTable.compact" ->
      "the log table's small-file compaction, its one maintenance verb",
    "ParquetTableFormat.createExternalTable" ->
      "the reference's S12 external-table DDL + MSCK over a lake dir",
    "ParquetTableFormat.repairTable" ->
      "the reference's MSCK REPAIR after files land behind the catalog",
    "ParquetTableFormat.evolveTable" ->
      "the reference's evoluir_schema ALTER TABLE ADD COLUMNS")

  /** `src` with comments and string literals blanked, line breaks kept —
    * a name inside a doc link or an error message is not a caller. The
    * `${…}` and `$name` splices of an interpolated string stay code. */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder(src.length)
    def blank(from: Int, until: Int): Int = {
      var i = from
      while (i < until) { out += (if (src(i) == '\n') '\n' else ' '); i += 1 }
      until
    }
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_'
    // code from `from` up to the `}` that closes the splice it is in
    def code(from: Int, splice: Boolean): Int = {
      var i = from; var depth = 0
      while (i < src.length && !(splice && depth == 0 && src(i) == '}')) {
        if (src.startsWith("//", i)) {
          val nl = src.indexOf('\n', i)
          i = blank(i, if (nl < 0) src.length else nl)
        } else if (src.startsWith("/*", i)) {
          var d = 1; var j = i + 2
          while (d > 0) {
            if (src.startsWith("/*", j)) { d += 1; j += 2 }
            else if (src.startsWith("*/", j)) { d -= 1; j += 2 }
            else j += 1
          }
          i = blank(i, j)
        } else if (src(i) == '"') i = string(i, i > 0 && isIdent(src(i - 1)))
        else if (src(i) == '\'' && i + 2 < src.length &&
            (src(i + 2) == '\'' || src(i + 1) == '\\'))
          i = blank(i, src.indexOf('\'', if (src(i + 1) == '\\') i + 3 else i + 2) + 1)
        else {
          if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
          out += src(i); i += 1
        }
      }
      i
    }
    // from: the opening quote; returns the index past the closing one
    def string(from: Int, interpolated: Boolean): Int = {
      val triple = src.startsWith("\"\"\"", from)
      var i = blank(from, from + (if (triple) 3 else 1))
      var end = -1
      while (end < 0 && i < src.length) {
        if (triple && src.startsWith("\"\"\"", i)) {
          var j = i + 3
          while (j < src.length && src(j) == '"') j += 1
          end = blank(i, j)
        } else if (!triple && (src(i) == '"' || src(i) == '\n')) end = blank(i, i + 1)
        else if (!triple && src(i) == '\\') i = blank(i, i + 2)
        else if (interpolated && src.startsWith("$$", i)) i = blank(i, i + 2)
        else if (interpolated && src.startsWith("${", i)) {
          val close = code(blank(i, i + 2), splice = true)
          i = blank(close, close + 1)
        } else if (interpolated && src(i) == '$' && i + 1 < src.length &&
            (src(i + 1).isLetter || src(i + 1) == '_')) {
          i = blank(i, i + 1)
          while (i < src.length && isIdent(src(i))) { out += src(i); i += 1 }
        } else i = blank(i, i + 1)
      }
      if (end < 0) i else end
    }
    code(0, splice = false)
    out.toString
  }

  private val Token = """[{}]|\bdef\s+([A-Za-z_]\w*)""".r
  private val TemplateHead = """\b(object|class|trait)\s+(\w+)""".r
  private val Hidden = """\b(private|protected|override)\b""".r

  /** (owner kind, owner, name) of every public, non-override member def:
    * every enclosing brace opens a non-private object, class or trait (a
    * def inside a method body or a `new` block is local). */
  private def publicDefs(code: String): Seq[(String, String, String)] = {
    val enclosing = scala.collection.mutable.Stack.empty[Option[(String, String)]]
    Token.findAllMatchIn(code).toSeq.flatMap { m =>
      m.matched match {
        case "{" =>
          val head = code.substring(
            Seq(';', '{', '}', '=').map(code.lastIndexOf(_, m.start - 1)).max + 1,
            m.start)
          val template = TemplateHead.findFirstMatchIn(head)
            .filter(_ => !head.contains("new ") && Hidden.findFirstIn(head).isEmpty)
          enclosing.push(template.map(t => (t.group(1), t.group(2))))
          Nil
        case "}" => enclosing.pop(); Nil
        case _ =>
          val line = code.substring(code.lastIndexOf('\n', m.start) + 1, m.start)
          if (enclosing.isEmpty || enclosing.exists(_.isEmpty) ||
              Hidden.findFirstIn(line).isDefined) Nil
          else {
            val (kind, owner) = enclosing.top.get
            Seq((kind, owner, m.group(1)))
          }
      }
    }
  }

  /** `Owner.name` of each public def under `src/main/scala/graft` that
    * nothing in `src/main` or `perfbench/src` calls (mains excepted: the
    * first case pins those). */
  private def uncalledPublicDefs(): Set[String] = {
    val raw = (scalaSources(Paths.get("src/main/scala")) ++
        scalaSources(Paths.get("perfbench/src")))
      .map(f => f -> Files.readString(f)).toMap
    val code = raw.map { case (f, s) => f -> codeOnly(s) }
    def counts(names: Iterator[String]) =
      names.toSeq.groupBy(identity).view.mapValues(_.size).toMap
    def group1(re: scala.util.matching.Regex)(c: String) =
      re.findAllMatchIn(c).map(_.group(1))
    val defName = """\bdef\s+([\w$]+)""".r
    // class and trait members: uses are the name's whole-token
    // occurrences minus its def sites
    val tokens = counts(code.values.iterator.flatMap("""[\w$]+""".r.findAllIn(_)))
    val defSites = counts(code.values.iterator.flatMap(group1(defName)))
    // a row kernel planned as `GraftSqlBridge.kernel(Obj, "fn", …)` is
    // a call of `Obj.fn`: the object is code, the name a string literal
    val kernelFn = """\s*"(\w+)"""".r
    val bridged = code.iterator.flatMap { case (f, c) =>
      """\bGraftSqlBridge\s*\.\s*kernel\s*\(\s*(\w+)\s*,""".r.findAllMatchIn(c)
        .flatMap(m => kernelFn.findPrefixMatchOf(raw(f).substring(m.end))
          .map(fn => s"${m.group(1)}.${fn.group(1)}"))
    }
    // object members: calls through the object's name (`Object.name`,
    // `Object(…)` for apply), plus unqualified calls in the object's own
    // file or in a file importing the name
    val qualified = counts(code.values.iterator.flatMap(c =>
      """\b(\w+)\s*\.\s*(?=(\w+))""".r.findAllMatchIn(c).map(m => s"${m.group(1)}.${m.group(2)}")) ++
      bridged)
    val applied = counts(code.values.iterator.flatMap(
      group1("""(?<!\b(?:class|object|trait|new)\s)\b(\w+)\s*\(""".r)))
    val unqualifiedIn = code.map { case (f, c) => f -> counts(group1("""(?<![\w$.])(\w+)""".r)(c)) }
    val defSitesIn = code.map { case (f, c) => f -> counts(group1(defName)(c)) }
    // owner -> imported names ("_" for a wildcard), per file
    val importsIn = code.map { case (f, c) =>
      f -> """\bimport\s+(?:\w+\.)*(\w+)\.(_|\w+|\{[^}]*\})""".r.findAllMatchIn(c).toSeq
        .map(m => m.group(1) -> """\w+""".r.findAllIn(m.group(2)).toSet)
        .groupMapReduce(_._1)(_._2)(_ ++ _)
    }
    def objectCalls(file: Path, obj: String, name: String): Int =
      qualified.getOrElse(s"$obj.$name", 0) +
        (if (name == "apply") applied.getOrElse(obj, 0) else 0) +
        code.keys.iterator.filter { f =>
          f == file || importsIn(f).get(obj).exists(ns => ns("_") || ns(name))
        }.map(f => unqualifiedIn(f).getOrElse(name, 0) - defSitesIn(f).getOrElse(name, 0)).sum
    code.toSeq
      .filter { case (f, _) => f.startsWith(Paths.get("src/main/scala/graft")) }
      .flatMap { case (f, c) => publicDefs(c).map((f, _)) }
      .collect {
        case (_, (_, _, "main")) => None
        case (f, ("object", o, n)) => Option.when(objectCalls(f, o, n) == 0)(s"$o.$n")
        case (_, (_, o, n)) =>
          Option.when(tokens.getOrElse(n, 0) == defSites.getOrElse(n, 0))(s"$o.$n")
      }.flatten.toSet
  }

  test("every public def in src/main has a caller in the engine or the benchmark, or an allowlisted reason") {
    val uncalled = uncalledPublicDefs()
    val unlisted = (uncalled -- surfaceAllowlist.keySet).toSeq.sorted
    val stale = (surfaceAllowlist.keySet -- uncalled).toSeq.sorted
    assert(surfaceAllowlist.size < 10)
    assert(unlisted.isEmpty, "public defs with no caller in src/main or " +
      s"perfbench/src: ${unlisted.mkString(", ")}")
    assert(stale.isEmpty, "allowlisted defs that now have a caller or are " +
      s"gone: ${stale.mkString(", ")}")
  }

  test("no file under src/main/scala/graft hand-writes a row expression: kernels plan through GraftSqlBridge.kernel") {
    val handWritten = Seq(
      """\bdef\s+doGenCode\b""".r,
      """\b(?:extends|with)\s+(?:[\w.]+\.)?(?:Unary|Binary|Ternary)Expression\b""".r,
      """\boverride\s+(?:lazy\s+)?(?:val|def)\s+deterministic\b""".r)
    val offenders = scalaSources(Paths.get("src/main/scala/graft"))
      .filter(f => handWritten.exists(_.findFirstIn(codeOnly(Files.readString(f))).isDefined))
      .map(_.toString).sorted
    assert(offenders.isEmpty, "hand-written Catalyst row expressions (plan the " +
      s"kernel through GraftSqlBridge.kernel instead) in: ${offenders.mkString(", ")}")
  }

  test("no file under src/main cuts lineage outside graft.Lineage") {
    val cut = """\blocalCheckpoint\s*\(|\.checkpoint\s*\(""".r
    val callers = scalaSources(Paths.get("src/main/scala"))
      .filter(f => f.getFileName.toString != "Lineage.scala" &&
        cut.findFirstIn(codeOnly(Files.readString(f))).isDefined)
      .map(_.toString).sorted
    assert(callers.isEmpty, "direct lineage cuts (call graft.Lineage.cut " +
      s"instead) in: ${callers.mkString(", ")}")
  }

  test("no file under src/main sets the checkpoint dir") {
    val callers = scalaSources(Paths.get("src/main/scala"))
      .filter(f => "setCheckpointDir\\s*\\(".r
        .findFirstIn(codeOnly(Files.readString(f))).isDefined)
      .map(_.toString).sorted
    assert(callers.isEmpty, s"setCheckpointDir called in: ${callers.mkString(", ")}")
  }
}
