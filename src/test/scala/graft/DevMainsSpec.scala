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
  * pins the operator surface: a public operator in `ext/`,
  * `operators/`, `streaming/` or `lake/` that nothing in the engine or
  * the benchmark calls is deleted, narrowed to `private[graft]`, or
  * listed with its reason. */
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

  /** Public defs that only specs and the restart soak reach, each kept
    * on purpose: operator entry points the specs audit, and the
    * reference's catalog DDL on the trusted parquet table. */
  private val surfaceAllowlist = Map(
    "Dedup.minhashNearDupCandidates" ->
      "PlanSpec audits d07's lazy candidate plan through it",
    "TextStats.sequencePackingAuto" ->
      "the auto-scaling entry point: shard count from plan stats",
    "TextStats.scoreHashedLogReg" ->
      "PlanSpec audits the exchange-free scoring plan d35 inlines",
    "AnnIndexStreaming.annIndexStream" ->
      "the no-retrain ANN writer the restart soak drives",
    "ParquetTableFormat.createExternalTable" ->
      "the reference's S12 external-table DDL + MSCK over a lake dir",
    "ParquetTableFormat.repairTable" ->
      "the reference's MSCK REPAIR after files land behind the catalog",
    "ParquetTableFormat.evolveTable" ->
      "the reference's evoluir_schema ALTER TABLE ADD COLUMNS")

  /** `src` with comments and string literals blanked, line breaks kept —
    * a name inside a doc link or an error message is not a caller. */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder(src.length)
    def blank(from: Int, until: Int): Int = {
      var i = from
      while (i < until) { out += (if (src(i) == '\n') '\n' else ' '); i += 1 }
      until
    }
    def skipString(from: Int): Int = { // from: index of the opening quote
      if (src.startsWith("\"\"\"", from)) {
        var end = src.indexOf("\"\"\"", from + 3) + 3
        while (end < src.length && src(end) == '"') end += 1
        end
      } else {
        var i = from + 1
        while (src(i) != '"' && src(i) != '\n') i += (if (src(i) == '\\') 2 else 1)
        i + 1
      }
    }
    var i = 0
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val nl = src.indexOf('\n', i)
        i = blank(i, if (nl < 0) src.length else nl)
      } else if (src.startsWith("/*", i)) {
        var depth = 1; var j = i + 2
        while (depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        i = blank(i, j)
      } else if (src(i) == '"') i = blank(i, skipString(i))
      else if (src(i) == '\'' && i + 2 < src.length &&
          (src(i + 2) == '\'' || src(i + 1) == '\\'))
        i = blank(i, src.indexOf('\'', if (src(i + 1) == '\\') i + 3 else i + 2) + 1)
      else { out += src(i); i += 1 }
    }
    out.toString
  }

  private val Token = """[{}]|\bdef\s+([A-Za-z_]\w*)""".r
  private val TemplateHead = """\b(object|class|trait)\s+\w+""".r
  private val Hidden = """\b(private|protected|override)\b""".r

  /** (`Object.name`, name) of every public, non-override member def:
    * every enclosing brace opens a non-private object, class or trait
    * (a def inside a method body or a `new` block is local). */
  private def publicDefs(code: String): Seq[(String, String)] = {
    val enclosing = scala.collection.mutable.Stack.empty[Option[String]]
    Token.findAllMatchIn(code).toSeq.flatMap { m =>
      m.matched match {
        case "{" =>
          val head = code.substring(
            Seq(';', '{', '}', '=').map(code.lastIndexOf(_, m.start - 1)).max + 1,
            m.start)
          val template = TemplateHead.findFirstMatchIn(head)
            .filter(_ => !head.contains("new ") && Hidden.findFirstIn(head).isEmpty)
          enclosing.push(template.map(_.matched.split("\\s+").last))
          Nil
        case "}" => enclosing.pop(); Nil
        case _ =>
          val line = code.substring(code.lastIndexOf('\n', m.start) + 1, m.start)
          if (enclosing.isEmpty || enclosing.exists(_.isEmpty) ||
              Hidden.findFirstIn(line).isDefined) Nil
          else Seq((s"${enclosing.top.get}.${m.group(1)}", m.group(1)))
      }
    }
  }

  test("every public operator in ext, operators, streaming and lake has a caller in the engine or the benchmark, or an allowlisted reason") {
    val code = (scalaSources(Paths.get("src/main/scala")) ++
        scalaSources(Paths.get("perfbench/src")))
      .map(f => f -> codeOnly(Files.readString(f))).toMap
    val defs = code.toSeq
      .filter { case (f, _) =>
        """/graft/(ext|operators|streaming|lake)/""".r.findFirstIn(f.toString).isDefined }
      .flatMap { case (_, c) => publicDefs(c) }
    // a name is used where it appears as a whole token, minus its def sites
    def counts(tokens: Iterator[String]) =
      tokens.toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val tokens = counts(code.values.iterator.flatMap("""[\w$]+""".r.findAllIn(_)))
    val defSites = counts(code.values.iterator.flatMap(c =>
      """\bdef\s+([\w$]+)""".r.findAllMatchIn(c).map(_.group(1))))
    val uncalled = defs.collect {
      case (q, n) if tokens.getOrElse(n, 0) == defSites.getOrElse(n, 0) => q
    }.toSet
    val unlisted = (uncalled -- surfaceAllowlist.keySet).toSeq.sorted
    val stale = (surfaceAllowlist.keySet -- uncalled).toSeq.sorted
    assert(surfaceAllowlist.size < 10)
    assert(unlisted.isEmpty, "public defs with no caller in src/main or " +
      s"perfbench/src: ${unlisted.mkString(", ")}")
    assert(stale.isEmpty, "allowlisted defs that now have a caller or are " +
      s"gone: ${stale.mkString(", ")}")
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
        .findFirstIn(Files.readString(f)).isDefined)
      .map(_.toString).sorted
    assert(callers.isEmpty, s"setCheckpointDir called in: ${callers.mkString(", ")}")
  }
}
