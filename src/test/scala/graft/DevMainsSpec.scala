package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` carries only the entry points the project runs: the
  * verify and bench mains (`Verify`, `Bench`), the plan dumper, the two
  * workers the crash specs fork, and the staged-commit bench. A single-use probe
  * main belongs in a scratch checkout, not in the engine; the per-layer
  * span tracer under `perfbench/` does the timing such probes did.
  *
  * The same source scan keeps the engine off SparkContext-global
  * checkpoint state: the reliable-vs-local lineage cut reads the
  * session's checkpoint dir (`graft.Lineage`) and never sets it. */
class DevMainsSpec extends AnyFunSuite {

  private val allowed = Set(
    "graft.Bench", "graft.Verify",
    "graft.tools.Explain", "graft.tools.SoakWorker",
    "graft.tools.LogTableCrashWorker", "graft.tools.StagedCommitBench")

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

  test("no file under src/main sets the checkpoint dir") {
    val callers = scalaSources(Paths.get("src/main/scala"))
      .filter(f => "setCheckpointDir\\s*\\(".r
        .findFirstIn(Files.readString(f)).isDefined)
      .map(_.toString).sorted
    assert(callers.isEmpty, s"setCheckpointDir called in: ${callers.mkString(", ")}")
  }
}
