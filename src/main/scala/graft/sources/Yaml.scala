package graft.sources

import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.LoaderOptions
import org.yaml.snakeyaml.constructor.SafeConstructor
import org.yaml.snakeyaml.error.YAMLException

/** The engine's config reader (S4 — the reference loads a flat budget
  * map with `yaml.safe_load`, compare_budget.py:12-25). Config files are
  * tiny and read once on the driver — exactly how the reference treats
  * them — so this is plain Scala, not a DataFrame source; the parsed
  * values feed literal DataFrames.
  *
  * Parsing is SnakeYAML's safe constructor, the JVM twin of
  * `yaml.safe_load`: YAML 1.1 scalars, plain Java values (maps keep key
  * order, lists, strings, numbers, booleans, null), no arbitrary
  * classes. Malformed YAML raises IllegalArgumentException.
  */
object Yaml {

  /** The document as plain Java values: `java.util.Map` (key order
    * kept), `java.util.List`, String, Integer/Long, Double, Boolean or
    * null. */
  def parse(text: String): Any =
    try new org.yaml.snakeyaml.Yaml(new SafeConstructor(new LoaderOptions)).load[Any](text)
    catch { case e: YAMLException => throw new IllegalArgumentException(e.getMessage, e) }

  /** Flat budget map `categoria: orçado` (compare_budget.py:12-25): null
    * values skipped, everything else coerced to Double — same contract as
    * the reference's load_budget. */
  def budget(text: String): Seq[(String, Double)] = parse(text) match {
    case null => Nil
    case m: java.util.Map[_, _] => m.asScala.toSeq.collect {
      case (k, v: Number) => k.toString -> v.doubleValue
      case (k, v: String) => k.toString -> v.toDouble
      case (k, v) if v != null => throw new IllegalArgumentException(
        s"budget value for $k is not a number: $v")
    }
    case other => throw new IllegalArgumentException(s"expected a budget map, got $other")
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
