package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Yaml

/** S4 — the config reader against the two config shapes the reference
  * actually loads (budget map, clients registry) plus the syntax corners
  * they rely on, as `yaml.safe_load` reads them. */
class YamlSpec extends AnyFunSuite {

  private def map(v: Any): Map[Any, Any] = v match {
    case m: java.util.Map[_, _] => m.asScala.toMap
    case other => fail(s"expected map, got $other")
  }
  private def items(v: Any): Seq[Any] = v match {
    case xs: java.util.List[_] => xs.asScala.toSeq
    case other => fail(s"expected list, got $other")
  }

  test("flat budget map: ordered entries, null skip, numeric coercion") {
    val b = Yaml.budget(
      """# monthly budget
        |Mercado: 1500.0
        |Transporte: 400
        |Lazer: null
        |"Contas fixas": 2200.50
        |""".stripMargin)
    assert(b === Seq("Mercado" -> 1500.0, "Transporte" -> 400.0,
      "Contas fixas" -> 2200.5))
  }

  test("clients registry: nested lists of maps with inline arrays flatten") {
    val rows = for {
      client <- items(map(Yaml.parse(Yaml.readConfig("/clients_registry.yaml")))("clients"))
      cm = map(client)
      bank <- items(cm("banks"))
      bm = map(bank)
      doc <- items(bm("doc_types"))
    } yield (cm("slug"), cm("display_name"), bm("code"), bm("name"), doc)
    assert(rows.size === 5)
    assert(rows.head === (("cruz_raulino_familia", "Família Cruz Raulino", "bb",
      "Banco do Brasil", "extratos")))
    assert(rows.map(_._3).distinct === Seq("bb", "bradesco", "cef"))
    assert(rows.count(_._1 == "cruz_raulino_familia") === 4)
  }

  test("scalars: quotes, booleans, numbers, comments, inline lists") {
    val m = map(Yaml.parse(
      """name: "quoted # not comment"
        |plain: hello world   # trailing comment
        |flag: true
        |off: false
        |n: -3.5e2
        |empty:
        |xs: [1, "two", three]
        |""".stripMargin))
    assert(m("name") === "quoted # not comment")
    assert(m("plain") === "hello world")
    assert(m("flag") === true)
    // YAML 1.1, as yaml.safe_load reads it: the key `off` is a boolean
    assert(m(false) === false)
    assert(m("n") === -350.0)
    assert(m("empty") === null)
    assert(items(m("xs")) === Seq(1, "two", "three"))
  }

  test("q08 budget resource parses to the gate's six categories") {
    val b = Yaml.budget(Yaml.readConfig("/graft/budget_segments.yaml"))
    assert(b.size === 6)
    assert(b.toMap.apply("AEROSPACE") === 1000000.0)
    assert(b.head._1 === "AUTOMOBILE")
  }

  test("unsupported constructs fail loudly") {
    intercept[IllegalArgumentException](Yaml.parse("a:\n\tb: 1"))
    intercept[IllegalArgumentException](Yaml.parse("xs: [1, 2"))
  }
}
