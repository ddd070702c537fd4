package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Yaml
import graft.sources.Yaml._

/** S4 — the YAML-subset reader against the two config shapes the
  * reference actually loads (budget map, clients registry) plus the
  * syntax corners they rely on. */
class YamlSpec extends AnyFunSuite {

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
    def items(v: YValue) = v match {
      case YList(xs) => xs
      case other => fail(s"expected list, got $other")
    }
    def str(v: YValue) = v match {
      case YStr(s) => s
      case other => fail(s"expected string, got $other")
    }
    val rows = for {
      client <- items(Yaml.parse(Yaml.readConfig("/clients_registry.yaml")).asMap("clients"))
      cm = client.asMap
      bank <- items(cm("banks"))
      bm = bank.asMap
      doc <- items(bm("doc_types"))
    } yield (str(cm("slug")), str(cm("display_name")), str(bm("code")),
      str(bm("name")), str(doc))
    assert(rows.size === 5)
    assert(rows.head === (("cruz_raulino_familia", "Família Cruz Raulino", "bb",
      "Banco do Brasil", "extratos")))
    assert(rows.map(_._3).distinct === Seq("bb", "bradesco", "cef"))
    assert(rows.count(_._1 == "cruz_raulino_familia") === 4)
  }

  test("scalars: quotes, booleans, numbers, comments, inline lists") {
    val m = Yaml.parse(
      """name: "quoted # not comment"
        |plain: hello world   # trailing comment
        |flag: true
        |off: false
        |n: -3.5e2
        |empty:
        |xs: [1, "two", three]
        |""".stripMargin).asMap
    assert(m("name") === YStr("quoted # not comment"))
    assert(m("plain") === YStr("hello world"))
    assert(m("flag") === YBool(true))
    assert(m("off") === YBool(false))
    assert(m("n") === YNum(-350.0))
    assert(m("empty") === YNull)
    assert(m("xs") === YList(Seq(YNum(1), YStr("two"), YStr("three"))))
  }

  test("q08 budget resource parses to the gate's six categories") {
    val b = Yaml.budget(Yaml.readConfig("/graft/budget_segments.yaml"))
    assert(b.size === 6)
    assert(b.toMap.apply("AEROSPACE") === 1000000.0)
    assert(b.head._1 === "AUTOMOBILE")
  }

  test("unsupported constructs fail loudly") {
    intercept[IllegalArgumentException](Yaml.parse("a:\n\tb: 1"))
    intercept[IllegalArgumentException](Yaml.parse("xs: [1, 2").asMap("xs"))
  }
}
