package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The compact bench line must stay valid JSON whatever the environment
  * hands it. */
class BenchSpec extends AnyFunSuite {

  private def parsedCpus(cpus: String) =
    new ObjectMapper().readTree(s"""{"cpus":${Bench.cpusJson(cpus)}}""").get("cpus")

  test("cpusJson: numeric values are numbers, anything else a string Jackson parses back") {
    assert(parsedCpus(" 8 ").isInt && parsedCpus(" 8 ").asInt() === 8)
    assert(parsedCpus("*").asText() === "*")
    val hostile = "4\" ,\"x\":\\ 1"
    val v = parsedCpus(hostile)
    assert(v.isTextual && v.asText() === hostile)
  }
}
