package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench's total line names the entries that crashed instead of
  * silently summing the rest.
  */
class BenchSpec extends AnyFunSuite {

  private def parse(fields: String) = new ObjectMapper().readTree(s"{$fields}")

  test("total line: a crashed entry is listed in failed and left out of value") {
    val json = parse(Bench.totalFields(Seq("q_a" -> 1.5, "q_b" -> -1.0, "q_c" -> 2.25)))
    assert(json.get("metric").asText === "total")
    assert(json.get("unit").asText === "sec")
    assert(json.get("value").asDouble === 3.75)
    assert(json.get("queries").get("q_b").asDouble === -1.0)
    assert(json.get("queries").size === 3)
    val failed = json.get("failed")
    assert(failed.isArray && failed.size === 1 && failed.get(0).asText === "q_b")
  }

  test("total line: no crash gives an empty failed list") {
    val json = parse(Bench.totalFields(Seq("q_a" -> 1.0)))
    assert(json.get("failed").isArray && json.get("failed").size === 0)
    assert(json.get("value").asDouble === 1.0)
  }
}
