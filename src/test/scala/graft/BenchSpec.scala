package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("summaryLine is one JSON object of at most 500 characters with the run's keys") {
    val line = Bench.summaryLine(154.4, 166, 0, "testdata/sf0.1", "8", 2, 2)
    assert(!line.contains("\n") && line.length <= 500, line)
    val j = mapper.readTree(line)
    assert(j.get("total").asDouble() === 154.4)
    assert(j.get("n_ok").asInt() === 166 && j.get("n_err").asInt() === 0)
    assert(j.get("sf").asText() === "testdata/sf0.1")
    assert(j.get("cpus").asInt() === 8)
    assert(j.get("n_runs").asInt() === 2 && j.get("n_sessions").asInt() === 2)
  }

  test("summaryLine stays within 500 characters for any directory or core string") {
    val nasty = "\u0001\"\\" * 400
    val line = Bench.summaryLine(-1.2345678901234567e-300, Int.MinValue, Int.MaxValue,
      nasty, nasty, Int.MinValue, Int.MinValue)
    assert(line.length <= 500, s"${line.length}: $line")
    val j = mapper.readTree(line)
    assert(nasty.endsWith(j.get("sf").asText()))
    assert(j.get("cpus").isTextual)
  }
}
