package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s one result line, the record `tools/scale_report.py` reads
  * (`value`, `queries`, `failed`, `sf`, `cpus`). */
class BenchResultSpec extends AnyFunSuite {

  test("resultLine: a -1 row counts as failed and stays out of value; face rows count") {
    val line = Bench.resultLine(
      Seq("face:membership" -> 1.5, "q1_agg" -> 0.25, "x_kcore" -> -1.0, "x_pagerank" -> 1e-4),
      "perfbench/data/sf0.01", cpus = 4)
    val j = new ObjectMapper().readTree(line)
    assert(j.get("metric").asText == "total" && j.get("unit").asText == "sec")
    assert(j.get("value").asDouble == 1.5 + 0.25 + 1e-4)
    assert(j.get("failed").asInt == 1)
    assert(j.get("sf").asText == "perfbench/data/sf0.01")
    assert(j.get("cpus").isInt && j.get("cpus").asInt == 4)
    val qs = j.get("queries")
    assert(qs.size == 4)
    assert(qs.get("face:membership").asDouble == 1.5)
    assert(qs.get("x_kcore").asDouble == -1.0)
    assert(!line.contains("\n"))
  }
}
