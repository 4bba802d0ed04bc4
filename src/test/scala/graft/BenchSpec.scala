package graft

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import graft.jobs.MetricsSink.decimal
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the result line is valid JSON under a decimal-comma locale and for any sf path") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(decimal(12345.6789, 3) == "12345.679")
      assert(decimal(0.5, 1) == "0.5")
      val sfDir = "/data/sf\"0.01\\x"
      val line = Bench.resultLine(12345.6789, s"""{"q1":${decimal(1.25, 3)},"rate":${decimal(7.0, 1)}}""", sfDir)
      val node = new ObjectMapper().readTree(line)
      assert(node.get("value").asDouble() == 12345.679)
      assert(node.get("queries").get("q1").asDouble() == 1.25)
      assert(node.get("queries").get("rate").asDouble() == 7.0)
      assert(node.get("sf").asText() == sfDir)
    } finally Locale.setDefault(saved)
  }
}
