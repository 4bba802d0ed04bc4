package graft.jobs

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class ExtractMainSpec extends AnyFunSuite {

  test("the result line is valid JSON for a run id with a quote and a backslash") {
    val runId = "r\"1\\x"
    val node = new ObjectMapper().readTree(ExtractMain.resultLine(runId, 42L))
    assert(node.get("run_id").asText() == runId)
    assert(node.get("committed_docs").asLong() == 42L)
  }
}
