package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the short final line stays JSON when the paths hold quotes and backslashes") {
    val file = """/tmp/per "query" \ run.json"""
    val sf = """C:\data\sf"0.1"""
    val js = new ObjectMapper().readTree(Bench.summaryLine(12.3456, 163, 2, file, 1, sf))
    assert(js.get("per_query_file").asText == file)
    assert(js.get("sf").asText == sf)
    assert(js.get("value").asDouble == 12.346)
    assert(js.get("nqueries").asInt == 163 && js.get("nfailures").asInt == 2)
  }
}
