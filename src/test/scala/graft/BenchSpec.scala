package graft

import java.nio.file.Paths

import com.fasterxml.jackson.databind.ObjectMapper

class BenchSpec extends SparkSpec {

  test("the short final line stays JSON when the paths hold quotes and backslashes") {
    val file = """/tmp/per "query" \ run.json"""
    val sf = """C:\data\sf"0.1"""
    val js = new ObjectMapper().readTree(Bench.summaryLine(12.3456, 163, 2, file, 1, sf))
    assert(js.get("per_query_file").asText == file)
    assert(js.get("sf").asText == sf)
    assert(js.get("value").asDouble == 12.346)
    assert(js.get("nqueries").asInt == 163 && js.get("nfailures").asInt == 2)
  }

  test("the per-query file is named for the CPU count unless overridden") {
    assert(Bench.perQueryPath(Map.empty, "32") == "bench_per_query_c32.json")
    assert(Bench.perQueryPath(Map.empty, "8") == "bench_per_query_c8.json")
    assert(Bench.perQueryPath(Map("SPARK_GRAFT_BENCH_JSON" -> "/tmp/b.json"), "8") ==
      "/tmp/b.json")
  }

  test("the warm step leaves the benchmark dir's views registered, not the warm dir's") {
    val warmDir = Paths.get(sfDir).resolveSibling("sf0.01").toString
    val s = spark.newSession()
    val dirs = scala.collection.mutable.ArrayBuffer[String]()
    Bench.warm(s, sfDir, warmDir, Seq { (sp, d) =>
      dirs += d
      SparkEntry.queries("q01_scan")(sp, d)
    })
    assert(dirs.toSeq === Seq(warmDir))
    // the first timed query finds sfDir registered and pays no registration
    assert(Tables.registeredDir(s) === Some(sfDir))
  }
}
