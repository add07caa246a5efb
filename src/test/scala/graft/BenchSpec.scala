package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("cpus is echoed into the bench line as valid JSON, whatever the env holds") {
    assert(Bench.cpusJson("8") == "8")
    assert(Bench.cpusJson("*") == "\"*\"")
    assert(Bench.cpusJson("08") == "\"08\"")
    Seq("", "8\"", "eight", "4,\"x\":1", "8 ").foreach { v =>
      assert(Bench.cpusJson(v) == "\"invalid\"", v)
    }
  }

  test("strings in the bench line are escaped; plain paths print as before") {
    val plain = Bench.benchLine("/data/sf0.1", 3, "8", 8, """{"enabled":false}""", "{}",
      Bench.slopeBlock("/data/sf0.01", 10.0, 15.0, "{}"), """{"q1":1.5}""", "[]", "[]", 1.5)
    assert(plain == """{"sf":"/data/sf0.1","reps":3,"cpus":8,"default_parallelism":8,""" +
      """"shared":{"enabled":false},"sentinels":{},"slope":{"small_sf":"/data/sf0.01",""" +
      """"data_ratio":10.0,"threshold":15.0,"queries":{}},"queries":{"q1":1.5},""" +
      """"metric":"total","unit":"sec","slope_red":[],"failed":[],"value":1.5}""")

    val sf = "/data/a\"b\\c\nd\te\u0001/sf0.1"
    val small = "/data/\"q\"\\sf0.01"
    val name = "q\"1\\"
    val line = Bench.benchLine(sf, 3, "8", 8, """{"enabled":false}""", "{}",
      Bench.slopeBlock(small, 10.0, 15.0, "{}"), s"{${Bench.jsonString(name)}:1.5}",
      "[]", s"[${Bench.jsonString(name)}]", 1.5)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("sf").asText == sf)
    assert(json.get("slope").get("small_sf").asText == small)
    assert(json.get("queries").get(name).asDouble == 1.5)
    assert(json.get("failed").get(0).asText == name)
    assert(json.get("value").asDouble == 1.5)
  }
}
