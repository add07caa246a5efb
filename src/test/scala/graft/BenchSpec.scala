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
}
