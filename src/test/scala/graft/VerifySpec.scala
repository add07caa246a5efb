package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class VerifySpec extends AnyFunSuite {

  test("jsonObject escapes keys and values so Jackson reads them back unchanged") {
    val entries = Seq(
      "q\"1" -> "SELECT \"a\" FROM t",
      "back\\slash" -> "a\\b",
      "line\nbreak" -> "x\ny\tz",
      "bell\b" -> "ctl\u0001",
      "plain" -> "")
    val json = Verify.jsonObject(entries)
    val tree = new ObjectMapper().readTree(json)
    assert(tree.fieldNames().asScala.toSeq == entries.map(_._1))
    entries.foreach { case (k, v) => assert(tree.get(k).asText() == v) }
    assert(json.contains("\"bell\\b\"") && json.contains("\"ctl\\u0001\""))
    assert(Verify.jsonObject(Nil) == "{}")
  }
}
