package graft

import scala.util.{Failure, Success}

/** The bench's JSON line: a row that threw is an error, not a time. */
class BenchSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("a crashed row is reported as an error and left out of the total") {
    val json = Bench.rowsJson(Seq(
      "q_a" -> Success(1.5),
      "q_b" -> Failure(new RuntimeException("boom \"quoted\"\n")),
      "q_c" -> Success(0.25)))
    // the message is escaped: a backslash before each quote, the newline as
    // backslash-u000a
    val escaped = "boom \\\"quoted\\\"\\" + "u000a"
    assert(json ===
      """"value":1.750,"queries":{"q_a":1.500,"q_c":0.250},""" +
      s""""errors":{"q_b":"java.lang.RuntimeException: $escaped"}""")
  }
}
