package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout env note: escaped first, then cut, so a quote- or
  * backslash-dense `SPARK_GRAFT_ENV_NOTE` cannot grow the line or break
  * its JSON.
  */
class BenchSpec extends AnyFunSuite {
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  test("env_note: escaped then cut to 60 chars, never mid-escape, line stays JSON") {
    val notes = Seq(
      "\"\\" * 120,
      "a\"b\\c\nd\te" * 30,
      "\u0001" * 100,
      "x" * 59 + "\"" + "y" * 10,
      "😀" * 40,
      "plain note")
    notes.foreach { raw =>
      val note = Bench.jescTake(raw, 60)
      assert(note.length <= 60, s"note grew to ${note.length} chars")
      val line = s"""{"metric":"total","env_note":"$note"}"""
      val parsed = json.readTree(line).get("env_note").asText()
      assert(raw.startsWith(parsed), s"cut note is not a prefix of the raw note: $parsed")
    }
    assert(Bench.jescTake("plain note", 60) == "plain note")
    // a quote that would straddle the limit is dropped whole
    assert(Bench.jescTake("x" * 59 + "\"", 60) == "x" * 59)
  }
}
