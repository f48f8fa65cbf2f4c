package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout env note: escaped first, then cut, so a quote- or
  * backslash-dense `SPARK_GRAFT_ENV_NOTE` cannot grow the line or break
  * its JSON. And the file record: a subset run cannot overwrite the
  * full-inventory record.
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

  test("record file: a subset run writes only to an explicitly named file") {
    assert(Bench.recordFile(None, None) == Some("BENCH_local_latest.json"))
    assert(Bench.recordFile(None, Some("f.json")) == Some("f.json"))
    assert(Bench.recordFile(Some("d39,t20"), None) == None)
    assert(Bench.recordFile(Some("d39,t20"), Some("f.json")) == Some("f.json"))
    // an empty filter selects the whole inventory, so it is a full run
    assert(Bench.recordFile(Some(""), None) == Some("BENCH_local_latest.json"))
  }
}
