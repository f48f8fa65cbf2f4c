package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.mr.TestSession

/** Semantics of duplicated-span detection/removal (d27/d28) on corpora
  * where the ground truth is hand-checkable.
  */
class SpanDedupSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  private def spans(d: org.apache.spark.sql.DataFrame, k: Int) =
    SpanDedup.dupSpansDf(d, k).as[(Long, Int, Int, Int)].collect()
      .map { case (id, s, e, n) => (id, s, e, n) }.toSet

  // ten distinct filler tokens so no accidental cross-doc k-grams
  private val fillA = "a1 a2 a3 a4 a5"
  private val fillB = "b1 b2 b3 b4 b5"
  private val shared = "s1 s2 s3 s4"

  test("d27: a shared region surfaces as the same maximal span in both docs") {
    // the filler differs per doc, so ONLY the shared run is duplicated;
    // it sits at positions 6-9 in both docs (k=3 → starts 6,7)
    val d = docs(1L -> s"u1 u2 u3 u4 u5 $shared v1 v2 v3 v4 v5",
      2L -> s"w1 w2 w3 w4 w5 $shared x1 x2 x3 x4 x5")
    val got = spans(d, 3)
    assert(got == Set((1L, 6, 9, 4), (2L, 6, 9, 4)))
  }

  test("d27: within-doc repetition is duplication too") {
    val d = docs(1L -> s"$shared $fillA $shared")
    // "s1 s2 s3 s4" at 1-4 and 10-13; k=4 → single dup gram each
    assert(spans(d, 4) == Set((1L, 1, 4, 4), (1L, 10, 13, 4)))
  }

  test("d27: overlapping duplicated regions merge into one island") {
    // doc 1 shares tokens 1-6 with doc 2 AND 4-9 with doc 3; in doc 1 the
    // two regions overlap → one maximal span 1-9
    val d = docs(
      1L -> "x1 x2 x3 x4 x5 x6 x7 x8 x9",
      2L -> s"$fillA x1 x2 x3 x4 x5 x6",
      3L -> s"$fillB x4 x5 x6 x7 x8 x9")
    val got = spans(d, 3).filter(_._1 == 1L)
    assert(got == Set((1L, 1, 9, 9)))
  }

  test("d27: spans shorter than minTokens do not exist by construction") {
    val d = docs(1L -> s"$shared $fillA", 2L -> s"$shared $fillB")
    // shared run is 4 tokens; with k=5 no duplicated 5-gram exists
    assert(spans(d, 5).isEmpty)
  }

  test("d28: strip removes exactly the spans and leaves clean docs byte-identical") {
    val d = docs(1L -> s"u1 u2 u3 u4 u5 $shared v1 v2 v3 v4 v5",
      2L -> s"w1 w2 w3 w4 w5 $shared x1 x2 x3 x4 x5",
      3L -> "c1 c2 c3 c4 c5 c6 c7")
    val got = SpanDedup.stripSpansDf(d, 3)
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("u1 u2 u3 u4 u5 v1 v2 v3 v4 v5", 4)))
    assert(got(2L) == (("w1 w2 w3 w4 w5 x1 x2 x3 x4 x5", 4)))
    assert(got(3L) == (("c1 c2 c3 c4 c5 c6 c7", 0)))
  }

  test("d28: an exact duplicate pair strips to empty, and n_removed is the full length") {
    val d = docs(1L -> fillA, 2L -> fillA)
    val got = SpanDedup.stripSpansDf(d, 5)
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(1L -> (("", 5)), 2L -> (("", 5))))
  }

  test("d27/d28 agree: stripped token count equals the span-token total per doc") {
    val sf = "/root/testdata/sf0.001"
    val bySpans = SpanDedup.dupSpans(spark, sf, 8)
      .groupBy($"doc_id").sum("span_tokens")
      .as[(Long, Long)].collect().toMap
    val byStrip = SpanDedup.stripSpans(spark, sf, 8)
      .where($"n_removed" > 0)
      .select($"doc_id", $"n_removed").as[(Long, Int)].collect().toMap
    assert(byStrip.nonEmpty)
    assert(byStrip.keySet == bySpans.keySet)
    byStrip.foreach { case (id, n) => assert(n.toLong == bySpans(id)) }
  }

  test("d29: only train-side runs matching a BENCHMARK gram are flagged") {
    val bench = docs(100L -> s"b1 b2 b3 $shared b4 b5")
    val train = docs(
      1L -> s"u1 u2 u3 $shared u4 u5", // contains the benchmark's 4-gram
      2L -> "v1 v2 v3 v4 v5 v6 v7", // clean
      // 3 and 4 duplicate each OTHER — corpus dup, but NOT contamination
      3L -> "w1 w2 w3 w4 w5 w6",
      4L -> "w1 w2 w3 w4 w5 w6")
    val got = SpanDedup.contamSpansDf(train, bench, 4)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(got == Set((1L, 4, 7, 4)))
  }

  test("d29: a benchmark doc embedded whole in a train doc flags end to end") {
    val bench = docs(100L -> "e1 e2 e3 e4 e5")
    val train = docs(1L -> s"pre1 pre2 e1 e2 e3 e4 e5 post1")
    val got = SpanDedup.contamSpansDf(train, bench, 5)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(got == Set((1L, 3, 7, 5)))
  }

  test("d36: the bloom posture reproduces d29's answer exactly") {
    val bench = docs(100L -> "e1 e2 e3 e4 e5", 101L -> "f1 f2 f3 f4 f5 f6")
    val train = docs(1L -> "p1 p2 e1 e2 e3 e4 e5 p3",
      2L -> "q1 f2 f3 f4 f5 f6 q2 q3",
      3L -> "r1 r2 r3 r4 r5 r6 r7 r8")
    val exact = SpanDedup.contamSpansDf(train, bench, 5)
      .as[(Long, Int, Int, Int)].collect().toSet
    val sketch = SpanDedup.contamSpansBloomDf(train, bench, 5)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(exact.nonEmpty && sketch == exact)
  }

  test("d36: BloomMightContain is free of false negatives and actually filters") {
    val inserted = spark.range(0, 2000)
      .select((col("id") * 7919L + 13L).as("gk"))
    val bloom = inserted.stat.bloomFilter("gk", 2000, 0.01)
    // no false negatives: every inserted key probes true
    val fn = inserted
      .where(!graft.functions.BloomMightContain(bloom, col("gk")))
      .count()
    assert(fn == 0L, "bloom false negative")
    // the prefilter must do real work: foreign keys (disjoint by residue
    // mod 7919) mostly probe false — at fpp=0.01, ~100 of 10k pass
    val foreign = spark.range(0, 10000)
      .select((col("id") * 7919L + 17L).as("gk"))
    val passed = foreign
      .where(graft.functions.BloomMightContain(bloom, col("gk")))
      .count()
    assert(passed < 500, s"fp pass-through $passed of ~10000 — sketch inert?")
  }

  test("d27 plan: the gram stream shuffles 16-byte keys, never the text") {
    val plan = SpanDedup.dupSpans(spark, "/root/testdata/sf0.001", 8)
      .queryExecution.executedPlan.toString
    // text is consumed by the generator before any exchange
    assert(!plan.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("text")), plan)
  }
}
