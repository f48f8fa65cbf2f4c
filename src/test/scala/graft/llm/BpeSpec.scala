package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import graft.mr.TestSession
import scala.jdk.CollectionConverters._

/** Semantics of the BPE vocabulary-induction operator (t20/t21). */
class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  test("t20: merges are sequential, well-formed, and frequency-ordered per round") {
    val m = Bpe.merges(spark, sf)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    assert(m.length == Bpe.Merges)
    assert(m.map(_._1).toSeq == (1 to Bpe.Merges))
    m.foreach { case (_, a, b, merged, cnt) =>
      assert(merged == a + b)
      assert(a != b, "self-pairs are ineligible by spec")
      assert(cnt > 0)
      assert(!a.contains("~") && !b.contains("~"))
    }
    // a learned symbol is reusable: at least one later merge consumes an
    // earlier round's product (the corpus reconstructs real words — the
    // whole point of learning)
    val products = m.map(_._4).toSet
    assert(m.exists(x => products.contains(x._2) || products.contains(x._3)),
      "no merge ever consumed a learned symbol — not actually iterating")
  }

  test("t20: deterministic across runs") {
    val a = Bpe.merges(spark, sf).collect().map(_.toString).sorted.toSeq
    val b = Bpe.merges(spark, sf).collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("t21: segmentation preserves total character mass") {
    // every corpus character ends up in exactly one vocab token:
    // Σ freq·len(token) over the vocab == Σ len(word) over all word
    // occurrences — merging only ever concatenates, never drops
    val vocabMass = Bpe.vocab(spark, sf)
      .as[(String, Long)].collect().map { case (t, f) => t.length * f }.sum
    val corpusMass = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(
        Hashing.tokens(org.apache.spark.sql.functions.col("text"))).as("w"))
      .selectExpr("CAST(SUM(length(w)) AS LONG)").as[Long].head()
    assert(vocabMass == corpusMass)
  }

  test("t23: per-doc learned-token counts sum to the t21 vocab mass") {
    // the same segmentation viewed doc-wise and vocab-wise: totals agree
    val docTotal = Bpe.docTokens(spark, sf)
      .selectExpr("CAST(SUM(n_bpe_tokens) AS LONG)").as[Long].head()
    val vocabTotal = Bpe.vocab(spark, sf)
      .selectExpr("CAST(SUM(freq) AS LONG)").as[Long].head()
    assert(docTotal == vocabTotal)
    // bounds: every word is at least one symbol (merges never cross word
    // boundaries), so a doc's learned-token count ≥ its word count
    val over = Bpe.docTokens(spark, sf).as[(Long, Long)].collect().toMap
    val words = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.size(
          Hashing.tokens(org.apache.spark.sql.functions.col("text"))).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    over.foreach { case (id, nBpe) =>
      assert(nBpe >= words(id),
        s"doc $id: $nBpe symbols < ${words(id)} words — a merge crossed a word boundary")
    }
  }

  test("t24: held-out segmentation covers exactly the 20% split within sane bounds") {
    val rows = Bpe.heldoutTokens(spark, sf).as[(Long, Long)].collect().toMap
    val words = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.size(
          Hashing.tokens(org.apache.spark.sql.functions.col("text"))).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    val heldOut = words.keySet.filter(_ % 5 >= 4)
    assert(rows.keySet == heldOut, "t24 must score exactly the held-out docs")
    rows.foreach { case (id, nBpe) =>
      assert(nBpe >= words(id), s"doc $id: fewer symbols than words")
      // and replay genuinely merged something (char-count upper bound is
      // strict unless NO merge ever applies to held-out text)
    }
    val charMass = graft.Tables.documents(spark, sf)
      .where(org.apache.spark.sql.functions.col("doc_id") % 5 >= 4)
      .select(org.apache.spark.sql.functions.explode(
        Hashing.tokens(org.apache.spark.sql.functions.col("text"))).as("w"))
      .selectExpr("CAST(SUM(length(w)) AS LONG)").as[Long].head()
    assert(rows.values.sum < charMass,
      "no learned merge applied to ANY held-out word — replay inert")
  }

  test("BPE queries leave zero persisted-RDD residue (checkpoint rotation + final release)") {
    // the learn loop rotates its word-table checkpoint and releases it
    // before every query returns, including the vocab/tokenIds
    // histogram collect
    def residue[A](body: => A): Set[Int] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      body
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    }
    assert(residue(Bpe.merges(spark, sf).collect()).isEmpty, "t20 leaked")
    assert(residue(Bpe.vocab(spark, sf).collect()).isEmpty, "t21 leaked")
    assert(residue(Bpe.docTokens(spark, sf).collect()).isEmpty, "t23 leaked")
    assert(residue(Bpe.heldoutTokens(spark, sf).collect()).isEmpty, "t24 leaked")
    assert(residue(Bpe.tokenIds(spark, sf).collect()).isEmpty, "t25 leaked")
    assert(residue(Bpe.bpeSeqPack(spark, sf).collect()).isEmpty, "t26 leaked")
  }

  test("t21/t25 frames hold no checkpoint: released on return, re-materializable") {
    // the returned frame is not tied to any learn-loop block: the
    // persisted-RDD set is back to its start as soon as the call
    // returns, and later actions give the same rows. The later actions
    // plan afresh: re-collecting the same frame would reuse its first
    // run's shuffle output instead of re-reading its sources
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def twice(label: String, make: => org.apache.spark.sql.DataFrame): Unit = {
      val before = persisted
      val df = make
      assert(persisted == before, s"$label left a persisted RDD behind")
      val first = rows(df)
      assert(first.nonEmpty)
      assert(rows(df.select("*")) == first, s"$label: second action differs")
      assert(df.count() == first.size, s"$label: third action differs")
    }
    twice("t21", Bpe.vocab(spark, sf))
    twice("t25", Bpe.tokenIds(spark, sf))
  }

  test("no src/main/scala/graft/llm code registers listeners, forces GC or holds weak refs") {
    // learned artifacts are released deterministically before a query
    // returns; doc comments may still name the primitives
    val banned = Seq("listenerManager", "addSparkListener", "System.gc", "WeakReference")
    val root = java.nio.file.Paths.get("src/main/scala/graft/llm")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found from ${root.toAbsolutePath}")
    val stream = java.nio.file.Files.walk(root)
    val offenders = try stream.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if !Seq("//", "/*", "*").exists(line.trim.startsWith) &&
              banned.exists(line.contains) =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally stream.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("t25: token ids reconstruct the scrubbed corpus text exactly") {
    import org.apache.spark.sql.functions.{col, explode}
    // id -> token string (rebuild the dictionary the ids index into)
    val vocabRank = Bpe.vocab(spark, sf).as[(String, Long)].collect()
      .sortBy { case (t, f) => (-f, t) }.map(_._1)
    val idOf = vocabRank.zipWithIndex.map { case (t, i) => (i + 1, t) }.toMap
    val rows = Bpe.tokenIds(spark, sf)
      .as[(Long, Int, Int, Int)].collect()
    // per (doc, word): symbols concatenated in spos order == the word
    val words = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), org.apache.spark.sql.functions.posexplode(
        Hashing.tokens(col("text"))))
      .as[(Long, Int, String)].collect()
      .map { case (d, p, w) => (d, p + 1) -> w }.toMap
    rows.groupBy(r => (r._1, r._2)).foreach { case ((d, wp), toks) =>
      val rebuilt = toks.sortBy(_._3).map(t => idOf(t._4)).mkString
      assert(rebuilt == words((d, wp)),
        s"doc $d word $wp: ids rebuild '$rebuilt' != '${words((d, wp))}'")
    }
    // total mass identity: every corpus char lands in exactly one token
    val mass = rows.map(r => idOf(r._4).length.toLong).sum
    val corpusMass = words.values.map(_.length.toLong).sum
    assert(mass == corpusMass)
  }

  test("t26: BPE-budget packing moves sequence boundaries vs whitespace packing") {
    val bpe = Bpe.bpeSeqPack(spark, sf).select("doc_id", "seq_no")
      .as[(Long, Long)].collect().toMap
    val ws = graft.llm.Mixture.seqPack(spark, sf, 256).select("doc_id", "seq_no")
      .as[(Long, Long)].collect().toMap
    assert(bpe.keySet == ws.keySet)
    assert(bpe != ws, "BPE counts changed no window boundary — packing gate inert")
    // BPE tokens dominate whitespace tokens, so windows fill faster:
    // every doc's BPE seq_no is >= its whitespace seq_no
    bpe.foreach { case (id, s) =>
      assert(s >= ws(id), s"doc $id: bpe seq $s < whitespace seq ${ws(id)}")
    }
  }

  test("reserved chars: learn survives and all-reserved words scrub to zero symbols") {
    // '~' (marker) and '|' are scrubbed from every word before learning,
    // so no learned symbol contains either and the word-table count is
    // total on ANY input — including words made entirely of reserved
    // chars (empty symbol list: the slice guard), empty text, space
    // runs, and reserved chars embedded in real words (the r13 ADVICE
    // divergences)
    val docs = Seq(
      (0L, "hello world hello world hello"),
      (1L, "a~b c|d hello world"),
      (2L, "~~~ ||| ~|~ hello"),
      (3L, ""),
      (4L, "   "),
      (5L, "x  y~ |hello world|")
    ).toDF("doc_id", "text")
    val learned = Bpe.learnDf(docs)
    learned.foreach { m =>
      assert(!m.a.contains("~") && !m.a.contains("|") &&
        !m.b.contains("~") && !m.b.contains("|"), "reserved char in a learned symbol")
    }
    // the word-table path has no rows for token-less docs; they count 0
    val tableCounts = Bpe.docTokensDf(docs)
      .as[(Long, Long)].collect().toMap.withDefaultValue(0L)
    // the all-reserved words really did scrub to zero symbols
    assert(tableCounts(2L) == 1L, "doc 2 has exactly one real word")
  }

  test("t21: every learned merged symbol that survives segmentation is in the vocab domain") {
    val vocab = Bpe.vocab(spark, sf).as[(String, Long)].collect().toMap
    // single chars + learned products cover the whole vocab
    val merged = Bpe.merges(spark, sf).select("merged").as[String].collect().toSet
    vocab.keys.foreach { t =>
      assert(t.length == 1 || merged.contains(t),
        s"vocab token '$t' is neither a base char nor a learned merge")
    }
  }
}
