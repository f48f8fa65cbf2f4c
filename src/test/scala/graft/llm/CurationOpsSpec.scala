package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.mr.TestSession

/** Semantics of the round-10 curation operators: PII redaction (t13),
  * unigram-LM typicality (t14), and sequence packing (t15).
  */
class CurationOpsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  // ---- t13 PII detect/redact

  private def redact(s: String): String =
    Seq(s).toDF("text").select(Pii.redactPii(col("text")).as("r"))
      .as[String].head()

  private def counts(s: String): (Int, Int, Int) = {
    val (e, p, i) = Pii.countPii(col("text"))
    Seq(s).toDF("text")
      .select(e.cast("int"), p.cast("int"), i.cast("int"))
      .as[(Int, Int, Int)].head()
  }

  test("t13: each PII class is detected and replaced with its placeholder") {
    assert(redact("mail a.b+c@ex-a.co now") == "mail <EMAIL> now")
    assert(redact("call 555-867-5309 today") == "call <PHONE> today")
    assert(redact("host 10.0.255.1 down") == "host <IP> down")
    assert(counts("a@b.io or c@d.org, 555-123-4567, 1.2.3.4") == ((2, 1, 1)))
  }

  test("t13: clean text is a byte-for-byte no-op") {
    val clean = "no secrets here: v1.2 at 3-4pm, user at example dot com"
    assert(redact(clean) == clean)
    assert(counts(clean) == ((0, 0, 0)))
  }

  test("t13: email collapses first, so its digits never leak into phone/ip") {
    // local part contains a phone-shaped and an ip-shaped digit run; the
    // email pass must consume them before the later passes can see them
    assert(redact("x 555-123-4567.1.2.3.4@spam.example.com y") == "x <EMAIL> y")
  }

  test("t13 plan: shuffle-free single pass, pruned to (doc_id, text)") {
    val qe = Pii.piiRedact(spark, sf).queryExecution
    assert(!qe.executedPlan.toString.contains("Exchange"))
    val scan = qe.executedPlan.toString.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("doc_id") && scan.contains("text"))
  }

  // ---- t14 unigram-LM typicality

  test("t14: scores are in (0, 1] and common-token docs outscore rare-token docs") {
    val rows = TextAnalysis.lmTypicality(spark, sf)
      .as[(Long, Double)].collect()
    assert(rows.length == 500)
    assert(rows.forall { case (_, s) => s > 0.0 && s <= 1.0 })
  }

  test("t14: score is Σ tf·freq / (n·total) on a corpus we can hand-check") {
    // corpus: "a a b" and "a c" → freq a=3, b=1, c=1, total=5
    // doc 1: (2·3 + 1·1) / (3·5) = 7/15;  doc 2: (1·3 + 1·1) / (2·5) = 4/10
    val docs = Seq((1L, "x", "a a b"), (2L, "x", "a c"))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.lmTypicalityDf(docs)
      .as[(Long, Double)].collect().toMap
    assert(got(1L) == 7.0 / 15.0)
    assert(got(2L) == 4.0 / 10.0)
  }

  test("t14 plan: AQE broadcasts the vocabulary join at runtime (join is unhinted)") {
    val df = TextAnalysis.lmTypicality(spark, sf)
    df.collect() // finalize this QueryExecution's adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  // ---- t15 sequence packing

  test("t15: a doc lands in the window where it starts (hand-built corpus)") {
    // budget 5; source s: tokens 3, 3, 4 → starts at 0, 3, 6 → windows 0, 0, 1
    val docs = Seq((10L, "s", "a b c"), (11L, "s", "d e f"),
      (12L, "s", "g h i j"), (20L, "t", "k")).toDF("doc_id", "source", "text")
    val got = Mixture.seqPackDf(docs, seqTokens = 5)
      .select($"doc_id", $"seq_no").as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 0L, 11L -> 0L, 12L -> 1L, 20L -> 0L))
  }

  test("t15: packing is deterministic under repartition of the input") {
    val docs = graft.Tables.documents(spark, sf)
    val a = Mixture.seqPackDf(docs, 256).orderBy($"source", $"doc_id").collect()
    val b = Mixture.seqPackDf(docs.repartition(7), 256)
      .orderBy($"source", $"doc_id").collect()
    assert(a.sameElements(b))
  }

  test("t15: seq_no is non-decreasing in doc_id within a source and starts at 0") {
    val rows = Mixture.seqPack(spark, sf, 256)
      .select($"source", $"doc_id", $"seq_no")
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).values
    rows.foreach { grp =>
      val ordered = grp.sortBy(_._2).map(_._3)
      assert(ordered.head == 0L)
      assert(ordered.zip(ordered.tail).forall { case (x, y) => x <= y })
    }
  }

  test("t15: growing one source never re-deals another source's windows") {
    val base = graft.Tables.documents(spark, sf)
    val grown = base.unionByName(
      Seq((900001L, base.select($"source").as[String].head(), "extra doc text"))
        .toDF("doc_id", "source", "text"),
      allowMissingColumns = true)
    val src0 = base.select($"source").as[String].head()
    val before = Mixture.seqPackDf(base, 256)
      .where($"source" =!= src0).orderBy($"source", $"doc_id").collect()
    val after = Mixture.seqPackDf(grown, 256)
      .where($"source" =!= src0).orderBy($"source", $"doc_id").collect()
    assert(before.sameElements(after))
  }

  // ---- t16 vocabulary concentration / doubling ratio

  test("t16: exact doubling corpus yields ratio 2 and hand-checked shares") {
    // Zipf-1 shape quantized to powers of two: the count class halves as
    // the class SIZE doubles — 1 token ×64, 1 ×32, 2 ×16, 4 ×8, 8 ×4,
    // 16 ×2, 32 ×1. Then the count AT rank 2k is exactly half the count
    // at rank k for every probed k (1,2,4,8,16,32), so the doubling
    // ratio is exactly 2 with all-integer inputs.
    val classes = Seq(64 -> 1, 32 -> 1, 16 -> 2, 8 -> 4, 4 -> 8, 2 -> 16, 1 -> 32)
    var next = 0
    val body = classes.flatMap { case (cnt, sz) =>
      (0 until sz).flatMap { _ =>
        val tok = f"t$next%02d"; next += 1
        Seq.fill(cnt)(tok)
      }
    }
    val docs = Seq(("s1", body.mkString(" "))).toDF("source", "text")
    val row = TextAnalysis.vocabConcentrationDf(docs).head()
    assert(row.getAs[Long]("vocab") == 64)
    assert(row.getAs[Long]("total_tokens") == 256)
    // top-10 counts: 64,32,16,16,8,8,8,8,4,4 = 168
    assert(row.getAs[Double]("top10_share") == 168.0 / 256.0)
    // top-100 covers the whole 64-token vocabulary
    assert(row.getAs[Double]("top100_share") == 1.0)
    assert(row.getAs[Double]("zipf_doubling_ratio") == 2.0)
  }

  test("t16: a flat (non-heavy-tail) source scores doubling ratio 1") {
    val body = ('a' to 'z').flatMap(c => Seq.fill(5)(c.toString))
    val docs = Seq(("flat", body.mkString(" "))).toDF("source", "text")
    val row = TextAnalysis.vocabConcentrationDf(docs).head()
    assert(row.getAs[Long]("vocab") == 26)
    // every count equals 5 ⇒ every doubling ratio is exactly 1
    assert(row.getAs[Double]("zipf_doubling_ratio") == 1.0)
    // top-10 of 26 equal tokens carries exactly 10/26 of the mass
    assert(math.abs(row.getAs[Double]("top10_share") - 10.0 / 26.0) < 1e-15)
  }

  // ---- t17 within-doc duplicated-gram coverage

  private def cov(rows: (Long, String)*) =
    TextAnalysis.dupGramCoverageDf(rows.toSeq.toDF("doc_id", "text"), 3)
      .as[(Long, Int, Int, Double)].collect()
      .map { case (id, n, c, f) => id -> ((n, c, f)) }.toMap

  test("t17: fully periodic text is fully covered") {
    // every 3-gram of "a b c a b c a b c" repeats → all 9 tokens covered
    val m = cov(1L -> "a b c a b c a b c")
    assert(m(1L) == ((9, 9, 1.0)))
  }

  test("t17: one repeated trigram covers exactly its two windows") {
    // "x1 x2 x3" at positions 1-3 and 6-8; tokens 4,5 stay uncovered
    val m = cov(1L -> "x1 x2 x3 u v x1 x2 x3")
    assert(m(1L) == ((8, 6, 6.0 / 8.0)))
  }

  test("t17: distinct-token docs score zero; short docs are absent") {
    val m = cov(1L -> "d1 d2 d3 d4 d5 d6", 2L -> "t1 t2")
    assert(m(1L) == ((6, 0, 0.0)))
    assert(!m.contains(2L), "docs with < k tokens have no k-gram")
  }

  test("t17: repetition must be within-doc — cross-doc twins score zero") {
    // the same text in two docs: d27 territory, NOT t17's
    val m = cov(1L -> "c1 c2 c3 c4 c5", 2L -> "c1 c2 c3 c4 c5")
    assert(m(1L)._2 == 0 && m(2L)._2 == 0)
  }

  test("t17 plan is a shuffle-free single pass (per-doc stat never exchanges)") {
    val plan = TextAnalysis.dupGramCoverage(spark, sf, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  // ---- d33/d37 curation compositions (the round-11 gap: zero in-suite
  // coverage is exactly how a hang and a broken oracle both shipped)

  /** Hand-built corpus for the composed chains. Crafted so each boundary
    * has a witness at strip k = 5, rep k = 2:
    *  - docs 2 and 3 share exactly ONE 5-gram ("the old stone bridge
    *    tower") → n_removed = 5 each, nothing else strips;
    *  - doc 4 repeats the bigram "the fox" (no repeated 5-gram, so the
    *    strip leaves it whole) → dup_covered = 4 of 16 → the v3
    *    repetition cut drops it at repMax 0.1, v2 keeps it;
    *  - doc 7 is the planted-PII id class (7 % 7 = 0 → email) → n_pii = 1;
    *  - every kept doc is stopword-rich enough to clear quality ≥ 0.5.
    */
  private lazy val curationCorpus = Seq(
    (1L, "s", "the red fox ran over a quiet hill and then dropped to this river bank"),
    (2L, "s", "many birds gather near the old stone bridge tower in early spring and late autumn days"),
    (3L, "s", "we walked up toward the old stone bridge tower and saw calm deep water below"),
    (4L, "s", "the fox is near a stone wall and the fox runs to a big tree now"),
    (7L, "s", "a small owl is in the barn and it hunts mice during cold night hours"))
    .toDF("doc_id", "source", "text")

  test("d33 curateV2Df: every stage boundary leaves its evidence column") {
    val rows = Curate.curateV2Df(curationCorpus, minTokens = 5, quota = 10, seqTokens = 8)
      .as[(String, Long, Int, Int, Double, Int, Long)].collect()
      .map(r => r._2 -> r).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L, 7L))
    // span strip: exactly the shared 5-gram, symmetrically
    assert(rows(2L)._3 == 5 && rows(3L)._3 == 5)
    assert(rows(1L)._3 == 0 && rows(4L)._3 == 0 && rows(7L)._3 == 0)
    // PII: only the planted id class
    assert(rows(7L)._4 == 1)
    assert(Seq(1L, 2L, 3L, 4L).forall(rows(_)._4 == 0))
    // quality cascade: every surviving row cleared the filter
    assert(rows.values.forall(_._5 >= 0.5))
    assert(rows.values.forall(_._6 > 0))
    // packing: seq_no is the running-sum formula over doc_id order
    var cum = 0L
    Seq(1L, 2L, 3L, 4L, 7L).foreach { id =>
      assert(rows(id)._7 == cum / 8, s"doc $id seq_no")
      cum += rows(id)._6
    }
  }

  test("d37 curateV3Df: the repetition cut drops exactly the bigram-repeater") {
    val v3 = Curate.curateV3Df(curationCorpus, minTokens = 5, quota = 10,
        seqTokens = 8, repK = 2, repMax = 0.1, nShards = 4)
      .as[(String, Long, Int, Int, Double, Int, Int, Long, Int, Int)].collect()
      .map(r => r._2 -> r).toMap
    assert(v3.keySet == Set(1L, 2L, 3L, 7L), "doc 4 must fall to the repetition cut")
    assert(v3.values.forall(_._7 == 0), "survivors carry dup_covered = 0")
    assert(v3.values.forall(r => r._9 >= 0 && r._9 < 4), "shard in [0, nShards)")
    assert(v3.values.forall(_._10 >= 1), "pos_in_seq is 1-based")
    // repMax = 1 disables the cut: doc 4 comes back with its coverage
    val loose = Curate.curateV3Df(curationCorpus, minTokens = 5, quota = 10,
        seqTokens = 8, repK = 2, repMax = 1.0, nShards = 4)
      .as[(String, Long, Int, Int, Double, Int, Int, Long, Int, Int)].collect()
      .map(r => r._2 -> r).toMap
    assert(loose.keySet == Set(1L, 2L, 3L, 4L, 7L))
    assert(loose(4L)._7 == 4, "the two 'the fox' windows cover 4 tokens")
  }

  test("d37/d33 algebra: v3 with the cut disabled IS v2, on randomized corpora") {
    // repMax = 1 keeps every scrub survivor (dup_covered <= n_tokens),
    // so v3's population, quota draw, and packing must coincide with
    // v2's exactly — v3 projected to v2's columns equals v2, row for
    // row. A quota/packing stage that consumed dup_covered, or a cut
    // that moved across the quota exchange, breaks the identity. Also:
    // both chains must be invariant under input repartition (seeded
    // random corpora — the hand-built case can't hit rank ties the way
    // random token soups do).
    val rnd = new scala.util.Random(31)
    for (trial <- 0 until 3) {
      val docs = (0 until 30).map { i =>
        val vocab = 3 + rnd.nextInt(6)
        val n = 6 + rnd.nextInt(30)
        val text = (0 until n).map(_ => s"w${rnd.nextInt(vocab)}").mkString(" ") +
          " the and of is in a to" // stopword tail keeps quality above the cut
        (i.toLong * 3 + trial, if (i % 2 == 0) "s1" else "s2", text)
      }.toDF("doc_id", "source", "text")
      val v2 = Curate.curateV2Df(docs, minTokens = 4, quota = 8, seqTokens = 16)
        .collect().toSet
      val v3AsV2 = Curate.curateV3Df(docs, minTokens = 4, quota = 8,
          seqTokens = 16, repK = 2, repMax = 1.0, nShards = 4)
        .select(col("source"), col("doc_id"), col("n_removed"), col("n_pii"),
          col("quality"), col("n_tokens"), col("seq_no"))
        .collect().toSet
      assert(v3AsV2 == v2, s"trial $trial: v3(repMax=1) != v2")
      val v2b = Curate.curateV2Df(docs.repartition(7), minTokens = 4, quota = 8,
        seqTokens = 16).collect().toSet
      assert(v2b == v2, s"trial $trial: v2 drifted under repartition")
      val v3a = Curate.curateV3Df(docs, minTokens = 4, quota = 8,
        seqTokens = 16, repK = 2, repMax = 0.3, nShards = 4).collect().toSet
      val v3b = Curate.curateV3Df(docs.repartition(7), minTokens = 4, quota = 8,
        seqTokens = 16, repK = 2, repMax = 0.3, nShards = 4).collect().toSet
      assert(v3a == v3b, s"trial $trial: v3 drifted under repartition")
    }
  }

  test("d38 curateV4: the learned gate is active, bounded, and text-free") {
    val sfDir = "/root/testdata/sf0.001"
    val v4 = Curate.curateV4(spark, sfDir).collect()
    assert(v4.nonEmpty)
    val nbIdx = Curate.curateV4(spark, sfDir).columns.indexOf("nb_score")
    v4.foreach { r =>
      val s = r.getLong(nbIdx)
      // a surviving doc's evidence: mean posterior ≥ ½ over 4 features
      assert(s >= 2L * 1000000L && s <= 4L * 1000000L, s"nb_score $s")
    }
    // quota still binds per source
    val perSource = v4.groupBy(_.getString(0)).view.mapValues(_.length)
    assert(perSource.values.forall(_ <= 12))
    // the gate actually changes the draw vs v3 (41 scrub-survivors are
    // cut pre-quota at sf0.001 — if the kept sets ever coincide, the
    // gate has gone inert and this must fail)
    val v3Ids = Curate.curateV3(spark, sfDir).select("doc_id")
      .as[Long].collect().toSet
    val v4Ids = Curate.curateV4(spark, sfDir).select("doc_id")
      .as[Long].collect().toSet
    assert(v4Ids != v3Ids, "learned gate dropped nothing from the draw")
    // the trained-model stage is an aggregate over a checkpointed frame,
    // so the whole chain must not drift under input repartition
    val v4b = Curate.curateV4Df(graft.Tables.documents(spark, sfDir).repartition(7)).collect()
    assert(v4b.map(_.toString).sorted.toSeq == v4.map(_.toString).sorted.toSeq,
      "v4 drifted under repartition")
  }

  test("d41: the approx teacher arm agrees with the exact rank-k median at verify SFs") {
    // the d24/m05 derive-the-knob pattern: the 100-TB calibration
    // (approx_percentile sketch) is pinned to the exact arm where the
    // sketch is provably exact (sample count below the compression
    // threshold) — and therefore d41 ships against d38's own oracle
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val scrubbed = Curate.scrubScored(
        graft.Tables.documents(spark, d), 8).localCheckpoint(true)
      val exact = Curate.nbTeacherThreshold(scrubbed)
      val approx = Curate.nbTeacherThresholdApprox(scrubbed)
      assert(exact == approx, s"$d: exact $exact != approx $approx")
    }
    // and the composed chains agree end to end
    val a = Curate.curateV4(spark, sf).collect().map(_.toString).sorted.toSeq
    val b = graft.SparkEntry.queries("d41_curate_v4_approx")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b, "v4 exact-arm and approx-arm outputs diverged")
  }

  test("d37 plan: the repetition cut stays behind the barrier and off the exchange") {
    // the round-11 hang: PushDownPredicates inlined the dup-covered
    // kernel (and the whole scrub chain under it) into a 12 KB Filter
    // below the span-strip join. Behind the explode barrier no Filter
    // may contain the kernel — and none may balloon.
    val df = Curate.curateV3Df(curationCorpus, minTokens = 5, quota = 10,
      seqTokens = 8, repK = 2, repMax = 0.1, nShards = 4)
    val planStr = df.queryExecution.executedPlan.toString
    // (scrubScored's n_tokens > 0 guard legitimately inlines ONE
    // tokenstats call into a ~600-char Filter; the r11 pathology was the
    // REPETITION kernel in a 12 KB Filter — pin exactly that)
    planStr.linesIterator.filter(_.contains("Filter ")).foreach { line =>
      assert(!line.contains("dupgramcovered"),
        s"repetition kernel inlined into a Filter:\n$line")
      assert(line.length < 2000, s"ballooned Filter (${line.length} chars)")
    }
    // and no exchange ever carries text: only ids/counts/scores shuffle
    val root = df.queryExecution.executedPlan
    val inner = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val exchanges = inner.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, "expected the shared source exchange")
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.exists(n => n == "text" || n == "rtext" || n == "clean_text"),
        s"text crossed an exchange: $names")
    }
  }
}
