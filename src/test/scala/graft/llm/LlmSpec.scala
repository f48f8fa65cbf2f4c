package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.mr.TestSession

class LlmSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  test("exact dedup groups identical texts under one hash") {
    val out = Dedup.exact(spark, sf)
    assert(out.count() > 0)
    // content_hash is a 32-hex md5; keep_id is minimal per group
    val r = out.select(length(col("content_hash"))).distinct().as[Int].collect()
    assert(r.toSeq == Seq(32))
  }

  test("minhash LSH finds the planted near-duplicate pairs") {
    val lsh = Dedup.minhashLsh(spark, sf)
      .filter(col("est_jaccard") >= 0.75)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccard(spark, sf)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    // high-signature LSH pairs should overlap heavily with exact jaccard>=0.8
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall too low; lsh=${lsh.size} exact=${exact.size}")
  }

  test("d13 verified pairs are exact: every emitted pair truly has 5-gram jaccard >= 0.8") {
    val pairs = Dedup.lshVerifiedPairs(spark, sf)
      .select($"a_id", $"b_id", $"jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty, "planted near-dups should survive the calibrated ladder")
    assert(pairs.forall(_._3 >= 0.8))
    // recompute one pair's jaccard from raw shingle sets, independently
    val (a, b, j) = pairs.head
    val texts = graft.Tables.documents(spark, sf)
      .filter($"doc_id".isin(a, b)).select($"doc_id", $"text")
      .as[(Long, String)].collect().toMap
    def grams(t: String): Set[String] =
      (0 until math.max(t.length - 4, 1)).map(i => t.substring(i, math.min(i + 5, t.length))).toSet
    val (ga, gb) = (grams(texts(a)), grams(texts(b)))
    val jRef = ga.intersect(gb).size.toDouble / ga.union(gb).size.toDouble
    assert(math.abs(j - jRef) < 1e-12, s"pair ($a,$b): got $j, raw $jRef")
  }

  test("d14 corpus dedup keeps exactly one representative per verified cluster") {
    val kept = DedupResolve.corpusDedupPipeline(spark, sf)
      .as[Long].collect().toSet
    val all = graft.Tables.documents(spark, sf).select($"doc_id").as[Long].collect().toSet
    val pairs = Dedup.lshVerifiedPairs(spark, sf)
      .select($"a_id", $"b_id").as[(Long, Long)].collect()
    assert(kept.subsetOf(all))
    // every dropped doc is the larger member of some verified pair chain
    val dropped = all -- kept
    assert(dropped.forall(d => pairs.exists { case (x, y) => x == d || y == d }))
    // no verified pair survives whole: at least one member of each pair dropped
    assert(pairs.forall { case (x, y) => !(kept(x) && kept(y)) })
  }

  test("simhash of near-identical docs differs in few bits") {
    val sig = Dedup.simhash(spark, sf).as[(Long, Long)].collect().toMap
    val pairs = Dedup.ngramJaccard(spark, sf)
      .select($"a_id", $"b_id").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    val hamDup = pairs.map { case (a, b) =>
      java.lang.Long.bitCount(sig(a) ^ sig(b))
    }
    // near-dups: small hamming distance on average vs random pairs (~16)
    assert(hamDup.sum.toDouble / hamDup.length < 8.0,
      s"near-dup mean hamming ${hamDup.sum.toDouble / hamDup.length}")
  }

  test("LSH knn has reasonable recall vs brute-force knn") {
    val brute = Similarity.bruteKnn(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshKnn(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    assert(brute.size == 50 * 5)
    assert(lsh.nonEmpty)
    // 8 tables × 4 bits calibrated to ~0.65-0.72 recall@5 on the
    // near-random synthetic vectors; assert with margin
    val recall = lsh.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.4, s"LSH recall@5 $recall; lsh=${lsh.size} brute=${brute.size}")
  }

  test("sq8-quantized knn nearly reproduces the full-precision ranking") {
    val brute = Similarity.bruteKnn(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val sq8 = Similarity.sq8Knn(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    assert(sq8.size == brute.size)
    // int8 after L2 normalization perturbs each cosine by ≲ d/127²;
    // only near-ties can flip, so overlap should be near-total
    val overlap = sq8.count(brute.contains).toDouble / brute.size
    assert(overlap >= 0.9, s"sq8 overlap@5 $overlap (n=${brute.size})")
    // quantized coordinates are genuinely int8-range
    val maxAbs = Similarity.sq8Knn(spark, sf)
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.abs($"qdot"))).as[Long].head()
    assert(maxAbs <= 64L * 127 * 127, s"qdot $maxAbs exceeds the 64-dim int8 bound")
  }

  test("IVF-SQ8 probes the same cells as IVF and nearly reproduces its ranking") {
    // same candidate generation ⇒ the quantized re-rank can only permute
    // within IVF's candidate set: every neighbor IVF-SQ8 returns must be
    // one IVF itself could have returned under a different rank kernel,
    // and the top-5 sets should nearly coincide (int8 flips near-ties only)
    val ivf = Similarity.ivfKnn(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val sq8 = Similarity.ivfSq8Knn(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    assert(sq8.size == ivf.size)
    val overlap = sq8.count(ivf.contains).toDouble / ivf.size
    assert(overlap >= 0.9, s"IVF-SQ8 overlap@5 vs IVF $overlap (n=${ivf.size})")
    // integer scores stay inside the 64-dim int8 bound
    val maxAbs = Similarity.ivfSq8Knn(spark, sf)
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.abs($"qdot"))).as[Long].head()
    assert(maxAbs <= 64L * 127 * 127, s"qdot $maxAbs exceeds the 64-dim int8 bound")
  }

  test("multimodal batch decode runs per-partition and is deterministic") {
    val media = Multimodal.mediaTable(spark, sf)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == media.count())
    assert(feats.forall(f => f.width >= 64 && f.width <= 512 && f.channels == 3))
    // deterministic: same input → same checksum on re-run
    val again = Multimodal.extractFeatures(media).collect()
    assert(feats.map(f => (f.doc_id, f.checksum)).toSet ==
      again.map(f => (f.doc_id, f.checksum)).toSet)
  }

  test("IVF knn recall vs brute force is substantial with 2-of-16 probes") {
    val brute = Similarity.bruteKnn(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnn(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val recall = ivf.count(brute.contains).toDouble / brute.size
    // probing 2/16 cells scans ~12.5% of the corpus; near-random vectors
    // still cluster enough around centroids for useful recall
    assert(recall >= 0.3, s"IVF recall@5 $recall (ivf=${ivf.size} brute=${brute.size})")
  }

  test("cluster resolution collapses near-dup pairs to canonical docs") {
    val pairs = Dedup.ngramJaccard(spark, sf).select($"a_id", $"b_id")
    val nPairs = pairs.count()
    assert(nPairs > 0)
    val clusters = DedupResolve.resolveClusters(pairs)
    // every cluster label is the minimum id of its component
    val byCluster = clusters.groupBy($"cluster")
      .agg(min($"id").as("min_id"), count(lit(1)).as("sz")).collect()
    byCluster.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // transitivity chain check: a~b and b~c ⇒ same cluster
    val lbl = clusters.as[(Long, Long)].collect().toMap
    pairs.as[(Long, Long)].collect().foreach { case (a, b) =>
      assert(lbl(a) == lbl(b), s"pair ($a,$b) split across clusters")
    }
    val docs = graft.Tables.documents(spark, sf)
    val kept = DedupResolve.dedupedDocIds(spark, docs, pairs)
    val clusterMembers = clusters.count()
    val nClusters = clusters.select($"cluster").distinct().count()
    assert(kept.count() == docs.count() - (clusterMembers - nClusters))
  }

  test("multimodal resize and frame-sample stages are deterministic and bounded") {
    val media = Multimodal.mediaTable(spark, sf)
    val resized = Multimodal.resizeTo(media, 128).collect()
    assert(resized.length == media.count())
    resized.foreach { r =>
      assert(math.max(r.out_w, r.out_h) <= 128 && math.min(r.out_w, r.out_h) >= 1, r.toString)
      // aspect preserved within integer rounding
      val inRatio = r.width.toDouble / r.height
      val outRatio = r.out_w.toDouble / r.out_h
      assert(math.abs(inRatio - outRatio) / inRatio < 0.1, s"$r ratio drift")
    }
    val frames = Multimodal.sampleFrames(media, 100)
    val perDoc = frames.groupByKey(_.doc_id).count().collect().toMap
    val sizes = media.collect().map(m => m.doc_id -> m.n_bytes).toMap
    sizes.foreach { case (id, nb) =>
      assert(perDoc(id) == nb / 100 + 1, s"doc $id: ${perDoc(id)} frames for $nb bytes")
    }
  }

  test("decontamination flags every benchmark doc with its full gram count") {
    // eval items present verbatim in the corpus must self-flag completely
    val flagged = Decontaminate.flagOverlaps(spark, sf)
      .as[(Long, Long)].collect().toMap
    val benchCounts = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") % 100 === 0)
      .select(col("doc_id"),
        size(array_distinct(graft.functions.ShingleHash60s(col("text"), 16))).as("n"))
      .as[(Long, Int)].collect()
    assert(benchCounts.nonEmpty)
    benchCounts.foreach { case (id, n) =>
      assert(flagged.get(id).contains(n.toLong), s"bench doc $id: ${flagged.get(id)} vs $n")
    }
  }

  test("semantic dedup keeps exactly the component-min representatives") {
    val pairs = Similarity.embedNearDup(spark, sf)
    val clusters = DedupResolve.resolveClusters(pairs)
      .as[(Long, Long)].collect()
    // every kept id is its own cluster representative; every dropped id's
    // representative is kept and smaller
    val kept = DedupResolve.semanticDedupPipeline(spark, sf).as[Long].collect().toSet
    val byId = clusters.toMap
    clusters.foreach { case (id, c) =>
      assert(c <= id)
      if (id == c) assert(kept.contains(id), s"representative $id dropped")
      else {
        assert(!kept.contains(id), s"non-representative $id kept")
        assert(byId(c) == c && kept.contains(c), s"rep $c of $id not canonical")
      }
    }
    // ids untouched by any pair survive
    val inPairs = clusters.map(_._1).toSet
    val all = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 1000).select(col("vec_id")).as[Long].collect().toSet
    (all -- inPairs).foreach(id => assert(kept.contains(id)))
  }

  test("phash near-dup pairs recover exact near-dups and feed cluster resolution") {
    val pairs = Multimodal.phashPairs(spark, sf)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(pairs.nonEmpty, "planted near-dups should collide perceptually")
    // the perceptual signal recovers most exact 3-gram near-dups
    val exact = Dedup.ngramJaccard(spark, sf)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(pairs.contains).toDouble / exact.size
    assert(recall >= 0.6, s"phash recall $recall vs exact (${pairs.size} phash, ${exact.size} exact)")
    // and the pairs are a first-class member of the resolution pipeline
    val clusters = DedupResolve.resolveClusters(
      Multimodal.phashPairs(spark, sf).select($"a_id", $"b_id"))
    val lbl = clusters.as[(Long, Long)].collect().toMap
    pairs.foreach { case (a, b) => assert(lbl(a) == lbl(b), s"pair ($a,$b) split") }
    lbl.foreach { case (id, c) => assert(c <= id && lbl(c) == c, s"($id,$c) not canonical-min") }
  }

  test("phash banded verify keeps spread-error and clustered-error pairs") {
    // Synthetic 60-bit signatures, 6 bands x 10 bits, Hamming <= 5:
    //   doc 1: all-zero reference
    //   doc 2: 5 bit errors spread over bands 0..4 -> shares exactly 1
    //           band with doc 1 (band 5) at hamming 5
    //   doc 3: 2 bit errors both inside band 0 -> shares 5 bands with
    //           doc 1 at hamming 2
    val sigs = Seq(
      (1L, 0L),
      (2L, (1L << 0) | (1L << 10) | (1L << 20) | (1L << 30) | (1L << 40)),
      (3L, (1L << 0) | (1L << 1))).toDF("doc_id", "sig")
    val pairs = Dedup.hammingPairs(sigs, 60, 6, 5)
      .select($"a_id", $"b_id", $"hamming").as[(Long, Long, Int)].collect().toSet
    // xor(2,3) = bits {1,10,20,30,40} (bit 0 cancels) -> hamming(2,3)=5,
    // also sharing only band 5; all three pairs pass the plain verify,
    // and the 5-band pair (1,3) is one row, not five
    assert(pairs == Set((1L, 2L, 5), (2L, 3L, 5), (1L, 3L, 2)))
  }

  test("AutoHamming derives the measured chance-pair thresholds from the corpus count") {
    import Multimodal.hammingFor
    // default budget (one expected chance pair corpus-wide): h=5 holds
    // through ~620k docs, crosses to 4, reaches the measured x500 regime
    // (2.55M docs) at 3, and collapses to 0 at web scale
    assert(hammingFor(0) == 5 && hammingFor(1) == 5)
    assert(hammingFor(500) == 5)
    assert(hammingFor(620000) == 5)
    assert(hammingFor(640000) == 4)
    assert(hammingFor(2550000) == 3)
    assert(hammingFor(2000000000L) == 0)
    // monotone: more docs never loosens the threshold
    val pts = Seq(1L, 1000L, 100000L, 1000000L, 10000000L, 100000000L, 1000000000L)
    pts.sliding(2).foreach { case Seq(a, b) =>
      assert(hammingFor(a) >= hammingFor(b), s"not monotone at ($a,$b)")
    }
    // the m05 gate budget moves the threshold ACROSS the verify SFs
    val b = Multimodal.autoGateBudgetLog2
    assert(hammingFor(50, b) == 5 && hammingFor(500, b) == 4 && hammingFor(5000, b) == 3)
  }

  test("phash windows over UTF-8 BYTES: non-ASCII near-dups are found and partition-invariant") {
    // multi-byte corpus (2/3/4-byte codepoints + sub-window/empty payloads)
    // with near-dups planted INSIDE the non-ASCII text — the case where a
    // character-windowed construction would diverge from the byte-windowed
    // engine. The same fixture is oracle-checked against phashPairsSql via
    // tools/MakeNonAsciiCorpus + Verify + local_verify.py.
    val tmp = java.nio.file.Files.createTempDirectory("graft-nonascii").toString
    graft.tools.MakeNonAsciiCorpus.write(spark, tmp)
    val pairs = Multimodal.phashPairs(spark, tmp)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val planted = Set((0L, 1L), (10L, 11L), (20L, 21L))
    assert(planted.subsetOf(pairs), s"missed planted non-ASCII near-dups: ${planted -- pairs}")
    // no cross-language/filler collisions at hamming <= 5
    assert(pairs == planted, s"unexpected pairs: ${pairs -- planted}")
    // signatures are a pure function of payload bytes — invariant to layout
    val sigs1 = Multimodal.perceptualHash(Multimodal.mediaTable(spark, tmp))
      .collect().map(s => (s.doc_id, s.sig)).toSet
    val sigs2 = Multimodal.perceptualHash(
      Multimodal.mediaTable(spark, tmp).repartition(7)).collect()
      .map(s => (s.doc_id, s.sig)).toSet
    assert(sigs1 == sigs2)
  }

  test("decoder seam: a swapped codec drives extractFeatures/resizeTo without engine edits") {
    val media = Multimodal.mediaTable(spark, sf)
    // fake "codec" with different deterministic geometry than the stub
    class FakeCodec extends Multimodal.MediaDecoder {
      def decode(payload: Array[Byte]): (Int, Int, Int) =
        (32 + payload.length % 16, 32, 1)
    }
    val feats = Multimodal.extractFeatures(media, () => new FakeCodec).collect()
    assert(feats.nonEmpty)
    assert(feats.forall(f => f.height == 32 && f.channels == 1))
    val sizes = media.collect().map(m => m.doc_id -> m.n_bytes).toMap
    feats.foreach(f => assert(f.width == 32 + (sizes(f.doc_id) % 16).toInt, f.toString))
    // resize runs through the same seam
    val resized = Multimodal.resizeTo(media, 16, () => new FakeCodec).collect()
    resized.foreach(r => assert(math.max(r.out_w, r.out_h) == 16, r.toString))
    // and the default path (stub) is unchanged
    val stub = Multimodal.extractFeatures(media).collect()
    assert(stub.forall(f => f.channels == 3))
  }

  test("langGuess discriminates hand-built samples") {
    val samples = Seq(
      ("the cat and the dog is of a house", "en"),
      ("el perro y la casa de los gatos que y la", "es")).toDF("text", "expected")
    val got = samples.select(TextAnalysis.langGuess(col("text")).as("got"), col("expected"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("t19: the planted-marker gate CAN fail — every branch fires, per id class") {
    // the planting ratios are length-independent, so the heuristic must
    // recover the planted class for EVERY doc, not just on average; a
    // threshold/regex/tokenize regression in any branch breaks exact
    // recovery and (because the oracle replays the same planting) the
    // driver gate too
    val rows = TextAnalysis.langGuessPlanted(spark, sf)
      .as[(Long, String)].collect()
    assert(rows.length == 500)
    rows.foreach { case (id, guess) =>
      val want = (id % 5) match {
        case 1 => "zh"
        case 2 => "ru"
        case 3 => "es"
        case _ => "en"
      }
      assert(guess == want, s"doc $id: got $guess want $want")
    }
    // and all four branches fired this run
    assert(rows.map(_._2).toSet == Set("zh", "ru", "es", "en"))
  }

  test("t19 plan is a shuffle-free single pass") {
    val plan = TextAnalysis.langGuessPlanted(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("d40: the loaded parquet index serves exactly the trained path's answer") {
    // the persistence seam (write -> read -> serve) must be
    // value-invisible: same centroids, same cells, same packed codes,
    // same integer ranking as the fully in-plan d35 path at the same grid
    val trained = Similarity.ivfSq8KnnPacked16(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val loaded = Similarity.ivfSq8KnnLoaded(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(trained == loaded, "loaded-index serve diverged from the trained path")
  }

  test("d40: the loaded serve plan has no centroid training stage") {
    // serving reads artifacts: the plan over a loaded index must contain
    // parquet relation scans and NO sample-assignment aggregate (the
    // collect_list M-step is the training fingerprint)
    val idxDir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    try {
      val e = graft.Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm",
          sqrt(graft.functions.FloatVecDot(col("embedding"), col("embedding"))))
      Similarity.writeIvfSq8Index(Similarity.buildIvfSq8IndexFrom(e, 16, 200), idxDir)
      val idx = Similarity.readIvfSq8Index(spark, idxDir)
      val queries = e.filter(col("vec_id") < 50)
      val plan = Similarity.ivfSq8KnnFromIndex(queries, idx)
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("collect_list"), "training M-step leaked into the serve plan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxDir))
    }
  }

  test("serve path answers a query vector the index has NEVER seen (r15 ADVICE)") {
    // the normal serving case is a NEW request vector; the r15 serve path
    // derived query codes by joining idx.codes on vec_id, silently
    // returning zero rows for any non-member. Queries now quantize their
    // own passed embeddings.
    val idxDir = java.nio.file.Files.createTempDirectory("ivfnew").toString
    try {
      val e = graft.Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm",
          sqrt(graft.functions.FloatVecDot(col("embedding"), col("embedding"))))
      Similarity.writeIvfSq8Index(Similarity.buildIvfSq8IndexFrom(e, 16, 200), idxDir)
      val idx = Similarity.readIvfSq8Index(spark, idxDir)
      // a genuinely new vector: an indexed embedding under a FRESH id the
      // index has no row for
      val newQ = e.filter(col("vec_id") === 7L)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"), col("nrm"))
      val served = Similarity.ivfSq8KnnFromIndex(newQ, idx, nProbe = 2)
        .collect()
      assert(served.length == 5,
        s"new query vector must get a full top-5, got ${served.length} rows")
      // and it ranks EXACTLY like its indexed twin (same embedding ⇒ same
      // quantized code ⇒ same integer dots): the twin itself tops the
      // list (self-dot is maximal; the non-identity filter knows only the
      // aliased id), and the remaining neighbors are the twin's own top-4
      val servedByRank = served.sortBy(_.getAs[Int]("rnk"))
      assert(servedByRank.head.getAs[Long]("nid") == 7L,
        s"the identical indexed vector should rank first: ${servedByRank.toSeq}")
      val twinTop4 = Similarity.ivfSq8KnnFromIndex(
          e.filter(col("vec_id") === 7L), idx, nProbe = 2)
        .filter(col("rnk") <= 4).select(col("nid"))
        .collect().map(_.getLong(0)).toSet
      val servedRest = servedByRank.tail.map(_.getAs[Long]("nid")).toSet
      assert(servedRest == twinTop4,
        s"new-vector neighbors $servedRest != indexed twin's top-4 $twinTop4")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxDir))
    }
  }

  test("AutoRebuild: the trigger fires exactly above the measured append ratio") {
    // the d44 rebuild decision as computation (SCALING.md §3i/§3j):
    // appends accumulate while appended/indexed <= RebuildAppendRatio;
    // the first append crossing it schedules a retrain
    assert(!Similarity.shouldRebuild(1000L, 0L))
    assert(!Similarity.shouldRebuild(1000L,
      (Similarity.RebuildAppendRatio * 1000).toLong))
    assert(Similarity.shouldRebuild(1000L,
      (Similarity.RebuildAppendRatio * 1000).toLong + 1L))
    intercept[IllegalArgumentException](Similarity.shouldRebuild(0L, 1L))
    // the r17 re-derivation (1,000-query curves, clustered + uniform
    // drift): the general default is the clustered serve-cost cliff's
    // smallest measured ratio; the uniform relaxation is the measured
    // serve-cost crossover bracket's conservative side. Re-pin so a
    // drive-by constant change must re-argue the curve.
    assert(Similarity.RebuildAppendRatio == 0.2,
      "RebuildAppendRatio derives from the x500 clustered-drift serve curve")
    assert(Similarity.UniformDriftAppendRatio == 2.0,
      "UniformDriftAppendRatio derives from the x500 uniform-drift serve crossover")
    assert(!Similarity.shouldRebuild(1000L, 2000L,
      maxAppendRatio = Similarity.UniformDriftAppendRatio))
    assert(Similarity.shouldRebuild(1000L, 2001L,
      maxAppendRatio = Similarity.UniformDriftAppendRatio))
  }
}
