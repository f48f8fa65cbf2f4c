package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.mr.TestSession

/** The round-6 parameterization surface: banding calibration as
  * computation, operator arguments over hard-coded constants, the
  * candidate-fed verify stages, and the oversized-bucket cap.
  */
class LshParamSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------- calibration

  test("LshCalibration: S-curve midpoint is exact and bandsFor derives the shipped defaults") {
    import LshCalibration._
    // the midpoint is where candidateProb crosses 1/2, by construction
    for (b <- Seq(4, 6, 8); r <- Seq(4, 8)) {
      assert(math.abs(candidateProb(midpoint(b, r), b, r) - 0.5) < 1e-12, s"($b x $r)")
    }
    // the textbook (1/b)^(1/r) approximation stays within ~5% of the exact
    // midpoint for the shipped bandings (4×8 and 6×8)
    for ((b, r) <- Seq((4, 8), (6, 8))) {
      assert(math.abs(midpoint(b, r) - midpointApprox(b, r)) < 0.06, s"($b x $r)")
    }
    // candidateProb is monotone in similarity
    val probs = (0 to 10).map(i => candidateProb(i / 10.0, 4, 8))
    assert(probs == probs.sorted)
    // the shipped defaults are derivable, not arbitrary: d13's 4 bands of 8
    // at k=32, d17's 6 bands of 8 at k=48, d02's 4 bands of 4 at k=16
    assert(bandsFor(0.8, 32) == 4)
    assert(bandsFor(0.8, 48) == 6)
    assert(bandsFor(0.7, 16) == 4)
  }

  test("LshCalibration.bitsFor tracks corpus size to hold sign-LSH buckets near target") {
    import LshCalibration._
    // the measured scale points (SCALING.md §3b): 2 040 / 20 400 / 102 000
    // vectors calibrate to 4 / 7 / 10 bits
    assert(bitsFor(2040) == 4)
    assert(bitsFor(20400) == 7)
    assert(bitsFor(102000) == 10)
    // shipped default is the sf0.1 operating point
    assert(bitsFor(2000) == 4)
    // monotone in n, and the resulting expected bucket stays within 2× of
    // target on either side (the round-to-nearest guarantee)
    val ns = Seq(1000L, 5000L, 50000L, 500000L, 5000000L)
    val bits = ns.map(bitsFor(_))
    assert(bits == bits.sorted)
    for (n <- ns.drop(1)) { // above the minBits floor
      val bucket = n.toDouble / (1L << bitsFor(n))
      assert(bucket >= 125.0 / 2 && bucket <= 125.0 * 2, s"n=$n bucket=$bucket")
    }
  }

  // ------------------------------------------------------- candidate-fed verify

  test("verifyJaccard scores exactly the fed candidates, nothing else") {
    // one true near-dup pair from the exact pass, one deliberately far pair
    val truePair = Dedup.ngramJaccard(spark, sf)
      .select($"a_id", $"b_id").as[(Long, Long)].head()
    val ids = graft.Tables.documents(spark, sf)
      .select($"doc_id").as[Long].collect().sorted
    val farPair = (ids(0), ids(ids.length / 2)) // distinct random docs
    assume(farPair != truePair)
    val cand = Seq(truePair, farPair).toDF("a_id", "b_id")
    val out = Dedup.verifyJaccard(spark, sf, cand, n = 3, minJaccard = 0.8)
      .select($"a_id", $"b_id", $"jaccard").as[(Long, Long, Double)].collect()
    // the true pair survives with its exact score; the far pair is cut
    assert(out.map(p => (p._1, p._2)).toSet == Set(truePair), out.mkString(","))
    assert(out.head._3 >= 0.8)
    // and the score agrees with a raw driver-side recompute on shingle sets
    val texts = graft.Tables.documents(spark, sf)
      .filter($"doc_id".isin(truePair._1, truePair._2))
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    def grams(t: String): Set[String] =
      (0 until math.max(t.length - 2, 1)).map(i => t.substring(i, math.min(i + 3, t.length))).toSet
    val (ga, gb) = (grams(texts(truePair._1)), grams(texts(truePair._2)))
    val jRef = ga.intersect(gb).size.toDouble / ga.union(gb).size.toDouble
    assert(math.abs(out.head._3 - jRef) < 1e-12)
  }

  test("verifyCosine keeps exactly the fed candidates above the threshold") {
    val near = Similarity.embedNearDup(spark, sf)
      .select($"a_id", $"b_id").as[(Long, Long)].head()
    // hunt a far pair: first id vs whichever of the next ids is below 0.35
    val e = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    def cos(a: Long, b: Long): Double = {
      val (va, vb) = (e(a), e(b))
      val d = va.indices.map(i => va(i).toDouble * vb(i)).sum
      d / (math.sqrt(va.map(x => x.toDouble * x).sum) * math.sqrt(vb.map(x => x.toDouble * x).sum))
    }
    val a0 = e.keys.min
    val far = e.keys.toSeq.sorted.find(b => b != a0 && cos(a0, b) < 0.3).get
    val cand = Seq(near, (a0, far)).toDF("a_id", "b_id")
    val out = Similarity.verifyCosine(spark, sf, cand)
      .as[(Long, Long)].collect().toSet
    assert(out == Set(near), s"got $out")
  }

  // ------------------------------------------- variant parameterization (d17)

  test("d17 (k=48, 6 bands) is the same ladder at higher recall: superset of d13's pairs") {
    // exactness is parameter-independent: every emitted pair is a true pair
    val d17Shipped = graft.SparkEntry.queries("d17_lsh_verified_k48")(spark, sf)
      .select($"jaccard").as[Double].collect()
    assert(d17Shipped.forall(_ >= 0.8))
    // k=48 extends the k=32 signature (same h_i = a + i*b stream), so its
    // 6 bands of 8 CONTAIN d13's 4 bands of 8 — the CANDIDATE set can only
    // grow. The shipped est ≥ 0.6 prefilter would make the verified-set
    // comparison data-dependent (est is re-estimated over k=48 hashes, so
    // a borderline pair can sit above 0.6 at k=32 and below it at k=48);
    // comparing with estMin = 0 removes that noise, making the superset
    // deterministic: verified = candidates ∩ {jaccard ≥ 0.8} on both sides
    val d13 = Dedup.lshVerifiedPairs(spark, sf, estMin = 0.0)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val d17 = Dedup.lshVerifiedPairs(spark, sf, k = 48, rowsPerBand = 8, estMin = 0.0)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(d13.subsetOf(d17), s"d13-only: ${d13 -- d17}")
    assert(d17.size >= d13.size)
  }

  test("rebuildNeeded fires exactly when appended mass moves the derived width") {
    // the geometry rebuild trigger (r16): an index built at
    // bitsFor(n) needs a rebuild when bitsFor(n + appended) diverges —
    // i.e. when E[bucket] has drifted ~2x off target
    val n = 100000L
    val bits = LshCalibration.bitsFor(n)
    assert(!LshCalibration.rebuildNeeded(bits, n, 0L))
    // appends within the same width bracket: no rebuild
    assert(!LshCalibration.rebuildNeeded(bits, n, (n * 0.3).toLong))
    // past the bracket boundary (~sqrt(2)x for round()), the derived
    // width moves and the trigger fires
    assert(LshCalibration.rebuildNeeded(bits, n, n * 2))
    // a freshly rebuilt index at the new width is again quiescent
    val bits2 = LshCalibration.bitsFor(n * 3)
    assert(!LshCalibration.rebuildNeeded(bits2, n * 3, 0L))
    intercept[IllegalArgumentException](LshCalibration.rebuildNeeded(0, n, 0L))
  }

  test("capFor implements the 10·E[bucket] cap prescription with a floor") {
    import LshCalibration._
    // the calibrated-band point (E[bucket] = 1) lands on the measured
    // zero-loss cap — AutoCap on minhash ladders ≡ the gated cap=32
    assert(capFor(1.0) == 32)
    assert(capFor(100.0) == 1000) // sign-LSH at target bucket 100
    assert(capFor(0.0) == 32) // floor holds at degenerate expectation
    val caps = Seq(1.0, 10.0, 100.0, 1000.0).map(capFor(_))
    assert(caps == caps.sorted) // monotone in expectation
  }

  test("d26 (32 tables) dominates the shipped 8-table kNN recall vs brute") {
    // plane derivation is global in j, so the 32-table config's first 8
    // tables ARE the shipped config: candidates only grow, and a true
    // top-5 member among candidates always survives to the output top-5 —
    // recall vs brute is monotone in the tables knob
    val truth = Similarity.bruteKnn(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val h8 = Similarity.lshKnn(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val h32 = graft.SparkEntry.queries("d26_knn_lsh_t32")(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    assert((truth intersect h32).size >= (truth intersect h8).size)
    info(s"recall@5: 8 tables ${(truth intersect h8).size}/${truth.size}, " +
      s"32 tables ${(truth intersect h32).size}/${truth.size}")
  }

  // ----------------------------------------------------- AutoBits calibration

  test("signLshPairs AutoBits derives bits from the corpus count and matches the explicit run") {
    // 500 embeddings at the default target (125) calibrate to the minBits
    // floor of 4 — auto must be indistinguishable from an explicit bits=4 run
    val auto = Similarity.signLshPairs(spark, sf)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val explicit4 = Similarity.signLshPairs(spark, sf, bits = 4)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(auto == explicit4)
    // the d24 gate's targetBucket=31 derivation lands on DIFFERENT bits at
    // the driver SFs: 500 vecs → 4 bits, 2 000 vecs → 6 bits
    assert(LshCalibration.bitsFor(500, targetBucket = 31) == 4)
    assert(LshCalibration.bitsFor(2000, targetBucket = 31) == 6)
  }

  test("simhashPairs capped run is a subset of the uncapped run (d25 posture)") {
    val uncapped = graft.SparkEntry.queries("d22_simhash_b8")(spark, sf)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val capped = graft.SparkEntry.queries("d25_simhash_b8_capped")(spark, sf)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(uncapped),
      s"capped-only pairs: ${(capped -- uncapped).take(5).mkString(",")}")
    info(s"simhash 8-band: uncapped=${uncapped.size}, capped(${Dedup.simhashCapGate})=${capped.size}")
  }

  // ------------------------------------------------------- skewed-bucket cap

  test("bucketCap bounds the candidate explosion of a template-skewed corpus") {
    // fixture: 20% of docs share one boilerplate template (tiny unique
    // tail), the rest are distinct — the real-corpus failure mode of
    // "candidates ∝ true pairs"
    val template = "from the desk of the automated newsletter system this message " +
      "is generated weekly please do not reply to this address all rights reserved " +
      "unsubscribe instructions follow at the end of this message thank you for reading"
    val docs = (0 until 200).map { i =>
      val text =
        if (i < 40) s"$template v$i"
        else s"document $i stands alone ${i * 7} widgets and ${i * 13} gadgets " +
          s"describing topic${i} in its own words with tail marker ${i * 31}"
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-skew").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val uncapped = Dedup.minhashLsh(spark, tmp)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val capped = Dedup.minhashLsh(spark, tmp, bucketCap = 10)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet

    // the template bucket floods the uncapped join with ~C(40,2) pairs
    assert(uncapped.size >= 500, s"fixture should flood: ${uncapped.size}")
    // capping drops buckets > 10 members, bounding every surviving bucket's
    // contribution at C(10,2) = 45 pairs: the quadratic flood collapses to
    // the (data-dependent) residue of sub-cap buckets — docs whose unique
    // tails split them off the mega-bucket
    assert(capped.size <= uncapped.size / 4, s"capped still floods: ${capped.size} of ${uncapped.size}")
    assert(capped.subsetOf(uncapped))
    info(s"skew fixture: uncapped=${uncapped.size} pairs, capped(10)=${capped.size}")

    // the composed ladder accepts the same knob: with the template's
    // mega-buckets dropped, no template-template pair reaches the verifier
    val ladder = Dedup.lshVerifiedPairs(spark, tmp, bucketCap = 10)
      .select($"a_id", $"b_id").as[(Long, Long)].collect()
    assert(ladder.forall { case (a, b) => !(a < 40 && b < 40) },
      s"template pairs survived the cap: ${ladder.filter(p => p._1 < 40 && p._2 < 40).take(5).mkString(",")}")
  }
}
