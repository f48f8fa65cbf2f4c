package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.mr.TestSession

/** Semantics of the incremental bit-signature append arms (d42/m08) and
  * the incremental decontamination (d43): persisted-probe answers must
  * equal the full rerun exactly, and the persisted band table must join
  * bucket-aware (the delta-proportionality claim at the plan level).
  */
class IncrementalSigSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  private def simSigs(d: org.apache.spark.sql.DataFrame) = d
    .select(col("doc_id"), graft.functions.SimHashSig(col("text"), 32).as("sig"))
    .where(col("sig") =!= lit(graft.functions.SimHashSig.Empty))

  test("d42: incremental simhash pairs equal the full-rerun banded join") {
    val docs = graft.Tables.documents(spark, sf)
    val inc = graft.SparkEntry.queries("d42_incremental_simhash")(spark, sf)
      .as[(Long, Long, Int)].collect().toSet
    val full = Dedup.hammingPairs(simSigs(docs), 32, 4, 7)
      .as[(Long, Long, Int)].collect().toSet
    assert(inc == full)
  }

  test("m08: incremental phash pairs equal the full-rerun (all-pairs by pigeonhole)") {
    val sigs = Multimodal.perceptualHash(Multimodal.mediaTable(spark, sf)).toDF()
    val inc = graft.SparkEntry.queries("m08_incremental_phash")(spark, sf)
      .as[(Long, Long, Int)].collect().toSet
    val full = Dedup.hammingPairs(sigs, 60, 6, 5)
      .as[(Long, Long, Int)].collect().toSet
    assert(inc == full)
  }

  test("sig index: persisted band table joins bucket-aware (one exchange, the delta side)") {
    val docs = graft.Tables.documents(spark, sf)
    val corpusSigs = simSigs(docs.where(col("doc_id") % 5 < 4))
    val tmp = java.nio.file.Files.createTempDirectory("incsigplan").toString
    try {
      IncrementalSig.writeIndex(corpusSigs,
        Dedup.hammingPairs(corpusSigs, 32, 4, 7), tmp, 32, 4)
      val idx = IncrementalSig.readIndex(spark, tmp)
      assert(idx.bits == 32 && idx.nBands == 4)
      // the probe the maintained append runs: delta bands against the
      // persisted corpus band table
      val deltaBands = Dedup.bandsOfSig(simSigs(docs.where(col("doc_id") % 5 >= 4)), 32, 4)
      val p = idx.bands.alias("a")
        .join(deltaBands.hint("shuffle_hash").alias("b"),
          col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .queryExecution.executedPlan.toString
      val exchanges = p.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("ReusedExchange"))
      assert(exchanges == 1, s"expected ONE exchange (the delta side), plan:\n$p")
      assert(p.contains("Bucketed: true"),
        s"corpus band scan is not a bucketed read:\n$p")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("capped append with persisted band counts equals the capped full rerun on a clean fixture") {
    // at a cap no fixture bucket exceeds, the capped maintained append
    // (persisted-counts path) must equal both the uncapped answer and
    // the capped full rerun exactly
    val docs = graft.Tables.documents(spark, sf)
    val corpusSigs = simSigs(docs.where(col("doc_id") % 5 < 4))
    val deltaSigs = simSigs(docs.where(col("doc_id") % 5 >= 4))
    def appended(cap: Int): Set[(Long, Long, Int)] = {
      val tmp = java.nio.file.Files.createTempDirectory("incsigcap").toString
      try {
        IncrementalSig.writeIndex(corpusSigs,
          Dedup.hammingPairs(corpusSigs, 32, 4, 7, bucketCap = 1000), tmp, 32, 4)
        IncrementalSig.appendToIndex(spark, tmp, deltaSigs, 7, bucketCap = cap)
          .as[(Long, Long, Int)].collect().toSet
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
    }
    val capped = appended(1000)
    val fullCapped = Dedup.hammingPairs(simSigs(docs), 32, 4, 7, bucketCap = 1000)
      .as[(Long, Long, Int)].collect().toSet
    assert(capped == fullCapped)
    // and a tight cap drops banded evidence on BOTH arms' semantics:
    // the capped append is a subset of the uncapped answer
    assert(appended(1).subsetOf(capped))
  }

  test("d48: tombstoned docs leave every artifact, and appends cannot resurrect them") {
    val docs = graft.Tables.documents(spark, sf)
    val sigs = simSigs(docs)
    val tmp = java.nio.file.Files.createTempDirectory("sigdel").toString
    try {
      IncrementalSig.writeIndex(sigs, Dedup.hammingPairs(sigs, 32, 4, 7),
        tmp, 32, 4, nBuckets = 8)
      val del = docs.where(col("doc_id") % 7 === 3).select(col("doc_id"))
      IncrementalSig.deleteDocs(spark, tmp, del)
      val geometry = Map("bits" -> 32, "n_bands" -> 4, "n_buckets" -> 8)
      assert(graft.runtime.IndexStatePublisher.current(tmp).geometry == geometry,
        "geometry must survive the delete publish")
      val idx = IncrementalSig.readIndex(spark, tmp)
      // deletion == full rerun on survivors (uncapped banding is
      // per-doc deterministic, so survivor pairs are exactly the
      // restriction)
      val survivors = docs.where(col("doc_id") % 7 =!= 3)
      val full = Dedup.hammingPairs(simSigs(survivors), 32, 4, 7)
        .as[(Long, Long, Int)].collect().toSet
      val inc = idx.pairs.as[(Long, Long, Int)].collect().toSet
      assert(inc == full, "tombstone-filtered pairs diverged from the survivor rerun")
      // the band table no longer serves deleted docs: a later APPEND of
      // a delta cannot pair against them
      assert(idx.bands.filter(col("doc_id") % 7 === 3).count() == 0)
      // an empty delta: the append must publish exactly the filtered state
      val appended = IncrementalSig.appendToIndex(spark, tmp,
          simSigs(docs.where(col("doc_id") % 7 =!= 3)).limit(0), 7)
        .as[(Long, Long, Int)].collect().toSet
      assert(appended == full, "empty append changed the tombstone-filtered answer")
      // compaction: same answer, tombstones physically gone
      IncrementalSig.compactIndex(spark, tmp)
      val m = graft.runtime.IndexStatePublisher.current(tmp)
      assert(m.pathOpt("deleted").isEmpty)
      assert(m.geometry == geometry, s"geometry must survive compaction: ${m.geometry}")
      val idx2 = IncrementalSig.readIndex(spark, tmp)
      assert(idx2.pairs.as[(Long, Long, Int)].collect().toSet == full,
        "compaction changed the pair answer")
      assert(idx2.bands.filter(col("doc_id") % 7 === 3).count() == 0,
        "compaction left tombstoned band rows on disk")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("d43: incremental decontamination equals the exact full-rerun spans") {
    val docs = graft.Tables.documents(spark, sf)
    val inc = IncrementalContam.appendDecontam(spark, sf)
      .as[(Long, Int, Int, Int)].collect().toSet
    val full = graft.SparkEntry.queries("d29_contam_spans")(spark, sf)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(inc == full)
  }
  test("d43 index at a file:// URI directory: write, read and the append probe go through the Hadoop FileSystem") {
    val docs = graft.Tables.documents(spark, sf)
    val bgrams = SpanDedup.benchGrams(docs.where(col("doc_id") % 10 === 0), 8).localCheckpoint(true)
    val bloom = bgrams.stat.bloomFilter("gk", math.max(bgrams.count(), 1L), 0.01)
    val spansOld = SpanDedup.contamIslands(SpanDedup.contamHitsWithSketch(
      docs.where(col("doc_id") % 10 =!= 0 && col("doc_id") % 5 =!= 4), bloom, bgrams, 8), 8)
    val tmp = java.nio.file.Files.createTempDirectory("contamuri").toString
    val uri = s"file://$tmp"
    try {
      IncrementalContam.writeIndex(IncrementalContam.ContamIndex(bloom, bgrams, spansOld), uri,
        nBuckets = 4)
      val idx = IncrementalContam.readIndex(spark, uri)
      assert(idx.bloom == bloom, "the Bloom sketch did not round-trip")
      val inc = idx.spans.unionByName(SpanDedup.contamIslands(
          SpanDedup.contamHitsWithSketch(docs.where(col("doc_id") % 5 === 4), idx.bloom, idx.grams, 8), 8))
        .as[(Long, Int, Int, Int)].collect().toSet
      val full = graft.SparkEntry.queries("d29_contam_spans")(spark, sf)
        .as[(Long, Int, Int, Int)].collect().toSet
      assert(inc == full)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }
}
