package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.mr.TestSession

/** Semantics of the incremental corpus-append dedup (d39): the
  * incremental pass over persisted corpus artifacts must produce the
  * EXACT kept-set of a full-corpus rerun — including the hard case
  * where a delta doc bridges two previously-distinct corpus clusters.
  */
class IncrementalDedupSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  // fixture: two corpus clusters {A=0, B=1} and {C=2, D=3} (the shared
  // base makes within-cluster Jaccard ≥ 0.8 while the distinct suffixes
  // hold the cross-cluster Jaccard ≈ 0.75 < 0.8), a delta bridge E=4
  // (the bare base: ≈ 0.85 to both clusters — legal by the Jaccard
  // triangle inequality only because 0.85 < 0.9), an exact corpus
  // duplicate F=9 of G=5, a unique delta doc H=14, and a delta-only
  // near-dup pair I1=19/I2=24. 8 bands of 4 rows (the d19 grid point)
  // so banding recall at J ≈ 0.85 is ≈ 1 − (1 − 0.85⁴)⁸ ≈ 0.998.
  private val base = "the quick brown fox jumps over the lazy dog while " +
    "seventeen green turtles carry shiny pebbles across the quiet river " +
    "bank at dawn"
  private val base2 = "nine silver airships drift slowly beneath amber " +
    "clouds carrying quiet passengers toward the distant harbor lights " +
    "of an old coastal town"
  private val fixture = Seq(
    (0L, base + " alpha beta gamma tree"),
    (1L, base + " alpha beta gamma tree!"),
    (2L, base + " bravo charlie delta two"),
    (3L, base + " bravo charlie delta two ok"),
    (4L, base),
    (5L, "completely unrelated corpus document about cooking bread"),
    (9L, "completely unrelated corpus document about cooking bread"),
    (14L, "a unique delta document that resembles nothing else here"),
    (19L, base2),
    (24L, base2 + " xx")
  )
  private def docsDf = fixture.toDF("doc_id", "text")
  private def corpusDf = docsDf.where(col("doc_id") % 5 < 4)
  private def deltaDf = docsDf.where(col("doc_id") % 5 >= 4)

  /** The kept set of one maintained append of the delta into a freshly
    * written corpus index (8×4 banding) at `dir`.
    */
  private def keptAppended(dir: String, bucketCap: Int = Dedup.NoBucketCap): Set[Long] = {
    IncrementalDedup.writeIndex(
      IncrementalDedup.buildIndex(corpusDf, rowsPerBand = 4), dir, rowsPerBand = 4)
    IncrementalDedup.appendToIndex(spark, dir, docsDf, deltaDf, bucketCap = bucketCap)
      .as[Long].collect().toSet
  }

  private def withTmp[T](prefix: String)(body: String => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(tmp)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  private def keptFull: Set[Long] = {
    val pairs = Dedup.lshVerifiedPairsDf(docsDf, rowsPerBand = 4)
      .select(col("a_id"), col("b_id"))
    DedupResolve.dedupedDocIds(spark, docsDf, pairs).as[Long].collect().toSet
  }

  test("incremental == full rerun on the bridge fixture, and the bridge merges clusters") {
    val idx = IncrementalDedup.buildIndex(corpusDf, rowsPerBand = 4)
    // yesterday's corpus run really did see TWO clusters ({5} pairs with
    // nothing corpus-side: its exact twin 9 arrives in the DELTA)
    val corpusClusters = idx.labels.select("cluster").as[Long].collect().toSet
    assert(corpusClusters == Set(0L, 2L),
      s"corpus resolution should be {0,1},{2,3}: got reps $corpusClusters")
    val inc = withTmp("incdedup")(keptAppended(_))
    // E bridges {0,1} and {2,3}: one component keeps 0 only; F drops
    // with keeper 5; H survives alone; I2 drops with keeper 19
    assert(inc == Set(0L, 5L, 14L, 19L), s"kept: $inc")
    assert(inc == keptFull, "incremental and full-rerun kept sets diverged")
  }

  test("artifacts round-trip through parquet and serve the same answer") {
    withTmp("incdedup") { tmp =>
      IncrementalDedup.writeIndex(
        IncrementalDedup.buildIndex(corpusDf, rowsPerBand = 4), tmp, rowsPerBand = 4)
      val loaded = IncrementalDedup.readIndex(spark, tmp)
      // the loaded index carries the bucketed probe tables, and the
      // manifest its band geometry
      assert(loaded.bands.nonEmpty && loaded.bandCounts.nonEmpty)
      val geometry = graft.runtime.IndexStatePublisher.current(tmp).geometry
      assert(geometry("k") == 32 && geometry("rows_per_band") == 4, s"geometry: $geometry")
      val kept = IncrementalDedup.appendToIndex(spark, tmp, docsDf, deltaDf)
        .as[Long].collect().toSet
      assert(kept == Set(0L, 5L, 14L, 19L), s"maintained append over the loaded artifacts: $kept")
      // a reader of the published generation serves the same kept set
      val idx = IncrementalDedup.readIndex(spark, tmp)
      val served = DedupResolve.keptFromLabels(idx.hashes.select(col("doc_id")), idx.labels)
        .as[Long].collect().toSet
      assert(served == kept, s"the published generation serves $served")
    }
  }

  test("capped incremental pass with persisted band counts equals capped full semantics on a clean fixture") {
    // no bucket here exceeds cap=32, so the capped pass must equal the
    // uncapped answer exactly — through the PERSISTED bandcounts path
    val kept = withTmp("incdedupcap")(keptAppended(_, bucketCap = 32))
    assert(kept == Set(0L, 5L, 14L, 19L), s"capped kept: $kept")
    // and a cap of 1 drops every multi-member bucket: banded evidence
    // vanishes, only exact-hash stars remain (F=9 still drops)
    val kept1 = withTmp("incdedupcap")(keptAppended(_, bucketCap = 1))
    assert(!kept1.contains(9L), "exact-dup star must survive any cap")
    assert(kept1.contains(24L), "cap=1 should drop the banded near-dup evidence")
  }

  test("persisted band table joins bucket-aware: corpus side is exchange-free") {
    // the r15 delta-proportionality claim, pinned at the plan level: the
    // corpus–delta band join reads the BUCKETED persisted table directly
    // (no Exchange above the corpus scan); only the delta side shuffles
    val tmp = java.nio.file.Files.createTempDirectory("incdedupplan").toString
    try {
      IncrementalDedup.writeIndex(
        IncrementalDedup.buildIndex(corpusDf, rowsPerBand = 4), tmp, rowsPerBand = 4)
      val loaded = IncrementalDedup.readIndex(spark, tmp)
      val deltaBands = Dedup.bandsOf(
        deltaDf.select(col("doc_id"),
          graft.functions.MinHashSig(col("text"), 5, 32).as("sig")), 32, 4)
      val j = loaded.bands.get.alias("a")
        .join(deltaBands.hint("shuffle_hash").alias("b"),
          col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
            col("a.doc_id") =!= col("b.doc_id"))
      val p = j.queryExecution.executedPlan.toString
      val exchanges = p.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("ReusedExchange"))
      assert(exchanges == 1, s"expected ONE exchange (the delta side), plan:\n$p")
      assert(p.contains("Bucketed: true"),
        s"corpus band scan is not a bucketed read, plan:\n$p")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("the bucketed probe plan SURVIVES maintained appends (still one exchange)") {
    // the delta-proportionality claim must hold for the MAINTAINED
    // index too: bucketed-table appends add files per bucket, and if
    // Spark stopped honoring the bucket spec after an append, every
    // later delta pass would silently re-shuffle the corpus side —
    // answers identical, scaling claim gone
    val tmp = java.nio.file.Files.createTempDirectory("incmultiplan").toString
    try {
      val corpus = docsDf.where(col("doc_id").isin(0L, 1L, 2L, 3L, 5L))
      IncrementalDedup.writeIndex(
        IncrementalDedup.buildIndex(corpus, rowsPerBand = 4), tmp, rowsPerBand = 4)
      val all1 = corpus.unionByName(docsDf.where(col("doc_id") === 4L))
      IncrementalDedup.appendToIndex(spark, tmp, all1,
        docsDf.where(col("doc_id") === 4L)).count()
      val all2 = all1.unionByName(docsDf.where(col("doc_id").isin(9L, 24L)))
      IncrementalDedup.appendToIndex(spark, tmp, all2,
        docsDf.where(col("doc_id").isin(9L, 24L))).count()
      val loaded = IncrementalDedup.readIndex(spark, tmp)
      val deltaBands = Dedup.bandsOf(
        docsDf.where(col("doc_id").isin(14L, 19L)).select(col("doc_id"),
          graft.functions.MinHashSig(col("text"), 5, 32).as("sig")), 32, 4)
      val j = loaded.bands.get.alias("a")
        .join(deltaBands.hint("shuffle_hash").alias("b"),
          col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
            col("a.doc_id") =!= col("b.doc_id"))
      val p = j.queryExecution.executedPlan.toString
      val exchanges = p.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("ReusedExchange"))
      assert(exchanges == 1,
        s"post-append probe should still have ONE exchange (the delta side), plan:\n$p")
      assert(p.contains("Bucketed: true"),
        s"post-append corpus band scan is not a bucketed read, plan:\n$p")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("d39 on the shipped corpus: incremental equals the full d14 pipeline") {
    val inc = graft.SparkEntry.queries("d39_incremental_dedup")(spark, sf).as[Long].collect().toSeq
    val full = DedupResolve.corpusDedupPipeline(spark, sf).as[Long].collect().toSeq
    assert(inc == full, "d39 diverged from the full-corpus rerun")
  }

  // ------------------------------------------------ r16: maintained index

  test("d46 fixture: three chained maintained appends equal the full rerun, artifact state included") {
    // deltas: {4} (the bridge), {9, 24} and {14, 19} — split so a LATER
    // append pairs against an EARLIER append's write-back (9's exact twin
    // 5 is corpus, 24's near-dup 19 arrives in the LAST delta, pairing
    // against the SECOND delta's appended band rows)
    val tmp = java.nio.file.Files.createTempDirectory("incmulti").toString
    try {
      val corpus = docsDf.where(col("doc_id").isin(0L, 1L, 2L, 3L, 5L))
      IncrementalDedup.writeIndex(
        IncrementalDedup.buildIndex(corpus, rowsPerBand = 4), tmp, rowsPerBand = 4)
      val d1 = docsDf.where(col("doc_id") === 4L)
      val d2 = docsDf.where(col("doc_id").isin(9L, 24L))
      val d3 = docsDf.where(col("doc_id").isin(14L, 19L))
      val all1 = corpus.unionByName(d1)
      val all2 = all1.unionByName(d2)
      val all3 = all2.unionByName(d3)
      IncrementalDedup.appendToIndex(spark, tmp, all1, d1).count()
      IncrementalDedup.appendToIndex(spark, tmp, all2, d2).count()
      val kept = IncrementalDedup.appendToIndex(spark, tmp, all3, d3)
        .as[Long].collect().toSet
      assert(kept == Set(0L, 5L, 14L, 19L), s"kept after 3 appends: $kept")
      assert(kept == keptFull, "maintained multi-append diverged from the full rerun")
      // the maintained artifacts now cover the accumulated corpus (the
      // induction step of the d46 argument, checked on the persisted
      // state itself)
      val idx = IncrementalDedup.readIndex(spark, tmp)
      assert(idx.pairs.nonEmpty, "maintained index must persist pair evidence")
      val sigCount = idx.sigs.count()
      assert(sigCount == 10L, s"sigs should cover all 10 docs, got $sigCount")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("d47 fixture: deletion splits a bridged cluster and survives exact-star center loss") {
    val tmp = java.nio.file.Files.createTempDirectory("incdel").toString
    try {
      IncrementalDedup.writeIndex(
        IncrementalDedup.buildIndex(docsDf, rowsPerBand = 4), tmp, rowsPerBand = 4)
      // delete the bridge E=4: {0,1} and {2,3} must SPLIT back into two
      // clusters (labels alone cannot do this — the persisted pair
      // evidence can); also delete exact-rep 5 so its twin 9 survives
      // as its group's new representative
      val newLabels = IncrementalDedup.deleteFromIndex(spark, tmp,
        Seq(4L, 5L).toDF("doc_id"))
      val remaining = docsDf.where(!col("doc_id").isin(4L, 5L)).select(col("doc_id"))
      val kept = DedupResolve.keptFromLabels(remaining, newLabels)
        .as[Long].collect().toSet
      // full rerun over the survivors
      val fullPairs = Dedup.lshVerifiedPairsDf(
          docsDf.where(!col("doc_id").isin(4L, 5L)), rowsPerBand = 4)
        .select(col("a_id"), col("b_id"))
      val fullKept = DedupResolve.dedupedDocIds(spark,
          docsDf.where(!col("doc_id").isin(4L, 5L)), fullPairs)
        .as[Long].collect().toSet
      assert(kept == fullKept, s"incremental delete $kept != full rerun $fullKept")
      assert(kept == Set(0L, 2L, 9L, 14L, 19L), s"kept after delete: $kept")
      // tombstones reach the loaded artifacts: deleted ids are gone from
      // every probe surface
      val idx = IncrementalDedup.readIndex(spark, tmp)
      assert(idx.hashes.filter(col("doc_id").isin(4L, 5L)).count() == 0)
      assert(idx.bands.get.filter(col("doc_id").isin(4L, 5L)).count() == 0)
      assert(idx.sigs.filter(col("doc_id").isin(4L, 5L)).count() == 0)
      assert(idx.pairs.get.filter(
        col("a_id").isin(4L, 5L) || col("b_id").isin(4L, 5L)).count() == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("append after delete: a deleted doc cannot resurrect through the index") {
    val tmp = java.nio.file.Files.createTempDirectory("incdelapp").toString
    try {
      val corpus = docsDf.where(col("doc_id") <= 5L)
      IncrementalDedup.writeIndex(
        IncrementalDedup.buildIndex(corpus, rowsPerBand = 4), tmp, rowsPerBand = 4)
      // take down doc 5, then append its exact twin 9: with 5 tombstoned
      // the twin must be KEPT (its only duplicate is gone), not dropped
      // against a ghost hash row
      IncrementalDedup.deleteFromIndex(spark, tmp, Seq(5L).toDF("doc_id"))
      val all = corpus.where(col("doc_id") =!= 5L)
        .unionByName(docsDf.where(col("doc_id") === 9L))
      val kept = IncrementalDedup.appendToIndex(spark, tmp, all,
          docsDf.where(col("doc_id") === 9L))
        .as[Long].collect().toSet
      assert(kept.contains(9L), s"tombstoned 5 resurrected and dropped its twin: $kept")
      assert(!kept.contains(5L), "deleted doc must not appear in the kept set")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("compaction: physically removes tombstoned rows, preserves the answer, collapses count rows") {
    val tmp = java.nio.file.Files.createTempDirectory("inccompact").toString
    try {
      IncrementalDedup.writeIndex(
        IncrementalDedup.buildIndex(docsDf, rowsPerBand = 4), tmp, rowsPerBand = 4)
      IncrementalDedup.deleteFromIndex(spark, tmp, Seq(4L, 5L).toDF("doc_id"))
      val before = DedupResolve.keptFromLabels(
          docsDf.where(!col("doc_id").isin(4L, 5L)).select(col("doc_id")),
          IncrementalDedup.readIndex(spark, tmp).labels)
        .as[Long].collect().toSet
      IncrementalDedup.compactIndex(spark, tmp)
      val m = graft.runtime.IndexStatePublisher.current(tmp)
      assert(m.pathOpt("deleted").isEmpty,
        "the compacted generation should publish no tombstone entry")
      assert(m.geometry == Map("k" -> 32, "rows_per_band" -> 4, "n_buckets" -> 32),
        s"geometry must survive delete and compaction: ${m.geometry}")
      val idx = IncrementalDedup.readIndex(spark, tmp)
      // the deleted rows are physically absent, not filter-hidden
      assert(idx.hashes.count() == 8L, "hashes should hold exactly the 8 survivors")
      assert(idx.sigs.count() == 8L)
      assert(idx.pairs.get.filter(
        col("a_id").isin(4L, 5L) || col("b_id").isin(4L, 5L)).count() == 0)
      // counts collapse back to one row per bucket key
      val dupKeys = idx.bandCounts.get
        .groupBy(col("band"), col("bsig")).count().filter(col("count") > 1).count()
      assert(dupKeys == 0, "compaction should collapse per-append count rows")
      // and the answer is untouched
      val after = DedupResolve.keptFromLabels(
          docsDf.where(!col("doc_id").isin(4L, 5L)).select(col("doc_id")), idx.labels)
        .as[Long].collect().toSet
      assert(after == before, "compaction changed the kept set")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("the bucketed probe plan SURVIVES compaction (still one exchange, fresh generation tables)") {
    // r16 VERDICT #3: the append-path plan pin existed, the compact-path
    // one didn't — and the append-history → one-generation layout
    // transition is exactly where a bucket-spec regression would hide
    val tmp = java.nio.file.Files.createTempDirectory("inccompactplan").toString
    try {
      IncrementalDedup.writeIndex(
        IncrementalDedup.buildIndex(docsDf, rowsPerBand = 4), tmp, rowsPerBand = 4)
      IncrementalDedup.deleteFromIndex(spark, tmp, Seq(4L, 5L).toDF("doc_id"))
      IncrementalDedup.compactIndex(spark, tmp)
      val loaded = IncrementalDedup.readIndex(spark, tmp)
      val deltaBands = Dedup.bandsOf(
        docsDf.where(col("doc_id").isin(14L, 19L)).select(col("doc_id"),
          graft.functions.MinHashSig(col("text"), 5, 32).as("sig")), 32, 4)
      val j = loaded.bands.get.alias("a")
        .join(deltaBands.hint("shuffle_hash").alias("b"),
          col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
            col("a.doc_id") =!= col("b.doc_id"))
      val p = j.queryExecution.executedPlan.toString
      val exchanges = p.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("ReusedExchange"))
      assert(exchanges == 1,
        s"post-compact probe should still have ONE exchange (the delta side), plan:\n$p")
      assert(p.contains("Bucketed: true"),
        s"post-compact corpus band scan is not a bucketed read, plan:\n$p")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("pair evidence is required: writeIndex refuses an index without it, and the written evidence serves append then delete") {
    // an index persisted without its corpus pairs would start its pair
    // artifact at the first append with only that delta's edges; a later
    // delete would re-resolve the touched corpus cluster from that
    // partial evidence and leave its near-dup members as singletons
    val tmp = java.nio.file.Files.createTempDirectory("incpairs").toString
    try {
      val corpus = docsDf.where(col("doc_id") <= 5L) // {0,1,2,3,4} bridged, {5}
      val idx = IncrementalDedup.buildIndex(corpus, rowsPerBand = 4)
      val e = intercept[IllegalArgumentException] {
        IncrementalDedup.writeIndex(idx.copy(pairs = None), tmp, rowsPerBand = 4)
      }
      assert(e.getMessage.contains(tmp), s"the refusal must name the index: ${e.getMessage}")
      assert(graft.runtime.IndexStatePublisher.currentOpt(tmp).isEmpty,
        "a refused write must publish nothing")
      IncrementalDedup.writeIndex(idx, tmp, rowsPerBand = 4)
      val delta = docsDf.where(col("doc_id").isin(9L, 14L))
      IncrementalDedup.appendToIndex(spark, tmp, corpus.unionByName(delta), delta).count()
      // deleting the bridge must split {0,1} from {2,3} — from the CORPUS
      // pairs, which only the carried evidence holds
      val newLabels = IncrementalDedup.deleteFromIndex(spark, tmp, Seq(4L).toDF("doc_id"))
      val surv = docsDf.where(col("doc_id") <= 5L || col("doc_id").isin(9L, 14L))
        .where(col("doc_id") =!= 4L)
      val kept = DedupResolve.keptFromLabels(surv.select(col("doc_id")), newLabels)
        .as[Long].collect().toSet
      val fullKept = DedupResolve.dedupedDocIds(spark, surv,
          Dedup.lshVerifiedPairsDf(surv, rowsPerBand = 4).select(col("a_id"), col("b_id")))
        .as[Long].collect().toSet
      assert(kept == fullKept, s"delete after append $kept != survivor rerun $fullKept")
      assert(kept == Set(0L, 2L, 5L, 14L), s"kept after delete: $kept")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("touched-cluster broadcast is guarded: above the bound the join degrades to shuffle, same answer") {
    val touched = Seq(0L, 2L).toDF("cluster")
    val pSmall = DedupResolve.guardedByCluster(touched)
      .queryExecution.analyzed.toString
    assert(pSmall.toLowerCase.contains("broadcast"),
      s"small side should carry the broadcast hint:\n$pSmall")
    val pBig = DedupResolve.guardedByCluster(touched, maxBroadcast = 1L)
      .queryExecution.analyzed.toString
    assert(!pBig.toLowerCase.contains("broadcast"),
      s"over-bound side must not broadcast:\n$pBig")
    // and the guarded fallback still joins correctly
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 2L), (3L, 2L)).toDF("id", "cluster")
    val viaShuffle = labels
      .join(DedupResolve.guardedByCluster(touched, maxBroadcast = 1L), Seq("cluster"))
      .count()
    assert(viaShuffle == 4L)
  }
}
