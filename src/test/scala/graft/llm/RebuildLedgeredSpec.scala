package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.mr.TestSession
import graft.runtime.IndexStatePublisher

/** The scheduled-rebuild half of the ledgered lifecycle (r18 VERDICT
  * ask #2): `rebuildLedgered` is the compaction the ledgered refusal
  * recommends — engine code, under the writer lock, into fresh
  * generation-suffixed directories with a fresh EPOCH-0 ledger — and
  * `maintainIvfSq8IndexDir` is the ANN analogue composing trigger →
  * retrain → re-tune → republish.
  */
class RebuildLedgeredSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  private def sigsOf(d: org.apache.spark.sql.DataFrame) = d
    .select(col("doc_id"), graft.functions.SimHashSig(col("text"), 32).as("sig"))
    .where(col("sig") =!= lit(graft.functions.SimHashSig.Empty))

  test("signature rebuildLedgered: fresh epoch-0 ledger, equals a fresh capped build over survivors, post-rebuild appends compose") {
    val docs = graft.Tables.documents(spark, sf)
    val cap = 8
    val tmp = java.nio.file.Files.createTempDirectory("sigrebuild").toString
    try {
      // ledgered build + capped append + takedown (the d51 + delete life)
      val base = sigsOf(docs.where(col("doc_id") % 3 === 0))
      val (pairs0, over0) = IncrementalSig.buildPairsWithLedger(base, 32, 8, 7, cap)
      IncrementalSig.writeIndex(base, pairs0, tmp, 32, 8, nBuckets = 8,
        capLedger0 = Some(over0))
      IncrementalSig.appendToIndex(spark, tmp,
        sigsOf(docs.where(col("doc_id") % 3 === 1)), 7, bucketCap = cap)
      IncrementalSig.deleteDocs(spark, tmp,
        docs.where(col("doc_id") % 7 === 3).select(col("doc_id")))
      // compaction refuses and names the rebuild
      val ex = intercept[IllegalArgumentException] {
        IncrementalSig.compactIndex(spark, tmp)
      }
      assert(ex.getMessage.contains("rebuildLedgered"))
      // the rebuild: fresh epoch-0 everything, tombstones gone
      IncrementalSig.rebuildLedgered(spark, tmp, 7, cap)
      val m = IndexStatePublisher.current(tmp)
      assert(m.pathOpt("deleted").isEmpty, "tombstone entry must be dropped")
      assert(m.epochs("pairs") == 0 && m.epochs("capledger") == 0,
        s"history must collapse to epoch 0: ${m.epochs}")
      val geometry = Map("bits" -> 32, "n_bands" -> 8, "n_buckets" -> 8)
      assert(m.geometry == geometry, s"geometry must survive every publish: ${m.geometry}")
      val surv = docs.where(col("doc_id") % 3 <= 1 && col("doc_id") % 7 =!= 3)
      val rebuilt = IncrementalSig.readIndex(spark, tmp).pairs
        .as[(Long, Long, Int)].collect().toSet
      val fresh = IncrementalSig.buildPairsWithLedger(sigsOf(surv), 32, 8, 7, cap)
        ._1.as[(Long, Long, Int)].collect().toSet
      assert(rebuilt == fresh,
        s"rebuilt != fresh capped build over survivors: ${rebuilt.size} vs ${fresh.size}")
      assert(IncrementalSig.readCapLedger(spark, tmp).count() > 0,
        "fresh ledger never bound — vacuous")
      // post-rebuild capped appends stay rerun-reproducible: survivors
      // are epoch 0 of the NEW history, the delta is epoch 1
      IncrementalSig.appendToIndex(spark, tmp,
        sigsOf(docs.where(col("doc_id") % 3 === 2)), 7, bucketCap = cap)
      val artifact = IncrementalSig.readIndex(spark, tmp).pairs
        .as[(Long, Long, Int)].collect().toSet
      val replay = IncrementalSig.rerunWithLedger(spark, tmp,
          sigsOf(docs.where(col("doc_id") % 3 <= 1 && col("doc_id") % 7 =!= 3))
            .withColumn("epoch", lit(0))
            .unionByName(sigsOf(docs.where(col("doc_id") % 3 === 2))
              .withColumn("epoch", lit(1))), 7)
        .as[(Long, Long, Int)].collect().toSet
      assert(artifact == replay,
        s"post-rebuild append broke the replay: ${artifact.size} vs ${replay.size}")
      assert(IndexStatePublisher.current(tmp).geometry == geometry)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("minhash rebuildLedgered: equals a fresh capped build over survivors; the corpus count guard is loud") {
    val docs = graft.Tables.documents(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("dedrebuild").toString
    try {
      val (idx0, over0) = IncrementalDedup.buildIndexWithLedger(
        docs.where(col("doc_id") % 3 === 0), k = 32, rowsPerBand = 4,
        bucketCap = IncrementalDedup.LedgerCap)
      IncrementalDedup.writeIndex(idx0, tmp, k = 32, rowsPerBand = 4,
        nBuckets = 8, capLedger0 = Some(over0))
      IncrementalDedup.appendToIndex(spark, tmp,
        docs.where(col("doc_id") % 3 <= 1), docs.where(col("doc_id") % 3 === 1),
        bucketCap = IncrementalDedup.LedgerCap)
      IncrementalDedup.deleteFromIndex(spark, tmp,
        docs.where(col("doc_id") % 7 === 3).select(col("doc_id")))
      val surv = docs.where(col("doc_id") % 3 <= 1 && col("doc_id") % 7 =!= 3)
      // wrong corpus → loud refusal, index untouched
      val before = IndexStatePublisher.current(tmp).gen
      intercept[IllegalArgumentException] {
        IncrementalDedup.rebuildLedgered(spark, tmp,
          docs.where(col("doc_id") % 3 <= 1), IncrementalDedup.LedgerCap)
      }
      assert(IndexStatePublisher.current(tmp).gen == before,
        "a refused rebuild must not advance the manifest")
      IncrementalDedup.rebuildLedgered(spark, tmp, surv, IncrementalDedup.LedgerCap)
      val m = IndexStatePublisher.current(tmp)
      assert(m.pathOpt("deleted").isEmpty && m.epochs("capledger") == 0)
      assert(m.geometry == Map("k" -> 32, "rows_per_band" -> 4, "n_buckets" -> 8),
        s"geometry must survive every publish: ${m.geometry}")
      val rebuilt = DedupResolve.keptFromLabels(surv.select(col("doc_id")),
          IncrementalDedup.readIndex(spark, tmp).labels)
        .as[Long].collect().toSet
      val (freshIdx, _) = IncrementalDedup.buildIndexWithLedger(surv,
        k = 32, rowsPerBand = 4, bucketCap = IncrementalDedup.LedgerCap)
      val fresh = DedupResolve.keptFromLabels(surv.select(col("doc_id")),
          freshIdx.labels)
        .as[Long].collect().toSet
      assert(rebuilt == fresh,
        s"rebuilt != fresh capped build over survivors: ${rebuilt.size} vs ${fresh.size}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("semantic rebuildLedgered: equals a fresh capped build over survivors") {
    val all = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.functions.FloatVecDot(col("embedding"), col("embedding"))))
      .localCheckpoint(true)
    val cap = IncrementalSemantic.semLedgerCap(all.count())
    val tmp = java.nio.file.Files.createTempDirectory("semrebuild").toString
    try {
      val base = IncrementalSemantic.withSigs(all.filter(col("vec_id") % 3 === 0))
        .localCheckpoint(true)
      val (pairs0, over0) = IncrementalSemantic.corpusPairsWithLedger(base, cap)
      val pairs0c = pairs0.localCheckpoint(true)
      IncrementalSemantic.writeIndex(base, DedupResolve.resolveClusters(pairs0c),
        tmp, nBuckets = 8, pairs = Some(pairs0c), capLedger0 = Some(over0))
      IncrementalSemantic.appendToIndex(spark, tmp,
        all.filter(col("vec_id") % 3 <= 1), all.filter(col("vec_id") % 3 === 1),
        bucketCap = cap)
      IncrementalSemantic.deleteVectors(spark, tmp,
        all.where(col("vec_id") % 7 === 3).select(col("vec_id")))
      val surv = all.filter(col("vec_id") % 3 <= 1 && col("vec_id") % 7 =!= 3)
        .localCheckpoint(true)
      val survCap = IncrementalSemantic.semLedgerCap(surv.count())
      // wrong vectors → loud refusal, index untouched
      val before = IndexStatePublisher.current(tmp).gen
      intercept[IllegalArgumentException] {
        IncrementalSemantic.rebuildLedgered(spark, tmp, all.filter(col("vec_id") % 3 <= 1), survCap)
      }
      assert(IndexStatePublisher.current(tmp).gen == before,
        "a refused rebuild must not advance the manifest")
      IncrementalSemantic.rebuildLedgered(spark, tmp, surv, survCap)
      val m = IndexStatePublisher.current(tmp)
      assert(m.pathOpt("deleted").isEmpty && m.epochs("capledger") == 0)
      val geometry = Map("n_buckets" -> 8, "n_tables" -> 8, "bits" -> 4)
      assert(m.geometry == geometry, s"geometry must survive every publish: ${m.geometry}")
      val rebuilt = DedupResolve.keptFromLabels(
          surv.select(col("vec_id").as("doc_id")),
          IncrementalSemantic.readIndex(spark, tmp).labels)
        .select(col("doc_id")).as[Long].collect().toSet
      val (freshPairs, _) = IncrementalSemantic.corpusPairsWithLedger(
        IncrementalSemantic.withSigs(surv).localCheckpoint(true), survCap)
      val fresh = DedupResolve.keptFromLabels(
          surv.select(col("vec_id").as("doc_id")),
          DedupResolve.resolveClusters(freshPairs))
        .select(col("doc_id")).as[Long].collect().toSet
      assert(rebuilt == fresh,
        s"rebuilt != fresh capped build over survivors: ${rebuilt.size} vs ${fresh.size}")
      // and the rebuilt index accepts capped appends again
      IncrementalSemantic.appendToIndex(spark, tmp,
        surv.unionByName(all.filter(col("vec_id") % 3 === 2)),
        all.filter(col("vec_id") % 3 === 2), bucketCap = survCap)
      assert(IndexStatePublisher.current(tmp).epochs("capledger") == 1)
      assert(IndexStatePublisher.current(tmp).geometry == geometry)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("ANN maintain: below-ratio reports frozen geometry; above-ratio rebuild retrains, re-tunes, republishes, and serves the drifted mass") {
    import graft.llm.Similarity
    val all = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.functions.FloatVecDot(col("embedding"), col("embedding"))))
      .localCheckpoint(true)
    val corpus = all.filter(col("vec_id") < 400).localCheckpoint(true)
    val idxDir = java.nio.file.Files.createTempDirectory("annmaint").toString
    try {
      Similarity.writeIvfSq8Index(
        Similarity.buildIvfSq8IndexFrom(corpus, nCells = 16, sampleN = 200), idxDir)
      val m0 = IndexStatePublisher.current(idxDir)
      // small append: 10% < the 0.2 trigger — NOT due; live geometry reported
      val d1 = all.filter(col("vec_id") >= 400 && col("vec_id") < 440)
      Similarity.appendVectorsToIndexDir(spark, idxDir, d1)
      val r1 = Similarity.maintainIvfSq8IndexDir(spark, idxDir,
        corpus.unionByName(d1))
      assert(!r1.rebuilt && r1.nCells == 16 && r1.nProbe == 2,
        s"below-ratio maintenance must be a no-op: $r1")
      assert(r1.indexedN == 400 && r1.appendedN == 40, s"trigger counts: $r1")
      // second append pushes past the ratio — due; wrong corpus refused
      val d2 = all.filter(col("vec_id") >= 440 && col("vec_id") < 500)
      Similarity.appendVectorsToIndexDir(spark, idxDir, d2)
      val acc = corpus.unionByName(d1).unionByName(d2).localCheckpoint(true)
      intercept[IllegalArgumentException] {
        Similarity.maintainIvfSq8IndexDir(spark, idxDir, corpus)
      }
      val genBefore = IndexStatePublisher.current(idxDir).gen
      val r2 = Similarity.maintainIvfSq8IndexDir(spark, idxDir, acc)
      assert(r2.rebuilt, s"25% append must trigger at the 0.2 default: $r2")
      assert(r2.nCells == Similarity.cellsFor(500) &&
        r2.nProbe == Similarity.probeFor(r2.nCells),
        s"rebuild must re-derive the d54 geometry: $r2")
      val m = IndexStatePublisher.current(idxDir)
      assert(m.gen == genBefore + 1 && m.epochs("cells") == 0,
        s"rebuild must republish with collapsed epochs: gen ${m.gen}, ${m.epochs}")
      val idx = Similarity.readIvfSq8Index(spark, idxDir)
      assert(idx.cells.count() == 500 && idx.codes.count() == 500,
        "rebuilt artifact must cover the accumulated corpus")
      assert(idx.centroids.count() == r2.nCells)
      // both generations record their trained cell count as geometry
      assert(Seq(m0 -> r1, m -> r2).forall { case (g, r) =>
          g.geom(idxDir, "n_cells") == r.nCells &&
            Similarity.readIvfSq8IndexAt(spark, idxDir, g).centroids.count() == r.nCells
        }, s"n_cells: gen 0 ${m0.geometry}, retrained ${m.geometry}")
      // the retrained quantizer serves an APPENDED (drifted) vector: an
      // exact twin of an appended query must surface as its own top hit
      val q = all.filter(col("vec_id") === 450L)
        .select(lit(999999L).as("qid_src"), col("embedding"), col("nrm"))
        .withColumnRenamed("qid_src", "vec_id")
        .localCheckpoint(true)
      val served = Similarity.ivfSq8KnnFromIndex(q, idx, r2.nProbe)
        .select(col("nid")).as[Long].collect().toSet
      assert(served.contains(450L),
        s"the appended twin must be served after the rebuild: $served")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxDir))
    }
  }
}
