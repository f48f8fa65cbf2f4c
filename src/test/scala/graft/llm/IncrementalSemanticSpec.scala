package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.mr.TestSession

/** Semantics of the incremental semantic-dedup append (d45). */
class IncrementalSemanticSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  test("d45: incremental kept set equals the fixed-geometry full rerun") {
    val pairs = Similarity.signLshPairs(spark, sf, nTables = 8, bits = 4, minCos = 0.35)
      .select(col("a_id"), col("b_id"))
    val vecs = graft.Tables.embeddings(spark, sf).select(col("vec_id").as("doc_id"))
    val fullKept = DedupResolve.dedupedDocIds(spark, vecs, pairs)
      .as[Long].collect().toSet
    val incKept = IncrementalSemantic.semanticAppend(spark, sf)
      .as[Long].collect().toSet
    assert(incKept == fullKept)
    // and the delta pass did real cross-split work: at least one corpus
    // member loses only through a delta-involved component
    assert(incKept.size < vecs.count())
  }

  test("d49: deletion equals the survivor rerun and tombstones reach every artifact") {
    val all = graft.Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.functions.FloatVecDot(col("embedding"), col("embedding"))))
      .localCheckpoint(true)
    val inc = IncrementalSemantic.semanticDelete(spark, sf).as[Long].collect().toSet
    val survPairs = Similarity.signLshPairs(spark, sf, nTables = 8, bits = 4, minCos = 0.35)
      .filter(col("a_id") % 7 =!= 3 && col("b_id") % 7 =!= 3)
      .select(col("a_id"), col("b_id"))
    // NOTE this full-rerun twin is only valid because per-vector
    // bucketing is deterministic: rerun pairs over survivors = all
    // pairs restricted to surviving endpoints
    val fullKept = DedupResolve.dedupedDocIds(spark,
        all.where(col("vec_id") % 7 =!= 3).select(col("vec_id").as("doc_id")), survPairs)
      .as[Long].collect().toSet
    assert(inc == fullKept, "semantic deletion diverged from the survivor rerun")
    assert(inc.forall(_ % 7 != 3), "a deleted vector appeared in the kept set")
  }

  test("d49 compaction: tombstones physically removed, kept set unchanged") {
    val all = graft.Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.functions.FloatVecDot(col("embedding"), col("embedding"))))
      .localCheckpoint(true)
    val corpusE = all
      .withColumn("sigs", graft.functions.SignLshBuckets(col("embedding"), 8, 4))
      .localCheckpoint(true)
    val pairs = IncrementalSemantic.corpusPairs(corpusE).localCheckpoint(true)
    val tmp = java.nio.file.Files.createTempDirectory("semcompact").toString
    try {
      IncrementalSemantic.writeIndex(corpusE, DedupResolve.resolveClusters(pairs),
        tmp, nBuckets = 8, pairs = Some(pairs))
      val newLabels = IncrementalSemantic.deleteVectors(spark, tmp,
        all.where(col("vec_id") % 7 === 3).select(col("vec_id")))
      val before = DedupResolve.keptFromLabels(
          all.where(col("vec_id") % 7 =!= 3).select(col("vec_id").as("doc_id")), newLabels)
        .as[Long].collect().toSet
      IncrementalSemantic.compactIndex(spark, tmp)
      val m = graft.runtime.IndexStatePublisher.current(tmp)
      assert(m.pathOpt("deleted").isEmpty)
      assert(m.geometry == Map("n_buckets" -> 8, "n_tables" -> 8, "bits" -> 4),
        s"geometry must survive delete and compaction: ${m.geometry}")
      val idx = IncrementalSemantic.readIndex(spark, tmp)
      assert(idx.buckets.filter(col("vec_id") % 7 === 3).count() == 0,
        "compaction left tombstoned bucket rows on disk")
      val after = DedupResolve.keptFromLabels(
          all.where(col("vec_id") % 7 =!= 3).select(col("vec_id").as("doc_id")), idx.labels)
        .as[Long].collect().toSet
      assert(after == before, "compaction changed the kept set")
      // a mutation after compaction reads the compacted pair layout: a
      // second takedown must still equal the survivor rerun over both
      def dead(c: org.apache.spark.sql.Column) = c % 7 === 3 || c % 11 === 5
      val relabeled = IncrementalSemantic.deleteVectors(spark, tmp,
        all.where(col("vec_id") % 11 === 5).select(col("vec_id")))
      val survivors = all.where(!dead(col("vec_id"))).select(col("vec_id").as("doc_id"))
      val twice = DedupResolve.keptFromLabels(survivors, relabeled).as[Long].collect().toSet
      val survPairs = Similarity.signLshPairs(spark, sf, nTables = 8, bits = 4, minCos = 0.35)
        .filter(!dead(col("a_id")) && !dead(col("b_id")))
        .select(col("a_id"), col("b_id"))
      val rerun = DedupResolve.dedupedDocIds(spark, survivors, survPairs).as[Long].collect().toSet
      assert(twice == rerun, "a delete after compaction diverged from the survivor rerun")
      assert(graft.runtime.IndexStatePublisher.current(tmp).epochs("pairs") == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("d53: the maintained capped probe reads the bucket table bucket-aware") {
    // the d39/d46 plan discipline on the semantic family: the corpus
    // side of the delta probe must be a BUCKETED scan (no corpus-side
    // exchange) — what keeps a maintained append delta-proportional
    val all = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.functions.FloatVecDot(col("embedding"), col("embedding"))))
      .localCheckpoint(true)
    val cap = IncrementalSemantic.semLedgerCap(all.count())
    val base = IncrementalSemantic.withSigs(all.filter(col("vec_id") % 4 === 0))
      .localCheckpoint(true)
    val tmp = java.nio.file.Files.createTempDirectory("semledplan").toString
    try {
      val (pairs0, over0) = IncrementalSemantic.corpusPairsWithLedger(base, cap)
      val p0 = pairs0.localCheckpoint(true)
      IncrementalSemantic.writeIndex(base, DedupResolve.resolveClusters(p0), tmp,
        nBuckets = 8, pairs = Some(p0), capLedger0 = Some(over0))
      val idx = IncrementalSemantic.readIndex(spark, tmp)
      // the probe the maintained append runs: delta buckets against the
      // persisted corpus bucket table
      val db = IncrementalSemantic.bucketsOf(
        IncrementalSemantic.withSigs(all.filter(col("vec_id") % 4 === 1)))
      val p = idx.buckets.alias("a")
        .join(db.hint("shuffle_hash").alias("b"),
          col("a.table_id") === col("b.table_id") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"),
        s"corpus bucket scan is not a bucketed read:\n$p")
      // and the persisted per-bucket counts exist for the cap's
      // delta-touched probe
      assert(!idx.bucketCounts.isEmpty, "ledgered index must persist bucket counts")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("d45: the persisted bucket table round-trips with its exact column types") {
    // regression pin for the silent-empty-probe failure class: a
    // BIGINT DDL over SignLshBuckets' int32 bucket column read as null
    // and emptied every corpus-delta probe (kept 370 vs 316) — the DDL
    // must reproduce the written schema exactly
    val all = graft.Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.functions.FloatVecDot(col("embedding"), col("embedding"))))
    val corpusE = all.filter(col("vec_id") % 5 < 4)
      .withColumn("sigs", graft.functions.SignLshBuckets(col("embedding"), 8, 4))
      .localCheckpoint(true)
    val tmp = java.nio.file.Files.createTempDirectory("incsemtypes").toString
    try {
      val pairs = IncrementalSemantic.corpusPairs(corpusE).localCheckpoint(true)
      IncrementalSemantic.writeIndex(corpusE, DedupResolve.resolveClusters(pairs), tmp,
        pairs = Some(pairs))
      val idx = IncrementalSemantic.readIndex(spark, tmp)
      val n = idx.buckets.where(col("bucket").isNotNull).count()
      assert(n > 0 && n == idx.buckets.count(),
        "bucket column read back null — DDL/parquet type mismatch")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }
}
