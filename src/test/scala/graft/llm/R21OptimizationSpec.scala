package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.mr.TestSession

/** Focused pins for the round-21 optimization internals: index
  * geometry read from the published manifest (no Spark job, no `meta`
  * dir), the enriched [[graft.runtime.Par]] failure contract
  * (suppressed siblings), the
  * resolve-before-write delete paths (deleteVectors / deleteFromIndex
  * return labels identical to the published artifact), and the
  * CpSlot-compatible checkpoint clamp (clamped frames keep the bare
  * LogicalRDD plan the BPE release machinery pattern-matches).
  */
class R21OptimizationSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("manifest geometry: zero-job read, as written, no meta dir") {
    val docs = (0L until 60L).map(i => (i, s"topic ${i % 7} note ${i % 5} body ${i % 3}"))
      .toDF("doc_id", "text").transform(graft.runtime.Ckpt.eager)
    val sigs = docs
      .select(col("doc_id"), graft.functions.SimHashSig(col("text"), 32).as("sig"))
      .transform(graft.runtime.Ckpt.eager)
    val vecs = (0L until 60L)
      .map(i => (i, Array.tabulate(16)(j => math.sin(i % 9 + j * 0.7).toFloat)))
      .toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(graft.functions.FloatVecDot(col("embedding"), col("embedding"))))
    val corpusE = IncrementalSemantic.withSigs(vecs, 8, 4).transform(graft.runtime.Ckpt.eager)
    val grams = Seq(1L, 2L, 3L).toDF("gk")
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(16)
    val writes: Seq[(String, String => Unit, Map[String, Int])] = Seq(
      ("dedup", dir => IncrementalDedup.writeIndex(
          IncrementalDedup.buildIndex(docs, rowsPerBand = 4), dir,
          k = 32, rowsPerBand = 4, nBuckets = 8),
        Map("k" -> 32, "rows_per_band" -> 4, "n_buckets" -> 8)),
      ("sig", dir => IncrementalSig.writeIndex(sigs,
          Dedup.hammingPairs(sigs, 32, 4, 7), dir, 32, 4, nBuckets = 6),
        Map("bits" -> 32, "n_bands" -> 4, "n_buckets" -> 6)),
      ("semantic", dir => IncrementalSemantic.writeIndex(corpusE,
          DedupResolve.resolveClusters(IncrementalSemantic.corpusPairs(corpusE)), dir,
          nBuckets = 5, nTables = 8, bits = 4, pairs = Some(IncrementalSemantic.corpusPairs(corpusE))),
        Map("n_buckets" -> 5, "n_tables" -> 8, "bits" -> 4)),
      ("contam", dir => IncrementalContam.writeIndex(
          IncrementalContam.ContamIndex(bloom, grams, Seq((1L, 0, 7)).toDF("doc_id",
            "span_start", "span_end")), dir, nBuckets = 4),
        Map("n_buckets" -> 4)))
    writes.foreach { case (family, write, expected) =>
      val dir = java.nio.file.Files.createTempDirectory(s"geom-$family").toString
      try {
        write(dir)
        val (geometry, jobs) =
          R21OptimizationSpec.jobsOf(spark)(graft.runtime.IndexStatePublisher.current(dir).geometry)
        assert(jobs == 0, s"$family: resolving geometry ran $jobs Spark jobs")
        assert(geometry == expected, s"$family: manifest geometry $geometry")
        assert(!new java.io.File(s"$dir/meta").exists(), s"$family: a meta dir was written")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      }
    }
  }

  test("Par.run: sibling failures are attached as suppressed, not swallowed") {
    val e = intercept[RuntimeException] {
      graft.runtime.Par.run(
        () => throw new RuntimeException("first"),
        () => { Thread.sleep(30); throw new IllegalStateException("second") },
        () => ())
    }
    val all = (e.getMessage +: e.getSuppressed.toSeq.map(_.getMessage)).toSet
    assert(all == Set("first", "second"),
      s"one failure rethrown, the other suppressed; got $all")
  }

  test("deleteVectors: returned labels equal the published artifact (resolve-before-write)") {
    val sf = "/root/testdata/sf0.001"
    val all = graft.Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.functions.FloatVecDot(col("embedding"), col("embedding"))))
      .transform(graft.runtime.Ckpt.eager)
    val corpusE = all
      .withColumn("sigs", graft.functions.SignLshBuckets(col("embedding"), 8, 4))
      .transform(graft.runtime.Ckpt.eager)
    val pairs = IncrementalSemantic.corpusPairs(corpusE).transform(graft.runtime.Ckpt.eager)
    val tmp = java.nio.file.Files.createTempDirectory("semdelr21").toString
    try {
      IncrementalSemantic.writeIndex(corpusE, DedupResolve.resolveClusters(pairs),
        tmp, nBuckets = 8, pairs = Some(pairs))
      val ret = IncrementalSemantic.deleteVectors(spark, tmp,
        all.where(col("vec_id") % 7 === 3).select(col("vec_id")))
      val m = graft.runtime.IndexStatePublisher.current(tmp)
      assert(m.gen == 1 && m.pathOpt("deleted").nonEmpty,
        "delete must advance the manifest and record tombstones")
      val onDisk = spark.read.parquet(s"$tmp/${m.path("labels")}")
      val retSet = ret.as[(Long, Long)].collect().toSet
      val diskSet = onDisk.as[(Long, Long)].collect().toSet
      assert(retSet == diskSet,
        "returned labels must be exactly the published label artifact")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("clamped checkpoint keeps the bare-LogicalRDD shape CpSlot releases") {
    import org.apache.spark.sql.execution.LogicalRDD
    // build a frame whose inherited estimate EXCEEDS the cap (chained
    // checkpointed self-joins — the compounding shape), so the clamp's
    // rebuild branch actually fires, then verify the released contract
    var cur = spark.range(64).toDF("id").transform(graft.runtime.Ckpt.eager)
    (1 to 4).foreach { _ =>
      val r = cur.select(col("id").as("rid"))
      cur = cur.join(r, col("id") === col("rid"))
        .select(col("id"))
        .transform(graft.runtime.Ckpt.eager)
    }
    cur.queryExecution.logical match {
      case lr: LogicalRDD =>
        assert(lr.stats.sizeInBytes <= graft.runtime.Ckpt.CapBytes)
        // the BPE CpSlot release path: unpersist through the plan's own RDD
        lr.rdd.unpersist(false)
        assert(lr.rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE,
          "clamped checkpoint's RDD must be releasable through the plan")
      case other => fail(s"clamped checkpoint must stay a bare LogicalRDD, got $other")
    }
  }
}

object R21OptimizationSpec {
  /** The Spark jobs `body` starts, counted by a listener over a unique
    * job group. A sentinel job in the same group closes the count: the
    * listener bus delivers in order, so once the sentinel's start has
    * arrived every job `body` started has been counted.
    */
  def jobsOf[T](spark: org.apache.spark.sql.SparkSession)(body: => T): (T, Int) = {
    val group = s"jobs-of-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (p.exists(_.getProperty("spark.job.description") == sentinel)) done.countDown()
          else seen.incrementAndGet()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "geometry probe")
      val out =
        try {
          val r = body
          spark.sparkContext.setJobDescription(sentinel)
          spark.range(1).count()
          r
        } finally spark.sparkContext.clearJobGroup()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS), "sentinel job never arrived")
      (out, seen.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
