package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.mr.TestSession

/** Focused pins for the round-20 optimization internals: the folded
  * label-propagation init in [[DedupResolve.resolveClustersCounted]],
  * the checkpoint statistics clamp ([[graft.runtime.Ckpt]] /
  * GraftShims.clampCheckpointStats), the parallel-action helper
  * ([[graft.runtime.Par]]), and the bucket-aligned bucketed write
  * ([[graft.runtime.IndexStore.writeBucketed]]).
  */
class R20OptimizationSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("resolveClusters: folded init still converges to component-min on a long chain") {
    // a 9-node CHAIN (worst case for plain propagation) + an isolated pair
    val pairs = ((1L to 8L).map(i => (i, i + 1)) :+ (100L, 101L))
      .toDF("a_id", "b_id")
    val (labels, iters) = DedupResolve.resolveClustersCounted(pairs)
    val m = labels.as[(Long, Long)].collect().toMap
    (1L to 9L).foreach(i => assert(m(i) == 1L, s"node $i → ${m(i)}"))
    assert(m(100L) == 100L && m(101L) == 100L)
    // pointer jumping squares reach per round: a diameter-8 chain must
    // close in well under 8 propagation rounds (fold counts as round 1)
    assert(iters <= 5, s"chain took $iters rounds")
  }

  test("resolveClusters: empty and self-pair inputs") {
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(DedupResolve.resolveClusters(empty).count() == 0)
    val selfy = Seq((7L, 7L)).toDF("a_id", "b_id")
    val m = DedupResolve.resolveClusters(selfy).as[(Long, Long)].collect().toMap
    assert(m(7L) == 7L)
  }

  /** The (id, cluster) set of a label table. */
  private def labelSet(labels: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    labels.as[(Long, Long)].collect().toSet

  /** The graphs the driver resolve is pinned on, as (a_id, b_id) rows. */
  private def graphs: Seq[(String, Seq[(Long, Long)])] = {
    val rnd = new scala.util.Random(42)
    Seq(
      "empty" -> Nil,
      "self-pair" -> Seq((7L, 7L)),
      "9-chain + isolated pair" -> ((1L to 8L).map(i => (i, i + 1)) :+ (100L, 101L)),
      "star" -> (1L to 30L).map(i => (50L, 50L + i)),
      "duplicate and reversed edges" -> Seq((3L, 1L), (1L, 3L), (1L, 3L), (5L, 3L), (9L, 8L), (8L, 9L)),
      "seeded random" -> Seq.fill(3000)((rnd.nextInt(4000).toLong, rnd.nextInt(4000).toLong)))
  }

  test("resolveClusters: the driver resolve equals the Spark loop on every pinned graph") {
    graphs.foreach { case (name, edges) =>
      val pairs = edges.toDF("a_id", "b_id")
      assert(labelSet(DedupResolve.resolveClusters(pairs)) ==
        labelSet(DedupResolve.resolveClustersCounted(pairs)._1), name)
    }
  }

  test("resolveClusters: over the edge budget the Spark loop answers, with the same labels") {
    val pairs = ((1L to 8L).map(i => (i, i + 1)) :+ (100L, 101L)).toDF("a_id", "b_id")
    val fallback = DedupResolve.resolveWithin(pairs, maxEdges = 4L)
    assert(fallback.queryExecution.logical.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      "a graph over the budget must resolve through the checkpointed Spark loop")
    assert(labelSet(fallback) == labelSet(DedupResolve.resolveClusters(pairs)))
  }

  test("resolveClusters: a small resolve runs at most one Spark job, into one partition") {
    // one input partition, the shape AQE gives a small shuffle output: the
    // limit collect scans one partition per job and widens the scan when
    // it has not seen enough rows, so a wider input may take a second job
    val pairs = ((1L to 8L).map(i => (i, i + 1)) :+ (100L, 101L)).toDF("a_id", "b_id")
      .coalesce(1).transform(graft.runtime.Ckpt.eager)
    val (labels, jobs) = R21OptimizationSpec.jobsOf(spark)(DedupResolve.resolveClusters(pairs))
    assert(jobs <= 1, s"a small resolve ran $jobs Spark jobs")
    assert(labels.rdd.getNumPartitions == 1)
  }

  test("checkpoint stats clamp: huge inherited estimates are capped, small ones kept") {
    import org.apache.spark.sql.execution.LogicalRDD
    val small = Seq((1L, 2L)).toDF("a", "b")
    def ckptStats(df: org.apache.spark.sql.DataFrame): BigInt =
      df.transform(graft.runtime.Ckpt.eager)
        .queryExecution.logical.asInstanceOf[LogicalRDD].stats.sizeInBytes
    val smallStats = ckptStats(small)
    assert(smallStats <= graft.runtime.Ckpt.CapBytes,
      s"small frame's honest estimate must be far below the cap: $smallStats")
    // chain checkpoints the way the lifecycle loops do: estimate must
    // never exceed the cap no matter how deep the composition
    var cur = spark.range(100).toDF("id").transform(graft.runtime.Ckpt.eager)
    (1 to 4).foreach { _ =>
      val r = cur.select(col("id").as("rid"))
      cur = cur.join(r, col("id") === col("rid"))
        .select(col("id"))
        .transform(graft.runtime.Ckpt.eager)
    }
    val chained = cur.queryExecution.logical.asInstanceOf[LogicalRDD].stats.sizeInBytes
    assert(chained <= graft.runtime.Ckpt.CapBytes,
      s"chained checkpoint estimate must stay clamped, got $chained")
    // and the data itself is untouched
    assert(cur.count() == 100)
  }

  test("Par.run: all thunks execute; the first failure propagates after all complete") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.runtime.Par.run(
      () => { ran.incrementAndGet(); () },
      () => { ran.incrementAndGet(); () },
      () => { ran.incrementAndGet(); () })
    assert(ran.get() == 3)
    val survived = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[RuntimeException] {
      graft.runtime.Par.run(
        () => throw new RuntimeException("boom"),
        () => { Thread.sleep(50); survived.set(true) })
    }
    assert(e.getMessage == "boom")
    assert(survived.get(), "sibling thunk must complete before the failure rethrows")
  }

  test("post-delete semantic probe keeps the bucketed one-shuffle plan (the d56 read path)") {
    // r19 VERDICT #1's asked pin: after a takedown, the maintained
    // append's corpus-side probe reads the TOMBSTONE-FILTERED bucket
    // view — the broadcast anti-join must not cost the bucketed layout
    // its exchange-free corpus side (only the delta side may shuffle;
    // tombstones ride a BroadcastExchange, which moves no corpus rows)
    val sf = "/root/testdata/sf0.001"
    val all = graft.Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.functions.FloatVecDot(col("embedding"), col("embedding"))))
      .localCheckpoint(true)
    val corpusE = all
      .withColumn("sigs", graft.functions.SignLshBuckets(col("embedding"), 8, 4))
      .localCheckpoint(true)
    val pairs = IncrementalSemantic.corpusPairs(corpusE).localCheckpoint(true)
    val tmp = java.nio.file.Files.createTempDirectory("semdelplan").toString
    try {
      IncrementalSemantic.writeIndex(corpusE, DedupResolve.resolveClusters(pairs),
        tmp, nBuckets = 8, pairs = Some(pairs))
      IncrementalSemantic.deleteVectors(spark, tmp,
        all.where(col("vec_id") % 7 === 3).select(col("vec_id")))
      val idx = IncrementalSemantic.readIndex(spark, tmp) // tombstone-filtered
      val db = IncrementalSemantic.bucketsOf(
        IncrementalSemantic.withSigs(all.where(col("vec_id") % 5 === 0)))
      val j = idx.buckets.alias("a")
        .join(db.hint("shuffle_hash").alias("b"),
          col("a.table_id") === col("b.table_id") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") =!= col("b.vec_id"))
      val p = j.queryExecution.executedPlan.toString
      val shuffles = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(shuffles == 1,
        s"post-delete probe should shuffle ONLY the delta side, plan:\n$p")
      assert(p.contains("Bucketed: true"),
        s"post-delete corpus bucket scan is not a bucketed read, plan:\n$p")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("writeBucketed: emits exactly nBuckets files and reads back bucketed") {
    val dir = graft.runtime.IndexStore.tempIndexDir("graft-wbtest")
    val df = spark.range(0, 1000).select(
      (col("id") % 97).cast("int").as("k1"), col("id").as("v"))
      .repartition(13) // deliberately misaligned input partitioning
    val tbl = graft.runtime.IndexStore.tableFor("graft_wbtest_", s"$dir/t")
    graft.runtime.IndexStore.writeBucketed(df, 4, s"$dir/t", tbl, "overwrite", "k1")
    val files = new java.io.File(s"$dir/t").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(files.length == 4, s"expected 4 bucket files, got ${files.length}")
    val back = spark.table(tbl)
    assert(back.count() == 1000)
    // bucket-aligned: a groupBy on the bucket key over the bucketed table
    // plans without an Exchange (the whole point of the bucketed layout)
    val plan = back.groupBy(col("k1")).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
