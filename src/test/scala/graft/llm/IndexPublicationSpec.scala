package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.mr.TestSession
import scala.jdk.CollectionConverters._
import graft.runtime.{ConcurrentPublishException, IndexLockedException,
  IndexManifest, IndexStatePublisher}

/** The atomic-publication contract of the maintained indexes (r16
  * VERDICT asks #1 and #7): a reader concurrent with any
  * append/delete/compact can never see a torn or empty label set, two
  * writers can never interleave, the capped posture is
  * rerun-reproducible through its persisted ledger, and GC reclaims
  * exactly the unreferenced generations.
  */
class IndexPublicationSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  // the IncrementalDedupSpec bridge fixture (see there for the geometry)
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

  test("boundary: outside graft.runtime, no src/main code publishes, locks or builds a manifest") {
    // every index writer goes through IndexLifecycle; doc comments may
    // still name the primitives
    val banned = Seq("IndexStatePublisher.publish", "withWriterLock", "IndexManifest(")
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found from ${root.toAbsolutePath}")
    val stream = java.nio.file.Files.walk(root)
    val offenders = try stream.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(root.resolve("graft/runtime")))
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

  test("manifest publish is CAS: the second writer of a generation is rejected") {
    val tmp = java.nio.file.Files.createTempDirectory("manifestcas").toString
    try {
      val m = IndexManifest(0L, Map("labels" -> "labels/gen-0"), Map.empty)
      IndexStatePublisher.publish(tmp, m)
      intercept[ConcurrentPublishException] {
        IndexStatePublisher.publish(tmp, m.copy(entries = Map("labels" -> "other")))
      }
      // the loser did not clobber the winner
      assert(IndexStatePublisher.current(tmp).path("labels") == "labels/gen-0")
      // round-trip fidelity, epochs included
      IndexStatePublisher.publish(tmp,
        IndexManifest(1L, Map("labels" -> "labels/gen-1", "pairs" -> "pairs"),
          Map("pairs" -> 3)))
      val cur = IndexStatePublisher.current(tmp)
      assert(cur.gen == 1L && cur.epochs("pairs") == 3)
      assert(cur.epochPaths(tmp, "pairs").size == 4)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("the writer lock rejects a second concurrent writer loudly and releases on exit") {
    val tmp = java.nio.file.Files.createTempDirectory("writerlock").toString
    try {
      IndexStatePublisher.withWriterLock(tmp) {
        val ex = intercept[IndexLockedException] {
          IndexStatePublisher.withWriterLock(tmp) { fail("must not run") }
        }
        assert(ex.getMessage.contains("locked by a concurrent writer"))
      }
      // released: the next writer proceeds; and a body failure releases too
      intercept[RuntimeException] {
        IndexStatePublisher.withWriterLock(tmp) { sys.error("boom") }
      }
      assert(IndexStatePublisher.withWriterLock(tmp) { 42 } == 42)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("a reader concurrent with append/delete/compact never sees a torn or empty label set") {
    val tmp = java.nio.file.Files.createTempDirectory("concread").toString
    try {
      val corpus = docsDf.where(col("doc_id").isin(0L, 1L, 2L, 3L, 5L))
      IncrementalDedup.writeIndex(
        IncrementalDedup.buildIndex(corpus, rowsPerBand = 4), tmp, rowsPerBand = 4)
      // expected (gen -> label count), recorded after each publication;
      // generations are immutable so this map cannot go stale
      val expected = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      def record(): Unit = {
        val man = IndexStatePublisher.current(tmp)
        expected.put(man.gen,
          spark.read.parquet(s"$tmp/${man.path("labels")}").count())
      }
      record()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val observed = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val reader = new Thread(() => {
        while (!stop.get()) {
          try {
            // the serve path: resolve the manifest ONCE, read the (im-
            // mutable) generation it names
            val man = IndexStatePublisher.current(tmp)
            val labels = spark.read.parquet(s"$tmp/${man.path("labels")}")
            val cnt = labels.count()
            val ids = labels.select(col("id")).distinct().count()
            if (cnt == 0) failures.add(s"gen ${man.gen}: EMPTY label set")
            if (cnt != ids) failures.add(s"gen ${man.gen}: torn labels ($cnt rows, $ids ids)")
            observed.add((man.gen, cnt))
          } catch {
            case e: Exception => failures.add(s"reader failed: ${e.getMessage}")
          }
          Thread.sleep(50)
        }
      })
      reader.start()
      try {
        val d1 = docsDf.where(col("doc_id") === 4L)
        val all1 = corpus.unionByName(d1)
        IncrementalDedup.appendToIndex(spark, tmp, all1, d1).count()
        record()
        val d2 = docsDf.where(col("doc_id").isin(9L, 14L, 19L, 24L))
        val all2 = all1.unionByName(d2)
        IncrementalDedup.appendToIndex(spark, tmp, all2, d2).count()
        record()
        IncrementalDedup.deleteFromIndex(spark, tmp, Seq(4L, 5L).toDF("doc_id"))
        record()
        IncrementalDedup.compactIndex(spark, tmp)
        record()
      } finally {
        stop.set(true)
        reader.join(60000)
      }
      assert(failures.isEmpty, s"reader saw: ${failures.toArray.mkString("; ")}")
      // every observation matches the count its generation published
      observed.forEach { case (gen, cnt) =>
        val exp = expected.get(gen)
        assert(exp != null && exp == cnt,
          s"gen $gen: observed $cnt labels, published $exp")
      }
      assert(observed.size() > 0, "reader made no observations — vacuous")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("concurrent append + delete: serialized or loudly rejected, never interleaved") {
    val tmp = java.nio.file.Files.createTempDirectory("concwrite").toString
    try {
      val corpus = docsDf.where(col("doc_id") <= 5L)
      IncrementalDedup.writeIndex(
        IncrementalDedup.buildIndex(corpus, rowsPerBand = 4), tmp, rowsPerBand = 4)
      val genBefore = IndexStatePublisher.current(tmp).gen
      val gate = new java.util.concurrent.CountDownLatch(1)
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      def run(name: String)(body: => Unit): Thread = {
        val t = new Thread(() => {
          gate.await()
          try { body; outcomes.add(s"$name:ok") }
          catch {
            case _: IndexLockedException => outcomes.add(s"$name:locked")
            case e: Exception => outcomes.add(s"$name:UNEXPECTED ${e.getClass.getName}: ${e.getMessage}")
          }
        })
        t.start(); t
      }
      val d1 = docsDf.where(col("doc_id") === 9L)
      val all1 = corpus.unionByName(d1)
      val ta = run("append") {
        IncrementalDedup.appendToIndex(spark, tmp, all1, d1).count()
      }
      val td = run("delete") {
        IncrementalDedup.deleteFromIndex(spark, tmp, Seq(1L).toDF("doc_id"))
      }
      gate.countDown()
      ta.join(120000); td.join(120000)
      val res = outcomes.toArray.map(_.toString).sorted.toSeq
      assert(res.forall(r => r.endsWith(":ok") || r.endsWith(":locked")),
        s"unexpected writer outcome: $res")
      val oks = res.count(_.endsWith(":ok"))
      assert(oks >= 1, s"at least one writer must win: $res")
      // each successful mutation advanced exactly one generation
      assert(IndexStatePublisher.current(tmp).gen == genBefore + oks,
        s"generation should advance once per successful writer: $res")
      // and the published state is a coherent snapshot
      val idx = IncrementalDedup.readIndex(spark, tmp)
      assert(idx.labels.count() > 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("gc prunes exactly the unreferenced generations; pre-GC snapshots and answers survive compaction") {
    val tmp = java.nio.file.Files.createTempDirectory("indexgc").toString
    try {
      IncrementalDedup.writeIndex(
        IncrementalDedup.buildIndex(docsDf, rowsPerBand = 4), tmp, rowsPerBand = 4)
      IncrementalDedup.deleteFromIndex(spark, tmp, Seq(4L, 5L).toDF("doc_id"))
      val preCompact = IncrementalDedup.readIndex(spark, tmp)
      val before = DedupResolve.keptFromLabels(
          docsDf.where(!col("doc_id").isin(4L, 5L)).select(col("doc_id")),
          preCompact.labels)
        .as[Long].collect().toSet
      IncrementalDedup.compactIndex(spark, tmp)
      // a reader that resolved BEFORE compaction still serves (its
      // generation directories are untouched until gc)
      assert(preCompact.labels.count() > 0)
      // minAge=0: the explicit "no readers exist" override (the grace
      // period itself is gated by its own case below)
      IndexStatePublisher.gc(tmp, 0L)
      val m = IndexStatePublisher.current(tmp)
      // current generation intact, answer unchanged
      val after = DedupResolve.keptFromLabels(
          docsDf.where(!col("doc_id").isin(4L, 5L)).select(col("doc_id")),
          IncrementalDedup.readIndex(spark, tmp).labels)
        .as[Long].collect().toSet
      assert(after == before, "gc changed the served answer")
      // pre-compaction artifact dirs are gone
      assert(!new java.io.File(s"$tmp/hashes").exists(), "old hashes dir should be gc'd")
      assert(!new java.io.File(s"$tmp/deleted").exists(), "tombstone dirs should be gc'd")
      assert(!new java.io.File(s"$tmp/labels/gen-0").exists(), "old label gens should be gc'd")
      assert(new java.io.File(s"$tmp/${m.path("labels")}").exists)
      assert(new java.io.File(s"$tmp/${m.path("hashes")}").exists)
      // only the current manifest file remains
      val gens = new java.io.File(s"$tmp/manifest").list().count(_.startsWith("gen-"))
      assert(gens == 1, s"gc should keep exactly the current manifest, found $gens")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    // the IVF-SQ8 index on the same runner: gen 0, an append, a retrain;
    // gc keeps exactly the retrained generation's artifacts
    val ivf = java.nio.file.Files.createTempDirectory("indexgc-ivf").toString
    try {
      val e = graft.Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", sqrt(graft.functions.FloatVecDot(col("embedding"), col("embedding"))))
        .localCheckpoint(true)
      val corpus = e.filter(col("vec_id") < 200)
      val acc = e.filter(col("vec_id") < 300)
      Similarity.writeIvfSq8Index(
        Similarity.buildIvfSq8IndexFrom(corpus, nCells = 16, sampleN = 200), ivf)
      Similarity.appendVectorsToIndexDir(spark, ivf, acc.filter(col("vec_id") >= 200))
      val r = Similarity.maintainIvfSq8IndexDir(spark, ivf, acc)
      assert(r.rebuilt, s"a 50% append must retrain: $r")
      def served() = Similarity.ivfSq8KnnFromIndex(e.filter(col("vec_id") < 20),
        Similarity.readIvfSq8Index(spark, ivf), r.nProbe).collect().toSet
      val before = served()
      IndexStatePublisher.gc(ivf, 0L)
      val m = IndexStatePublisher.current(ivf)
      assert(served() == before, "gc changed the served IVF answer")
      val g = m.gen
      assert(new java.io.File(ivf).list().toSet ==
        Set("manifest", "centroids", s"cells-g$g", s"codes-g$g"), "gc kept a superseded IVF dir")
      assert(new java.io.File(s"$ivf/centroids").list().toSet == Set(s"gen-$g"))
      // an IVF manifest without its cell count fails loudly
      IndexStatePublisher.publish(ivf, m.copy(gen = g + 1, geometry = Map.empty))
      val err = intercept[IllegalStateException](Similarity.maintainIvfSq8IndexDir(spark, ivf, acc))
      assert(err.getMessage.contains("n_cells"), err.getMessage)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ivf))
    }
  }

  test("Hadoop-FileSystem atomics path: CAS, lock, and a full maintained lifecycle (r17 ask #1)") {
    // forceGenericAtomics routes the create-exclusive primitive through
    // fs.create(path, overwrite=false) — the hdfs:// code path — driven
    // on local FS via the Hadoop API, per the r17 VERDICT done-criterion
    val tmp = java.nio.file.Files.createTempDirectory("hadoopatomics").toString
    IndexStatePublisher.forceGenericAtomics = true
    try {
      // CAS: the second writer of a generation is rejected
      val m = IndexManifest(0L, Map("labels" -> "labels/gen-0"), Map.empty)
      IndexStatePublisher.publish(tmp, m)
      intercept[ConcurrentPublishException] {
        IndexStatePublisher.publish(tmp, m.copy(entries = Map("labels" -> "other")))
      }
      assert(IndexStatePublisher.current(tmp).path("labels") == "labels/gen-0")
      // lock: held rejects, releases on exit and on body failure
      IndexStatePublisher.withWriterLock(tmp) {
        intercept[IndexLockedException] {
          IndexStatePublisher.withWriterLock(tmp) { fail("must not run") }
        }
      }
      intercept[RuntimeException] {
        IndexStatePublisher.withWriterLock(tmp) { sys.error("boom") }
      }
      assert(IndexStatePublisher.withWriterLock(tmp) { 42 } == 42)
      // full maintained lifecycle (build → append → delete → compact →
      // gc) with every publish/lock/list through the FileSystem path
      val idxDir = java.nio.file.Files.createTempDirectory("hadooplife").toString
      try {
        val corpus = docsDf.where(col("doc_id").isin(0L, 1L, 2L, 3L, 5L))
        IncrementalDedup.writeIndex(
          IncrementalDedup.buildIndex(corpus, rowsPerBand = 4), idxDir, rowsPerBand = 4)
        val d1 = docsDf.where(col("doc_id").isin(9L, 14L, 19L, 24L))
        val all1 = corpus.unionByName(d1)
        IncrementalDedup.appendToIndex(spark, idxDir, all1, d1).count()
        IncrementalDedup.deleteFromIndex(spark, idxDir, Seq(5L).toDF("doc_id"))
        IncrementalDedup.compactIndex(spark, idxDir)
        IndexStatePublisher.gc(idxDir, 0L)
        val survivors = all1.where(col("doc_id") =!= 5L)
        val after = DedupResolve.keptFromLabels(
            survivors.select(col("doc_id")),
            IncrementalDedup.readIndex(spark, idxDir).labels)
          .as[Long].collect().toSet
        // the maintained contract: delete+compact ≡ a fresh rebuild
        // without the deleted doc (doc 9, exact dup of deleted 5,
        // correctly reappears in the kept set)
        val freshDir = java.nio.file.Files.createTempDirectory("hadoopfresh").toString
        val expected = try {
          IncrementalDedup.writeIndex(
            IncrementalDedup.buildIndex(survivors, rowsPerBand = 4), freshDir, rowsPerBand = 4)
          DedupResolve.keptFromLabels(
              survivors.select(col("doc_id")),
              IncrementalDedup.readIndex(spark, freshDir).labels)
            .as[Long].collect().toSet
        } finally {
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(freshDir))
        }
        assert(after.nonEmpty && after == expected,
          s"lifecycle through the FileSystem atomics path diverged: $after vs $expected")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxDir))
      }
    } finally {
      IndexStatePublisher.forceGenericAtomics = false
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("registered ExclusiveCreator owns the scheme's create-exclusive: manifest CAS and writer lock both dispatch through it") {
    // the S3 conditional-create seam (r18 VERDICT ask #6): a deployment
    // plugs its store's primitive in per scheme; this fake records
    // every dispatch and implements a naive exists-check create (fine
    // single-threaded — the point under test is the ROUTING, the
    // atomicity contract is the implementor's)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val fake = new IndexStatePublisher.ExclusiveCreator {
      def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
          target: org.apache.hadoop.fs.Path, body: Array[Byte],
          durable: Boolean): Boolean = {
        calls.incrementAndGet()
        if (fs.exists(target)) false
        else {
          val out = fs.create(target, false)
          try out.write(body) finally out.close()
          true
        }
      }
    }
    val tmp = java.nio.file.Files.createTempDirectory("creatorseam").toString
    IndexStatePublisher.registerExclusiveCreator("file", fake)
    try {
      IndexStatePublisher.publish(tmp,
        IndexManifest(0L, Map("labels" -> "labels/gen-0"), Map.empty))
      assert(calls.get() >= 1, "manifest CAS must dispatch through the creator")
      val afterPublish = calls.get()
      // CAS loss still surfaces through the seam
      intercept[ConcurrentPublishException] {
        IndexStatePublisher.publish(tmp,
          IndexManifest(0L, Map("labels" -> "other"), Map.empty))
      }
      // the writer lock routes through it too
      assert(IndexStatePublisher.withWriterLock(tmp) { 5 } == 5)
      assert(calls.get() > afterPublish,
        "writer lock must dispatch through the creator")
      assert(IndexStatePublisher.current(tmp).path("labels") == "labels/gen-0")
    } finally {
      IndexStatePublisher.unregisterExclusiveCreator("file")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    // unregistered: the built-in dispatch is back (no further recording)
    val tmp2 = java.nio.file.Files.createTempDirectory("creatorseam2").toString
    try {
      val before = calls.get()
      IndexStatePublisher.publish(tmp2,
        IndexManifest(0L, Map("labels" -> "labels/gen-0"), Map.empty))
      assert(calls.get() == before, "unregistered creator must not be called")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp2))
    }
  }

  test("a torn or empty max-gen manifest falls back to the newest complete generation") {
    val tmp = java.nio.file.Files.createTempDirectory("tornmanifest").toString
    try {
      val geometry = Map("n_buckets" -> 8, "bits" -> 4)
      IndexStatePublisher.publish(tmp,
        IndexManifest(0L, Map("labels" -> "labels/gen-0"), Map.empty, geometry))
      // a crashed publisher's corpse: gen-1 exists but is truncated
      // mid-write (no `# end` terminator) — and an empty gen-2
      val md = java.nio.file.Paths.get(tmp, "manifest")
      java.nio.file.Files.write(md.resolve(f"gen-${1L}%016d"),
        "# graft index manifest generation 1\nlabels=labels/gen".getBytes("UTF-8"))
      java.nio.file.Files.write(md.resolve(f"gen-${2L}%016d"), Array.empty[Byte])
      // max-gen files cut off inside their geometry lines: after a
      // key's `=` and inside a key
      val head = "# graft index manifest generation %d\nlabels=labels/gen-%d\ngeometry.bits=4\n"
      java.nio.file.Files.write(md.resolve(f"gen-${3L}%016d"),
        (head.format(3, 3) + "geometry.n_buckets=").getBytes("UTF-8"))
      java.nio.file.Files.write(md.resolve(f"gen-${4L}%016d"),
        (head.format(4, 4) + "geometry.n_buc").getBytes("UTF-8"))
      val cur = IndexStatePublisher.current(tmp)
      assert(cur.gen == 0L && cur.path("labels") == "labels/gen-0",
        "reader must skip incomplete manifests and fall back")
      assert(cur.geometry == geometry, s"geometry must round-trip: ${cur.geometry}")
      // a YOUNG incomplete same-gen file is NOT healed (r18 ADVICE #1):
      // it may be a live writer mid-flush on a visible-before-complete
      // scheme — healing it would let two same-gen writers both win
      intercept[ConcurrentPublishException] {
        IndexStatePublisher.publish(tmp,
          IndexManifest(1L, Map("labels" -> "labels/gen-1"), Map.empty))
      }
      // the crashed-publisher corpse is by definition OLD: once the
      // incomplete file ages past the heal bound, the recovered writer
      // of gen 1 republishes over it
      java.nio.file.Files.setLastModifiedTime(md.resolve(f"gen-${1L}%016d"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 2 * IndexStatePublisher.CorpseHealAgeMs))
      IndexStatePublisher.publish(tmp,
        IndexManifest(1L, Map("labels" -> "labels/gen-1"), Map.empty))
      assert(IndexStatePublisher.current(tmp).path("labels") == "labels/gen-1")
      // gen 1 records no geometry: every family's reader fails loudly,
      // naming the index, instead of guessing a layout
      Seq[() => Any](
        () => IncrementalDedup.readIndex(spark, tmp),
        () => IncrementalSig.readIndex(spark, tmp),
        () => IncrementalSemantic.readIndex(spark, tmp),
        () => IncrementalContam.readIndex(spark, tmp)).foreach { read =>
        val ex = intercept[IllegalStateException](read())
        assert(ex.getMessage.contains(tmp) && ex.getMessage.contains("geometry"),
          s"unhelpful geometry failure: ${ex.getMessage}")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("breakStaleLock: crashed lock broken after expiry, live lock refused, breaker race has one winner") {
    val tmp = java.nio.file.Files.createTempDirectory("stalelock").toString
    try {
      // a live (young) lock is REFUSED
      IndexStatePublisher.withWriterLock(tmp) {
        intercept[IndexLockedException] {
          IndexStatePublisher.breakStaleLock(tmp, olderThanMs = 60000L)
        }
      }
      // no lock at all: nothing to break
      assert(!IndexStatePublisher.breakStaleLock(tmp, 0L))
      // a crashed writer's lock (recorded atMs in the past) is broken,
      // and the next writer proceeds
      def plantStale(): Unit = java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "writer.lock"),
        s"pid=99999 atMs=${System.currentTimeMillis() - 3600000L} at=crashed\n"
          .getBytes("UTF-8"))
      plantStale()
      assert(IndexStatePublisher.breakStaleLock(tmp, olderThanMs = 60000L))
      assert(IndexStatePublisher.withWriterLock(tmp) { 7 } == 7)
      // two concurrent breakers of the same stale lock: exactly one wins
      plantStale()
      val gate = new java.util.concurrent.CountDownLatch(1)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val ts = (1 to 2).map { i =>
        val t = new Thread(() => {
          gate.await()
          try { if (IndexStatePublisher.breakStaleLock(tmp, 60000L)) wins.incrementAndGet() }
          catch { case e: Exception => errs.add(s"breaker$i: ${e.getMessage}") }
        })
        t.start(); t
      }
      gate.countDown(); ts.foreach(_.join(30000))
      assert(errs.isEmpty, errs.toArray.mkString("; "))
      assert(wins.get() == 1, s"exactly one breaker must win, got ${wins.get()}")
      assert(IndexStatePublisher.withWriterLock(tmp) { 9 } == 9)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("gc grace period: a just-superseded generation survives default gc; an aged one is pruned") {
    val tmp = java.nio.file.Files.createTempDirectory("gcgrace").toString
    try {
      def plantGen(g: Long): Unit = {
        val d = java.nio.file.Paths.get(tmp, "labels", s"gen-$g")
        java.nio.file.Files.createDirectories(d)
        java.nio.file.Files.write(d.resolve("part-0.parquet"), Array[Byte](1))
        IndexStatePublisher.publish(tmp,
          IndexManifest(g, Map("labels" -> s"labels/gen-$g"), Map.empty))
      }
      plantGen(0L); plantGen(1L)
      // gen-0 was superseded by gen-1 JUST NOW: default gc keeps it —
      // an in-flight reader that resolved gen-0 a moment ago still serves
      IndexStatePublisher.gc(tmp)
      assert(new java.io.File(s"$tmp/labels/gen-0").exists,
        "grace period must keep the just-superseded generation")
      assert(new java.io.File(s"$tmp/manifest/${f"gen-${0L}%016d"}").exists,
        "grace period must keep the superseded manifest file")
      // age gen-1's manifest (the SUCCESSOR timestamp defines gen-0's
      // reclaimability) beyond the grace bound: gen-0 is pruned
      val g1 = java.nio.file.Paths.get(tmp, "manifest", f"gen-${1L}%016d")
      java.nio.file.Files.setLastModifiedTime(g1,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 2 * IndexStatePublisher.GcGraceMs))
      IndexStatePublisher.gc(tmp)
      assert(!new java.io.File(s"$tmp/labels/gen-0").exists,
        "an aged-out generation must be pruned")
      assert(!new java.io.File(s"$tmp/manifest/${f"gen-${0L}%016d"}").exists)
      assert(new java.io.File(s"$tmp/labels/gen-1").exists,
        "the current generation is never pruned")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("minhash cap ledger: capped maintained appends' KEPT SET is reproduced exactly by the ledger-aware rerun") {
    // the d52 contract (d51 carried to the corpus-dedup family): the
    // answer is a resolved kept set through the est/Jaccard verify
    // ladder and the exact-dup channel, not a raw pair list
    val docs = graft.Tables.documents(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("dedupledger").toString
    try {
      val (idx0, over0) = IncrementalDedup.buildIndexWithLedger(
        docs.where(col("doc_id") % 4 === 0), k = 32, rowsPerBand = 4,
        bucketCap = IncrementalDedup.LedgerCap)
      IncrementalDedup.writeIndex(idx0, tmp, k = 32, rowsPerBand = 4,
        nBuckets = 8, capLedger0 = Some(over0))
      var kept: org.apache.spark.sql.DataFrame = null
      (1 to 3).foreach { m =>
        kept = IncrementalDedup.appendToIndex(spark, tmp,
          docs.where(col("doc_id") % 4 <= m),
          docs.where(col("doc_id") % 4 === m),
          bucketCap = IncrementalDedup.LedgerCap)
      }
      val maintained = kept.as[Long].collect().toSet
      assert(IncrementalDedup.readCapLedger(spark, tmp).count() > 0,
        "cap never bound — the gate is vacuous")
      val rerun = IncrementalDedup.rerunKeptWithLedger(spark, tmp,
          docs.withColumn("epoch", (col("doc_id") % 4).cast("int")))
        .as[Long].collect().toSet
      assert(maintained == rerun,
        s"ledger-aware rerun diverged: maintained ${maintained.size} vs rerun ${rerun.size}, " +
          s"diff ${(maintained diff rerun).take(5)} / ${(rerun diff maintained).take(5)}")
      // DELETION composes with the ledger (r18 VERDICT #1, the d55
      // contract): a takedown against the capped index, then ANOTHER
      // capped append — the ledger-aware rerun over SURVIVORS must
      // reproduce the maintained answer exactly (suppression sets are
      // population history; deletion cannot rewrite them)
      val deadPred = col("doc_id") % 7 === 3
      assert(docs.where(deadPred).count() > 0, "empty takedown — vacuous")
      IncrementalDedup.deleteFromIndex(spark, tmp,
        docs.where(deadPred).select(col("doc_id")))
      val afterDelete = DedupResolve.keptFromLabels(
          docs.where(!deadPred).select(col("doc_id")),
          IncrementalDedup.readIndex(spark, tmp).labels)
        .as[Long].collect().toSet
      val rerunSurv = IncrementalDedup.rerunKeptWithLedger(spark, tmp,
          docs.where(!deadPred).withColumn("epoch", (col("doc_id") % 4).cast("int")))
        .as[Long].collect().toSet
      assert(afterDelete == rerunSurv,
        s"post-delete ledger replay over survivors diverged: " +
          s"${afterDelete.size} vs ${rerunSurv.size}, " +
          s"diff ${(afterDelete diff rerunSurv).take(5)} / ${(rerunSurv diff afterDelete).take(5)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("semantic cap ledger: capped maintained appends' KEPT SET is reproduced exactly by the ledger-aware rerun") {
    // the d53 contract (r17 VERDICT ask #3 — the d51/d52 machinery on
    // the embedding family's (table_id, bucket) buckets)
    import org.apache.spark.sql.DataFrame
    val emb = graft.Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val all = emb.withColumn("nrm",
        sqrt(graft.functions.FloatVecDot(col("embedding"), col("embedding"))))
      .localCheckpoint(true)
    val cap = IncrementalSemantic.semLedgerCap(all.count())
    val base = IncrementalSemantic.withSigs(all.filter(col("vec_id") % 4 === 0))
      .localCheckpoint(true)
    val tmp = java.nio.file.Files.createTempDirectory("semledger").toString
    try {
      val (pairs0, over0) = IncrementalSemantic.corpusPairsWithLedger(base, cap)
      val pairs0c = pairs0.localCheckpoint(true)
      IncrementalSemantic.writeIndex(base,
        DedupResolve.resolveClusters(pairs0c), tmp, nBuckets = 8,
        pairs = Some(pairs0c), capLedger0 = Some(over0))
      var kept: DataFrame = null
      (1 to 3).foreach { m =>
        kept = IncrementalSemantic.appendToIndex(spark, tmp, all,
          all.filter(col("vec_id") % 4 === m), bucketCap = cap)
      }
      val maintained = kept.as[Long].collect().toSet
      assert(IncrementalSemantic.readCapLedger(spark, tmp).count() > 0,
        "cap never bound — the gate is vacuous")
      val rerun = IncrementalSemantic.rerunKeptWithLedger(spark, tmp,
          all.withColumn("epoch", (col("vec_id") % 4).cast("int")))
        .as[Long].collect().toSet
      assert(maintained == rerun,
        s"ledger-aware rerun diverged: maintained ${maintained.size} vs rerun ${rerun.size}, " +
          s"diff ${(maintained diff rerun).take(5)} / ${(rerun diff maintained).take(5)}")
      // and the capped answer is NOT the uncapped one (the cap bound)
      val uncapped = DedupResolve.keptFromLabels(
          all.select(col("vec_id").as("doc_id")),
          DedupResolve.resolveClusters(
            IncrementalSemantic.corpusPairs(IncrementalSemantic.withSigs(all)
              .localCheckpoint(true))))
        .select(col("doc_id")).as[Long].collect().toSet
      assert(maintained != uncapped, "cap changed nothing — fixture too small to gate")
      // DELETION composes with the ledger (r18 VERDICT #1, the d56
      // contract): takedown, then the ledger-aware rerun over SURVIVORS
      // must reproduce the maintained answer (suppression sets are
      // population history — deletion cannot rewrite them)
      val deadPred = col("vec_id") % 7 === 3
      assert(all.where(deadPred).count() > 0, "empty takedown — vacuous")
      IncrementalSemantic.deleteVectors(spark, tmp,
        all.where(deadPred).select(col("vec_id")))
      val afterDelete = DedupResolve.keptFromLabels(
          all.where(!deadPred).select(col("vec_id").as("doc_id")),
          IncrementalSemantic.readIndex(spark, tmp).labels)
        .select(col("doc_id")).as[Long].collect().toSet
      val rerunSurv = IncrementalSemantic.rerunKeptWithLedger(spark, tmp,
          all.where(!deadPred).withColumn("epoch", (col("vec_id") % 4).cast("int")))
        .as[Long].collect().toSet
      assert(afterDelete == rerunSurv,
        s"post-delete ledger replay over survivors diverged: " +
          s"${afterDelete.size} vs ${rerunSurv.size}, " +
          s"diff ${(afterDelete diff rerunSurv).take(5)} / ${(rerunSurv diff afterDelete).take(5)}")
      // compaction is REFUSED on a ledgered index (r17 ADVICE #2): the
      // ledger is history an epoch-collapsed rewrite cannot preserve
      val ex = intercept[IllegalArgumentException] {
        IncrementalSemantic.compactIndex(spark, tmp)
      }
      assert(ex.getMessage.contains("ledgered"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("cap ledger: capped maintained appends are reproduced exactly by the ledger-aware rerun") {
    // a BINDING cap (the r15/r16 vacuity lesson: a gate whose ledger is
    // empty gates nothing) — 8 bands of 4 bits over sf0.001 gives
    // bucket populations well above 8
    val docs = graft.Tables.documents(spark, sf)
    def sigsOf(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id"), graft.functions.SimHashSig(col("text"), 32).as("sig"))
      .where(col("sig") =!= lit(graft.functions.SimHashSig.Empty))
    val cap = 8
    val tmp = java.nio.file.Files.createTempDirectory("capledger").toString
    try {
      val base = sigsOf(docs.where(col("doc_id") % 3 === 0))
      val (pairs0, over0) = IncrementalSig.buildPairsWithLedger(base, 32, 8, 7, cap)
      IncrementalSig.writeIndex(base, pairs0, tmp, 32, 8, nBuckets = 8,
        capLedger0 = Some(over0))
      (1 to 2).foreach { e =>
        IncrementalSig.appendToIndex(spark, tmp,
          sigsOf(docs.where(col("doc_id") % 3 === e)), 7, bucketCap = cap)
      }
      val ledger = IncrementalSig.readCapLedger(spark, tmp)
      assert(ledger.count() > 0, "cap never bound — the gate is vacuous")
      val artifact = IncrementalSig.readIndex(spark, tmp).pairs
        .as[(Long, Long, Int)].collect().toSet
      val rerun = IncrementalSig.rerunWithLedger(spark, tmp,
          sigsOf(docs).withColumn("epoch", (col("doc_id") % 3).cast("int")), 7)
        .as[(Long, Long, Int)].collect().toSet
      assert(artifact == rerun,
        s"ledger-aware rerun diverged: artifact ${artifact.size} vs rerun ${rerun.size}, " +
          s"diff ${(artifact diff rerun).take(5)} / ${(rerun diff artifact).take(5)}")
      // and the capped answer is NOT the uncapped one (the cap bound)
      val uncapped = Dedup.hammingPairs(sigsOf(docs), 32, 8, 7)
        .as[(Long, Long, Int)].collect().toSet
      assert(artifact != uncapped, "cap changed nothing — fixture too small to gate")
      // DELETION composes with the ledger (r18 VERDICT #1 on the
      // bit-signature family): takedown tombstones, the filtered
      // artifact must equal the ledger replay over SURVIVING sigs
      val deadPred = col("doc_id") % 7 === 3
      assert(docs.where(deadPred).count() > 0, "empty takedown — vacuous")
      IncrementalSig.deleteDocs(spark, tmp,
        docs.where(deadPred).select(col("doc_id")))
      val afterDelete = IncrementalSig.readIndex(spark, tmp).pairs
        .as[(Long, Long, Int)].collect().toSet
      val rerunSurv = IncrementalSig.rerunWithLedger(spark, tmp,
          sigsOf(docs.where(!deadPred))
            .withColumn("epoch", (col("doc_id") % 3).cast("int")), 7)
        .as[(Long, Long, Int)].collect().toSet
      assert(afterDelete == rerunSurv,
        s"post-delete ledger replay over survivors diverged: " +
          s"${afterDelete.size} vs ${rerunSurv.size}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  // The served-generation contract of a batch reader: resolve the
  // manifest per read (IndexStatePublisher.current → readIndexAt), serve
  // from that generation, and a mutation published between two reads is
  // served by the second — equal at every step to the serve over a fresh
  // readIndex.

  private def minHashServeTracksAppend(capped: Boolean): Unit = {
    val corpus = Seq(0L, 1L, 2L, 3L, 5L)
    def docs(ids: Seq[Long]) = docsDf.where(col("doc_id").isin(ids: _*))
    // the kept set of the generation `idx` was read at
    def serve(idx: IncrementalDedup.CorpusIndex): Set[Long] =
      DedupResolve.keptFromLabels(idx.hashes.select(col("doc_id")), idx.labels)
        .as[Long].collect().toSet
    val tmp = java.nio.file.Files.createTempDirectory("servegen-minhash").toString
    try {
      val cap = if (capped) 3 else Dedup.NoBucketCap
      if (capped) {
        val (idx0, over0) = IncrementalDedup.buildIndexWithLedger(
          docs(corpus), rowsPerBand = 4, bucketCap = cap)
        IncrementalDedup.writeIndex(idx0, tmp, rowsPerBand = 4, capLedger0 = Some(over0))
      } else {
        IncrementalDedup.writeIndex(
          IncrementalDedup.buildIndex(docs(corpus), rowsPerBand = 4), tmp, rowsPerBand = 4)
      }
      val gen0 = IncrementalDedup.readIndex(spark, tmp) // a handle held across the appends
      var held = corpus
      // (appended batch, the kept set after it): 9 is 5's exact twin; 24
      // is a near-dup of the appended 19
      val steps = Seq(
        Seq(9L, 14L) -> Set(0L, 2L, 5L, 14L),
        Seq(19L) -> Set(0L, 2L, 5L, 14L, 19L),
        Seq(24L) -> Set(0L, 2L, 5L, 14L, 19L))
      for ((batch, want) <- steps) {
        val m = IndexStatePublisher.current(tmp)
        assert(serve(IncrementalDedup.readIndexAt(spark, tmp, m)) ==
          serve(IncrementalDedup.readIndex(spark, tmp)),
          s"capped=$capped gen ${m.gen}: serve differs from a fresh readIndex")
        IncrementalDedup.appendToIndex(spark, tmp, docs(held ++ batch),
          docs(batch), bucketCap = cap).count()
        held = held ++ batch
        val next = IndexStatePublisher.current(tmp)
        assert(next.gen > m.gen, s"capped=$capped: the append published no generation")
        if (capped) assert(next.epochs("capledger") == m.epochs("capledger") + 1,
          s"capped append must record a ledger epoch: ${next.epochs}")
        val served = serve(IncrementalDedup.readIndexAt(spark, tmp, next))
        assert(served == want, s"capped=$capped gen ${next.gen}: served $served")
      }
      // the handle read before the appends still answers as gen 0 did
      assert(serve(gen0) == Set(0L, 2L, 5L),
        s"capped=$capped: the gen-0 handle saw the appended rows: ${serve(gen0)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("served generation: a MinHash serve tracks a published append") {
    minHashServeTracksAppend(capped = false)
  }

  test("served generation: a ledgered MinHash serve tracks a capped append") {
    minHashServeTracksAppend(capped = true)
  }

  // bound: the corpus is vec_id < bound; probe: the probe count (None:
  // derived from the served generation's cell count); mutate: the
  // mutation published between the two serves
  private def ivfSq8ServeTracks(bound: Long, probe: Option[Int])(
      mutate: (String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => Unit): Unit = {
    val all = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(graft.functions.FloatVecDot(col("embedding"), col("embedding"))))
      .localCheckpoint(true)
    val query = all.filter(col("vec_id") === 3L).localCheckpoint(true)
    // an exact copy of the query vector under a fresh id: its quantized
    // dot is maximal, so a serve of the generation holding it surfaces it
    val twin = query.select(lit(100000L).as("vec_id"), col("embedding"), col("nrm"))
    def nids(df: org.apache.spark.sql.DataFrame) = df.select("nid").as[Long].collect().toSet
    val tmp = java.nio.file.Files.createTempDirectory("servegen-ivf").toString
    try {
      Similarity.writeIvfSq8Index(Similarity.buildIvfSq8IndexFrom(
        all.filter(col("vec_id") < bound), nCells = 16, sampleN = 200), tmp)
      val served = (0 to 1).map { step =>
        if (step == 1) mutate(tmp, all, twin)
        val m = IndexStatePublisher.current(tmp)
        val np = probe.getOrElse(Similarity.probeFor(m.geom(tmp, "n_cells")))
        val got = nids(Similarity.ivfSq8KnnFromIndex(query,
          Similarity.readIvfSq8IndexAt(spark, tmp, m), np))
        assert(got.nonEmpty, s"corpus < $bound gen ${m.gen}: served nothing")
        assert(got == nids(Similarity.ivfSq8KnnFromIndex(query,
          Similarity.readIvfSq8Index(spark, tmp), np)),
          s"corpus < $bound gen ${m.gen}: serve differs from a fresh readIndex")
        got
      }
      assert(!served(0).contains(100000L))
      assert(served(1).contains(100000L),
        s"corpus < $bound: the published twin is not served: ${served(1)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("served generation: an IVF-SQ8 serve tracks an append") {
    ivfSq8ServeTracks(800L, Some(2)) { (dir, _, twin) =>
      Similarity.appendVectorsToIndexDir(spark, dir, twin)
    }
  }

  test("served generation: an IVF-SQ8 serve tracks a rebuild") {
    ivfSq8ServeTracks(400L, None) { (dir, all, twin) =>
      // append past the rebuild ratio, then the ratio-triggered
      // retrain + re-tune + republish
      val delta = all.filter(col("vec_id") >= 400).unionByName(twin)
      Similarity.appendVectorsToIndexDir(spark, dir, delta)
      val r = Similarity.maintainIvfSq8IndexDir(spark, dir,
        all.filter(col("vec_id") < 400).unionByName(delta))
      assert(r.rebuilt, s"the append ratio must trigger the rebuild: $r")
    }
  }
  test("served generation: every family's published answer tracks an append and a delete") {
    import IndexScenario.{Append, Delete, Row}
    val cases: Seq[(MaintainedFamily, Row)] = Seq(
      IncrementalDedup.Family(rowsPerBand = 4) -> Row(col("doc_id") % 3 === 0,
        Seq(Append(col("doc_id") % 3 === 1), Delete(col("doc_id") % 7 === 3 && col("doc_id") % 3 <= 1))),
      IncrementalSig.simhash(4) -> Row(col("doc_id") % 3 === 0,
        Seq(Append(col("doc_id") % 3 === 1), Delete(col("doc_id") % 7 === 3 && col("doc_id") % 3 <= 1))),
      IncrementalSemantic.Family -> Row(col("vec_id") % 3 === 0,
        Seq(Append(col("vec_id") % 3 === 1), Delete(col("vec_id") % 7 === 3 && col("vec_id") % 3 <= 1))),
      // the IVF-SQ8 index has no delete
      Similarity.IvfSq8Family() -> Row(col("vec_id") % 5 < 4, Seq(Append(col("vec_id") % 5 >= 4))))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    for ((f, row) <- cases) {
      val src = f.source(spark, sf)
      val dir = java.nio.file.Files.createTempDirectory(s"servegen-${f.name}").toString
      try {
        f.write(spark, dir, src.where(row.base), row.cap, IndexScenario.GateBuckets)
        var held = row.base
        row.ops.foreach { op =>
          val m = IndexStatePublisher.current(dir)
          val handle = f.answerAt(spark, dir, src, m)
          val before = rows(handle)
          op match {
            case Append(d) =>
              f.append(spark, dir, src.where(held || d), src.where(d), row.cap)
              held = held || d
            case Delete(p) => f.delete(spark, dir, src.where(p).select(col(f.id)))
          }
          assert(IndexStatePublisher.current(dir).gen > m.gen, s"${f.name} $op published nothing")
          assert(rows(handle) == before, s"${f.name} $op: the handle read at gen ${m.gen} changed")
          assert(rows(f.answer(spark, dir, src)) != before, s"${f.name} $op left the answer as it was")
        }
        assert(rows(f.answer(spark, dir, src)) == rows(IndexScenario.run(spark, sf, f, row)),
          s"${f.name}: a fresh read differs from the runner's answer")
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      }
    }
  }

  test("declared artifact schemas match the written ones after build, append and delete") {
    import org.apache.spark.sql.types.StructType
    // per family: the artifacts read with a declared schema (entry, DDL)
    val cases: Seq[(MaintainedFamily, Seq[(String, String)])] = Seq(
      IncrementalDedup.Family(rowsPerBand = 4) -> Seq("labels" -> DedupResolve.LabelsSchema,
        "sigs" -> IncrementalDedup.SigsSchema, "pairs" -> IncrementalDedup.PairsSchema),
      IncrementalSig.simhash(4) -> Seq("pairs" -> IncrementalSig.PairsSchema),
      IncrementalSemantic.Family -> Seq("labels" -> DedupResolve.LabelsSchema,
        "pairs" -> IncrementalSemantic.PairsSchema))
    def fields(t: StructType): Seq[(String, String)] = t.fields.toSeq.map(f => f.name -> f.dataType.sql)
    for ((f, declared) <- cases) {
      val src = f.source(spark, sf)
      val id = col(f.id)
      val dir = java.nio.file.Files.createTempDirectory(s"schemas-${f.name}").toString
      try {
        f.write(spark, dir, src.where(id % 3 === 0), Dedup.NoBucketCap, IndexScenario.GateBuckets)
        f.append(spark, dir, src.where(id % 3 <= 1), src.where(id % 3 === 1), Dedup.NoBucketCap)
        f.delete(spark, dir, src.where(id % 7 === 3 && id % 3 <= 1).select(id))
        val m = IndexStatePublisher.current(dir)
        val paths = (declared :+ ("deleted" -> s"${f.id} BIGINT")).flatMap { case (entry, ddl) =>
          val ps = if (m.epochs.contains(entry)) m.epochPaths(dir, entry) else Seq(s"$dir/${m.path(entry)}")
          ps.map(_ -> ddl)
        }
        assert(paths.size > declared.size, s"${f.name}: no appended epoch was checked")
        paths.foreach { case (p, ddl) =>
          assert(fields(spark.read.parquet(p).schema) == fields(StructType.fromDDL(ddl)),
            s"${f.name}: $p is not $ddl")
        }
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      }
    }
  }
}
