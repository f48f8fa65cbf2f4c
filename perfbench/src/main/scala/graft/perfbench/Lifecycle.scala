package graft.perfbench

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.{DedupResolve, IncrementalDedup, IncrementalSemantic}

/** `index_lifecycle`: writes beside reads on two ledgered maintained
  * indexes fed from one seeded stream — both builds, then rounds of an
  * append per family and a takedown per family, then a ledgered rebuild
  * per family; every mutation is followed by a kept-set read. Each read
  * is checked against the family's ledger-aware rerun
  * (`rerunKeptWithLedger`), computed untimed and cached per seed.
  */
final class Lifecycle(b: Bench, inputs: String, work: String, cache: String,
    manifest: Map[String, Any]) extends Workload {
  private val s = b.spark
  private val plan = manifest("lifecycle").asInstanceOf[Map[String, Any]]
  private val cycles = plan("cycles").asInstanceOf[Int]
  private val textCap = plan("text_cap").asInstanceOf[Int]
  private def deletes(key: String): IndexedSeq[Seq[Long]] =
    plan(key).asInstanceOf[Seq[Seq[Any]]].map(_.map(_.toString.toLong)).toIndexedSeq
  private val textDel = deletes("text_deletes")
  private val vecDel = deletes("vec_deletes")

  private val dir = s"$inputs/lifecycle"
  private val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("text"), col("epoch"))
  private val vecs = graft.Tables.embeddings(s, dir)
    .select(col("vec_id"), col("embedding"), col("epoch"))
    .withColumn("nrm", sqrt(graft.functions.FloatVecDot(col("embedding"), col("embedding"))))
  private val vecCap = IncrementalSemantic.semLedgerCap(vecs.count())
  private val refDir = new File(cache).getPath

  /** One family's index: its directory, the arrived epoch, the dead ids,
    * and the states whose kept sets were read (for the reference pass).
    */
  private abstract class Family(val name: String, val id: String, dels: IndexedSeq[Seq[Long]]) {
    var dir = ""
    var epoch = 0
    var dead = Set.empty[Long]
    var rebuilt = false
    val reads = scala.collection.mutable.ArrayBuffer.empty[String] // states read

    def state: String = (if (rebuilt) "r" else "") + s"e$epoch-d${dead.size}"
    def all: DataFrame
    def arrived: DataFrame = {
      val a = all.where(col("epoch") <= epoch)
      if (dead.isEmpty) a else a.where(!col(id).isin(dead.toSeq: _*))
    }
    def watch: Seq[String] = Seq(dir)

    def buildOp(): Unit
    def appendOp(c: Int): Unit
    def deleteOp(ids: Seq[Long]): Unit
    def readKept(): Array[Long]
    def rebuildOp(): Unit
    def reference(withEpoch: DataFrame): Array[Long]

    def build(): Unit = {
      dir = s"$work/idx/$name"
      b.op(s"build_$name", watch)(buildOp())
    }
    def append(c: Int): Unit = {
      epoch = c
      b.op(s"append_$name", watch)(appendOp(c))
      read()
    }
    def delete(c: Int): Unit = {
      val ids = dels(c - 1)
      dead ++= ids
      b.op(s"delete_$name", watch)(deleteOp(ids))
      read()
    }
    def rebuild(): Unit = {
      rebuilt = true
      b.op(s"rebuild_$name", watch)(rebuildOp())
      read()
    }
    private def read(): Unit = {
      val st = state
      b.op(s"read_$name")(readKept()).foreach { ids =>
        val path = s"$work/answers/${b.records.size}-$name-$st.txt"
        Main.writeLines(path, ids)
        b.note("answer" -> path, "state" -> st, "family" -> name)
        b.note("manifest_read_s" -> manifestReadS(),
          "epochs" -> graft.runtime.IndexStatePublisher.current(dir).epochs.values.maxOption.getOrElse(0))
        reads += st
      }
    }
    private def manifestReadS(): Double = {
      val t = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        graft.runtime.IndexStatePublisher.current(dir)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      t(2)
    }

    /** Reference computations (untimed) for every state this family
      * read and the cache lacks. The ledger of an index only grows until
      * its rebuild, so the reruns of all pre-rebuild states can use the
      * index as it stands just before the rebuild.
      */
    def references(rebuiltOnly: Boolean): Seq[() => Unit] =
      reads.distinct.filter(_.startsWith("r") == rebuiltOnly).flatMap { st =>
        val f = new File(s"$refDir/ref-$name-$st.txt")
        if (f.exists()) None
        else Some { () =>
          val (ep, nd) = parse(st)
          val rows = all.where(col("epoch") <= ep)
          val gone = deadPrefix(nd)
          val live = if (gone.isEmpty) rows else rows.where(!col(id).isin(gone.toSeq: _*))
          val withEpoch = if (st.startsWith("r")) live.withColumn("epoch", lit(0)) else live
          // a failed rerun leaves no reference, so the read's check fails
          try Main.writeLines(f.getPath, reference(withEpoch).sorted)
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[perfbench] reference $name $st failed: $e") }
        }
      }.toSeq

    private def parse(st: String): (Int, Int) = {
      val m = "r?e(\\d+)-d(\\d+)".r.findFirstMatchIn(st).get
      (m.group(1).toInt, m.group(2).toInt)
    }
    /** The ids deleted once `n` deletes have landed (deletes land whole
      * cycles at a time, in plan order). */
    private def deadPrefix(n: Int): Set[Long] = {
      var acc = Set.empty[Long]
      val it = dels.iterator
      while (acc.size < n && it.hasNext) acc ++= it.next()
      acc
    }
  }

  private val text = new Family("text", "doc_id", textDel) {
    def all: DataFrame = docs
    private def body(df: DataFrame) = df.select(col("doc_id"), col("text"))
    def buildOp(): Unit = {
      val (idx, over0) = IncrementalDedup.buildIndexWithLedger(
        body(all.where(col("epoch") === 0)), k = 32, rowsPerBand = 4, bucketCap = textCap)
      IncrementalDedup.writeIndex(idx, dir, k = 32, rowsPerBand = 4, nBuckets = 8,
        capLedger0 = Some(over0))
    }
    def appendOp(c: Int): Unit =
      IncrementalDedup.appendToIndex(s, dir, body(arrived), body(all.where(col("epoch") === c)),
        bucketCap = textCap)
    def deleteOp(ids: Seq[Long]): Unit =
      IncrementalDedup.deleteFromIndex(s, dir, s.createDataFrame(ids.map(Tuple1(_))).toDF("doc_id"))
    def readKept(): Array[Long] = {
      val idx = IncrementalDedup.readIndex(s, dir)
      DedupResolve.keptFromLabels(idx.hashes.select(col("doc_id")), idx.labels)
        .collect().map(_.getLong(0))
    }
    def rebuildOp(): Unit = IncrementalDedup.rebuildLedgered(s, dir, body(arrived), textCap)
    def reference(withEpoch: DataFrame): Array[Long] =
      IncrementalDedup.rerunKeptWithLedger(s, dir, withEpoch).collect().map(_.getLong(0))
  }

  private val vec = new Family("vec", "vec_id", vecDel) {
    def all: DataFrame = vecs
    private def body(df: DataFrame) = df.select(col("vec_id"), col("embedding"), col("nrm"))
    def buildOp(): Unit = {
      val base = IncrementalSemantic.withSigs(body(all.where(col("epoch") === 0)))
        .transform(graft.runtime.Ckpt.eager)
      val (pairs0, over0) = IncrementalSemantic.corpusPairsWithLedger(base, vecCap)
      val pairs = pairs0.transform(graft.runtime.Ckpt.eager)
      IncrementalSemantic.writeIndex(base, DedupResolve.resolveClusters(pairs), dir,
        nBuckets = 8, pairs = Some(pairs), capLedger0 = Some(over0))
    }
    def appendOp(c: Int): Unit =
      IncrementalSemantic.appendToIndex(s, dir, body(arrived), body(all.where(col("epoch") === c)),
        bucketCap = vecCap)
    def deleteOp(ids: Seq[Long]): Unit =
      IncrementalSemantic.deleteVectors(s, dir, s.createDataFrame(ids.map(Tuple1(_))).toDF("vec_id"))
    def readKept(): Array[Long] = {
      val idx = IncrementalSemantic.readIndex(s, dir)
      DedupResolve.keptFromLabels(idx.buckets.select(col("vec_id").as("doc_id")).distinct(), idx.labels)
        .collect().map(_.getLong(0))
    }
    def rebuildOp(): Unit = IncrementalSemantic.rebuildLedgered(s, dir, body(arrived), vecCap)
    def reference(withEpoch: DataFrame): Array[Long] =
      IncrementalSemantic.rerunKeptWithLedger(s, dir,
        withEpoch.select(col("vec_id"), col("embedding"), col("nrm"), col("epoch")))
        .collect().map(_.getLong(0))
  }

  private val families = Seq(text, vec)
  private var cycle = 0

  private def round(c: Int): Unit = {
    families.foreach(_.append(c))
    families.foreach(_.delete(c))
  }

  /** The missing reference answers, computed concurrently: they are
    * independent reruns, and each is bound by per-job driver latency. */
  private def references(rebuiltOnly: Boolean): Unit = {
    val t0 = System.nanoTime()
    val todo = families.flatMap(_.references(rebuiltOnly))
    graft.runtime.Par.run(todo: _*)
    b.unpersistAll()
    System.err.println(f"[perfbench] ${todo.size} references ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** Warm-up, untimed: both builds. They run the signature kernels, band
    * joins and artifact writes that the later ops share; the first
    * append's checked read covers what the build wrote. (A full warm
    * round was measured not to steady the round that follows, and costs
    * a third of a run.) */
  def warm(): Unit = families.foreach(_.build())

  /** Rounds until the deadline (at least one), then the ledgered rebuild;
    * the reference pass for the pre-rebuild states runs untimed between
    * the two, while the ledger still holds their history. */
  def measure(deadline: Long): Unit = {
    do { cycle += 1; round(cycle) } while (cycle < cycles && System.nanoTime() < deadline)
    references(rebuiltOnly = false)
    families.foreach(_.rebuild())
    references(rebuiltOnly = true)
  }

  /** The fixed schedule (one measured round), then untimed probes that
    * call each layer of the one-shot pipelines alone over the whole
    * stream: the signature kernels, candidate+verify, and a counted
    * resolve.
    */
  def traced(): Unit = {
    measure(0L)
    val sig = b.probe {
      docs.select(graft.functions.MinHashSig(col("text"), 5, 32)).write.format("noop").mode("overwrite").save()
    }.map(_._2)
    val vsig = b.probe {
      vecs.select(graft.functions.SignLshBuckets(col("embedding"), 8, 4))
        .write.format("noop").mode("overwrite").save()
    }.map(_._2)
    val resolve = Seq(
      "text" -> (() => graft.llm.Dedup.lshVerifiedPairs(s, dir)),
      "vec" -> (() => graft.llm.Similarity.signLshPairs(s, dir))).map { case (fam, pairs) =>
      val Some(((p, n), vtrace)) = b.probe {
        val p = pairs().select(col("a_id"), col("b_id")).transform(graft.runtime.Ckpt.eager)
        (p, p.count())
      }
      val Some((iters, rtrace)) = b.probe {
        val (labels, iters) = DedupResolve.resolveClustersCounted(p)
        labels.count()
        iters
      }
      b.unpersistAll()
      fam -> Map("verified" -> n, "verify" -> vtrace, "resolve_iters" -> iters, "resolve" -> rtrace)
    }
    val textMax = graft.llm.Dedup.bandsOf(
        docs.select(col("doc_id"), graft.functions.MinHashSig(col("text"), 5, 32).as("sig")), 32, 4)
      .groupBy(col("band"), col("bsig")).count().agg(max(col("count"))).head().getLong(0)
    val vecMax = IncrementalSemantic.bucketsOf(IncrementalSemantic.withSigs(vecs))
      .groupBy(col("table_id"), col("bucket")).count().agg(max(col("count"))).head().getLong(0)
    b.unpersistAll()
    probes = Map("sig_text" -> sig.orNull, "sig_vec" -> vsig.orNull,
      "resolve" -> resolve.toMap, "max_bucket" -> math.max(textMax, vecMax))
  }

  private var probes: Map[String, Any] = Map.empty

  override def finish(): Map[String, Any] = Map(
    "ref_dir" -> refDir, "vec_cap" -> vecCap, "text_cap" -> textCap, "cycles_run" -> cycle,
    "probes" -> probes)
}
