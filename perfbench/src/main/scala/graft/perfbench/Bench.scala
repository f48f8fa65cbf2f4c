package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{PerfbenchShim, SparkSession}

/** Runs and records the benchmark's ops. One driver thread issues ops one
  * after another (a closed loop with one client). Each op is timed from
  * outside around one call into a graft module; everything after the
  * clock stops — trace collection, artifact listing, unpersisting the
  * op's checkpoints — is outside the timed region.
  */
final class Bench(val spark: SparkSession, traced: Boolean) {
  private val sc = spark.sparkContext
  private val tracer: Option[Tracer] = if (traced) Some(new Tracer) else None
  tracer.foreach { t =>
    sc.addSparkListener(t)
    spark.listenerManager.register(t)
  }

  val records = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  var phase = "warm"

  /** Time `body` as one op of `kind`. `watch` names directories whose
    * files the op may write (listed before and after, untimed). Returns
    * None when the op threw; the failure is recorded and counted.
    */
  def op[T](kind: String, watch: Seq[String] = Nil)(body: => T): Option[T] = {
    val id = records.size
    val rec = mutable.LinkedHashMap[String, Any]("id" -> id, "kind" -> kind, "phase" -> phase)
    val before = watch.map(Files.listing)
    val tr = tracer.map(_.begin())
    sc.setJobGroup(s"perfbench-$id", kind, interruptOnCancel = false)
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val t1ms = System.currentTimeMillis()
    sc.clearJobGroup()
    System.err.println(f"[perfbench] op $id%d $kind%s ${phase}%s $wall%.3f s")
    rec ++= Seq("t0_ms" -> t0ms, "t1_ms" -> t1ms, "wall_s" -> wall, "ok" -> res.isRight)
    res.left.foreach { e =>
      rec("error") = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}"
      System.err.println(s"[perfbench] op $id $kind failed: $e")
    }
    if (watch.nonEmpty) {
      val after = watch.map(Files.listing)
      val written = before.zip(after).flatMap { case (b, a) => a.filter { case (p, n) => !b.get(p).contains(n) } }
      rec("files_written") = written.size
      rec("bytes_written") = written.map(_._2).sum
      rec("bytes_live") = after.map(_.values.sum).sum
    }
    tr.foreach { t =>
      PerfbenchShim.drain(sc)
      rec ++= traceFields(t)
    }
    unpersistAll()
    records += rec
    res.toOption
  }

  /** Extra fields for the current op's record (untimed probes). */
  def note(fields: (String, Any)*): Unit = records.last ++= fields

  def unpersistAll(): Unit =
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Run an untimed probe in traced mode only: returns (result, trace).
    * Checkpoints the probe makes stay until the caller unpersists them. */
  def probe[T](body: => T): Option[(T, mutable.LinkedHashMap[String, Any])] = tracer.map { t =>
    val tr = t.begin()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    PerfbenchShim.drain(sc)
    val f = traceFields(tr)
    f("wall_s") = wall
    (r, f)
  }

  def isTraced: Boolean = tracer.nonEmpty

  private def traceFields(t: Tracer#OpTrace): mutable.LinkedHashMap[String, Any] = {
    val stages = t.stages.values.toSeq.map { s =>
      Map("id" -> s.id, "name" -> s.name.take(120), "submit" -> s.submit, "complete" -> s.complete,
        "shuffle_map" -> s.shuffleMap, "run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "shuffle_write_records" -> s.shuffleWriteRecords,
        "spill_bytes" -> s.spillBytes,
        "task_ms" -> s.taskMs.toSeq)
    }
    val joins = t.sqlIds.toSeq.flatMap(id => PerfbenchShim.planMetrics(spark, id))
      .collect { case (name, desc, ms) if name.contains("Join") && Bench.isBandJoin(desc) =>
        ms.getOrElse("number of output rows", 0L) }
    mutable.LinkedHashMap[String, Any](
      "jobs" -> t.jobs.toSeq.map { case (a, b) => Seq(a, b) },
      "stages" -> stages,
      "plan_ms" -> t.planMs,
      "ckpt_rdds" -> t.persisted.size,
      "band_join_rows" -> joins.sum)
  }
}

object Bench {
  /** The LSH candidate self-join: an equi-join on a bucket key (band
    * signature or sign-LSH bucket) with an id inequality. */
  def isBandJoin(desc: String): Boolean = {
    val keyed = (desc.contains("band#") && desc.contains("bsig#")) ||
      (desc.contains("table_id#") && desc.contains("bucket#"))
    keyed && desc.contains(" < ")
  }
}

object Files {
  /** path → size of every regular file under `dir` (empty if absent). */
  def listing(dir: String): Map[String, Long] = {
    val root = new java.io.File(dir)
    if (!root.exists()) Map.empty
    else {
      val out = mutable.Map.empty[String, Long]
      def walk(f: java.io.File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else if (!f.getName.startsWith(".")) out(f.getPath) = f.length()
      walk(root)
      out.toMap
    }
  }
}
