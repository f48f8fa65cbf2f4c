package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One measurement tool for the query inventory, on the session the bench
  * runs ([[GraftSession.driverSession]]). Query names are full names
  * (e.g. `d39_incremental_dedup`); an unknown name, or a mode given the
  * wrong number of names, exits 2 before any session starts.
  *
  *  - `explain <names…>`: `.explain("formatted")` of each query's ANSWER
  *    frame into `$SPARK_GRAFT_EXPLAIN_DIR/<id>_$SPARK_GRAFT_EXPLAIN_SUFFIX.txt`
  *    (defaults `plans/r20`, `before`; SF default sf0.01). Lifecycle
  *    queries run several eager actions before returning their answer;
  *    the dump is the plan the noop sink executes last, which is where
  *    read-path regressions (lost bucketed scans, unexpected exchanges)
  *    show.
  *  - `profile <name>`: one warm-up, then one run with every Spark job's
  *    interval and every action's time recorded; prints the job-covered
  *    wall, the driver-only gap, the jobs and job-covered span per call
  *    site (the first `graft.` frame of the SQL execution that started
  *    each job) and the top actions.
  *  - `cold [names…]`: each query in a FRESH session (no cached relations,
  *    no persisted-RDD residue, no shared-JVM allocator pressure):
  *    warm-up, min of two runs, one JSON line. Default: the heaviest
  *    queries of the round-10 bench. Session-cold runs ~1.5-2× the warm
  *    bench number; a bench "regression" that re-times at its historical
  *    cold level is drift.
  *  - `hunt`: every query warm-up, run1, run2 in one session, the bench
  *    protocol. With the run markers it attributes a log line such as a
  *    `CodeGenerator.doCompile` fallback trace to a query and run.
  *
  * Every run goes through the noop sink as [[graft.Bench]] does, warm-ups
  * on sf0.001, and `[measure] begin/end <name> <tag>` markers bracket each
  * run on stderr (codegen compiles synchronously with plan execution, so
  * markers and log4j output interleave in order).
  *
  * `SPARK_GRAFT_SF_DIR=… sbt "runMain graft.tools.Measure <mode> [names…]" 2> measure.err`
  */
object Measure {
  private val warmDir = "/root/testdata/sf0.001"

  private val defaultCold = Seq(
    "d19_lsh_grid_k32x4", "d22_simhash_b8", "d16_semantic_corpus",
    "d15_curate", "d11_semantic_dedup", "d08_dedup_pipeline",
    "d14_dedup_corpus", "d04_ngram_jaccard", "d18_lsh_grid_k16x8",
    "d17_lsh_verified_k48")

  private val usage =
    "usage: Measure explain <names...> | profile <name> | cold [names...] | hunt"

  /** The mode and the query names it runs, or why it cannot run. */
  private[graft] def parse(args: Seq[String]): Either[String, (String, Seq[String])] = {
    val names = args.drop(1)
    args.headOption match {
      case Some("explain") => selected(names).map("explain" -> _)
      case Some("profile") if names.size <= 1 => selected(names).map("profile" -> _)
      case Some("cold") => selected(if (names.isEmpty) defaultCold else names).map("cold" -> _)
      case Some("hunt") if names.isEmpty =>
        Right("hunt" -> SparkEntry.queries.keys.toSeq.sorted)
      case _ => Left(usage)
    }
  }

  /** The one name check: a non-empty list of declared query names. */
  private def selected(names: Seq[String]): Either[String, Seq[String]] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (names.isEmpty) Left(usage)
    else if (unknown.nonEmpty) Left(s"unknown queries: ${unknown.mkString(" ")}")
    else Right(names)
  }

  def main(args: Array[String]): Unit = {
    val (mode, names) = parse(args.toSeq) match {
      case Right(p) => p
      case Left(why) =>
        System.err.println(s"[measure] $why")
        sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      if (mode == "explain") "/root/testdata/sf0.01" else "/root/testdata/sf0.1")
    mode match {
      case "explain" => withSession(explain(_, names, sfDir))
      case "profile" => withSession(profile(_, names.head, sfDir))
      case "cold" => cold(names, sfDir)
      case "hunt" => withSession { s =>
        Seq(warmDir -> "warmup", sfDir -> "run1", sfDir -> "run2").foreach { case (dir, tag) =>
          names.foreach(run(s, _, dir, tag))
        }
      }
    }
  }

  private def withSession[T](body: SparkSession => T): T = {
    val s = GraftSession.driverSession("graft-measure")
    try body(s) finally s.stop()
  }

  private def mark(s: String): Unit = { System.err.println(s"[measure] $s"); System.err.flush() }

  /** Runs `name` on `dir` through the noop sink, then releases persisted
    * RDDs outside the timed region. Seconds of the sink write, or -1 if the
    * query threw.
    */
  private def run(spark: SparkSession, name: String, dir: String, tag: String): Double = {
    mark(s"begin $name $tag")
    val t0 = System.nanoTime()
    val secs =
      try {
        SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case NonFatal(e) =>
          mark(s"FAILED $name $tag: ${e.getMessage}")
          -1.0
      }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    mark(s"end $name $tag")
    secs
  }

  private def explain(spark: SparkSession, names: Seq[String], sfDir: String): Unit = {
    val outDir = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_DIR", "plans/r20")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "before")
    new java.io.File(outDir).mkdirs()
    names.foreach { full =>
      val out = s"$outDir/${full.takeWhile(_ != '_')}_$suffix.txt"
      val plan = SparkEntry.queries(full)(spark, sfDir).queryExecution.explainString(FormattedMode)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), s"== $full @ $sfDir ==\n$plan")
      mark(s"wrote $out")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
  }

  /** Per-job and per-action profile of one run: the job intervals give the
    * job-covered wall and the driver-only gap; each job's SQL execution
    * (its `spark.sql.execution.id`) names the call site that started it;
    * the action list (Catalyst optimize + AQE + execute, with a plan
    * fingerprint) names the slow actions even when the jobs under them
    * are all tiny.
    */
  private def profile(spark: SparkSession, name: String, sfDir: String): Unit = {
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Option[Long])]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Option[Long])]()
    val sites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = starts.put(js.jobId,
        (System.nanoTime(), Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (t0, exec) =>
          jobs.add((t0, System.nanoTime(), exec)) }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => sites.put(x.executionId,
          x.details.linesIterator.map(_.trim).find(_.startsWith("graft."))
            .getOrElse("(no graft frame)"))
        case _ =>
      }
    })
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val fp = qe.analyzed.toString.linesIterator.take(2).mkString(" | ").take(150)
        actions.add((s"$funcName :: $fp", durationNs / 1e9))
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    // listener events arrive asynchronously: settle before each read
    run(spark, name, warmDir, "warmup")
    Thread.sleep(1000)
    jobs.clear(); starts.clear(); sites.clear(); actions.clear()
    val wall = run(spark, name, sfDir, "profile")
    Thread.sleep(1000)

    val all = jobs.asScala.toSeq.sortBy(_._1)
    println(f"== $name: wall $wall%.2f s, ${all.size} jobs, " +
      f"job-sum ${all.map(j => (j._2 - j._1) / 1e9).sum}%.2f s ==")
    val covered = coveredNs(all.map(j => (j._1, j._2)))
    println(f"-- job-covered wall ${covered / 1e9}%.2f s; driver-only gap ${wall - covered / 1e9}%.2f s --")
    println("-- jobs and job-covered span per call site (desc) --")
    all.groupBy(_._3.fold("no SQL execution")(id => sites.getOrDefault(id, "(no graft frame)")))
      .map { case (site, js) => (site, js.size, coveredNs(js.map(j => (j._1, j._2))) / 1e9) }
      .toSeq.sortBy(-_._3)
      .foreach { case (site, n, span) => println(f"$n%5d jobs $span%8.3f s  $site") }
    println("-- top 40 actions (QueryExecutionListener, desc) --")
    val acts = actions.asScala.toSeq
    acts.sortBy(-_._2).take(40).foreach { case (k, d) => println(f"$d%8.3f s  $k") }
    println(f"-- actions: n=${acts.size}, sum ${acts.map(_._2).sum}%.2f s --")
  }

  /** Nanoseconds covered by the union of the start-ordered `intervals`. */
  private def coveredNs(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cursor = 0L
    intervals.foreach { case (s0, e0) =>
      val s1 = math.max(s0, cursor)
      if (e0 > s1) { covered += e0 - s1; cursor = e0 } else cursor = math.max(cursor, e0)
    }
    covered
  }

  private def cold(names: Seq[String], sfDir: String): Unit = {
    def fmt(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = names.map { n =>
      val secs = withSession { s =>
        run(s, n, warmDir, "warmup")
        math.min(run(s, n, sfDir, "run1"), run(s, n, sfDir, "run2"))
      }
      "\"" + n.takeWhile(_ != '_') + "\":" + fmt(secs)
    }
    println(s"""{"metric":"cold","unit":"sec","queries":${qs.mkString("{", ",", "}")},"sf":"$sfDir","cpus":${GraftSession.cpus},"runs":2,"agg":"min","isolation":"session-per-query"}""")
  }
}
