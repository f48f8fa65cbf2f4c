package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for the declared queries named on the
  * command line (full names, e.g. `d39_incremental_dedup`) into
  * SPARK_GRAFT_EXPLAIN_DIR as `<id>_<suffix>.txt` (suffix from
  * SPARK_GRAFT_EXPLAIN_SUFFIX, e.g. "before"/"after") — the plan evidence
  * for every query an optimization touches. An empty or unknown name
  * list exits non-zero before any session starts.
  * Lifecycle queries run several eager actions before returning their
  * answer frame; the dump is the ANSWER plan (what the harness's noop
  * sink executes last), which is where the read-path regressions
  * (lost bucketed scans, unexpected exchanges) would show.
  */
object ExplainDump {
  /** The query names to dump, or why there is nothing to dump. */
  private[graft] def selected(args: Seq[String]): Either[String, Seq[String]] = {
    val known = graft.SparkEntry.queries
    val unknown = args.filterNot(known.contains)
    if (args.isEmpty) Left("usage: ExplainDump <query...> (full names, e.g. d39_incremental_dedup)")
    else if (unknown.nonEmpty) Left(s"unknown queries: ${unknown.mkString(" ")}")
    else Right(args)
  }

  def main(args: Array[String]): Unit = {
    val names = selected(args.toSeq) match {
      case Right(ns) => ns
      case Left(why) =>
        System.err.println(s"[explain] $why")
        sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_DIR", "plans/r20")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "before")
    // same extensions as GraftSession.build (r20 ADVICE #1): evidence
    // plans must come from the engine's own planner surface (TopK
    // strategy + SQL function registrations); configs deliberately
    // mirror Bench's session, not GraftSession's, so dumped plans match
    // what the benchmarked engine plans
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    new java.io.File(outDir).mkdirs()
    names.foreach { full =>
      val short = full.takeWhile(_ != '_')
      val df = graft.SparkEntry.queries(full)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${short}_$suffix.txt"),
        s"== $full @ $sfDir ==\n$plan")
      System.err.println(s"[explain] wrote $outDir/${short}_$suffix.txt")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
