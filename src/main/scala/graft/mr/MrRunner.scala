package graft.mr

import org.apache.spark.sql.SparkSession
import graft.sources.{KvSink, Sources}
import graft.runtime.{Reporter, Workspace}

/** End-to-end job runner — the user experience of the reference's `Runner`
  * (/root/reference/runner.go:44-66): name the job, point it at input
  * globs, list the steps, choose output/compression/parallelism, run, and
  * read counters afterwards. Everything between — shuffle, combiner
  * wiring, step chaining, temp workspace — is engine-internal.
  *
  * Differences by design (Spark-native): no self-shipping binary, no
  * per-step HDFS round-trips (one lazy DAG; materialization only at the
  * sink), counters are accumulators not stderr lines.
  *
  * Map parallelism: one map task per input split, at least one split per
  * core for splittable input, sized from the total input bytes
  * ([[graft.sources.Sources.textLines]] has the rule). The run applies
  * [[graft.sources.Sources.lineSplitConf]] beneath `properties`, so a
  * job-wide `spark.sql.files.*` entry still decides.
  *
  * Without `output` the job writes to `<workspace>/output` in a fresh
  * workspace of its own and returns that path; with `output` it creates
  * no workspace.
  */
final case class MrRunner(
    name: String,
    inputFiles: Seq[String],
    steps: Seq[MrStep],
    output: Option[String] = None,
    compressOutput: Boolean = false, // ≙ CompressOutput (runner.go:160-163)
    reducerTasks: Option[Int] = None, // ≙ job-wide ReducerTasks (runner.go:54)
    // ≙ job-wide `-D k=v` engine properties (runner.go:59, hdfs/job.go:59-70):
    // applied to the session conf for the WHOLE run (plan build + execution,
    // since the sink write happens inside run) and restored afterwards
    properties: Map[String, String] = Map.empty,
    tmpBase: String = System.getProperty("java.io.tmpdir")) {

  require(steps.nonEmpty, "at least one step required")

  /** Run all steps; returns (output path, counters). */
  def run(spark: SparkSession): (String, Counters) =
    MrPipeline.withProperties(spark, Sources.lineSplitConf(spark) ++ properties) {
      runImpl(spark)
    }

  private def runImpl(spark: SparkSession): (String, Counters) = {
    val counters = Counters.create(spark.sparkContext, s"graft.mr.$name")
    Reporter.status(spark, s"graft.mr job $name: ${steps.size} step(s)")
    val outPath = output.getOrElse(s"${Workspace.create(spark, tmpBase, name)}/output")
    val input = inputFiles
      .map(Sources.textLines(spark, _))
      .reduce(_ unionByName _)
    val sized = reducerTasks match {
      case Some(n) =>
        // job-wide default; steps may still override per-step
        val adjusted = steps.map {
          case s if s.reducerTasks.isEmpty => s.withReducerTasks(n)
          case s                           => s
        }
        MrPipeline.run(input, adjusted, counters)
      case None => MrPipeline.run(input, steps, counters)
    }
    // final lines already carry json(k)\tjson(v); write as text
    val lines = sized.toDF("value")
    val w = lines.write.mode("overwrite")
    (if (compressOutput) w.option("compression", "gzip") else w).text(outPath)
    (outPath, counters)
  }
}
