package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark driver. Usage:
  * {{{
  *   Main <workload> <inputs-dir> <work-dir> <seconds> <traced 0|1> <cache-dir>
  * }}}
  * Reads the generated inputs under `inputs-dir`, runs the workload's
  * untimed warm-up, then its op mix in a closed loop for `seconds` (a
  * fixed schedule when traced, so counts repeat), and writes
  * `result.json` (op records and answers) to `work-dir`. Answers are
  * checked afterwards by the launcher.
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, seconds, traced, cache) = args
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.build(appName = s"perfbench-$workload")
    System.err.println(s"[perfbench] session after ${(System.currentTimeMillis() - jvmStart) / 1000.0} s")
    val bench = new Bench(spark, traced == "1")
    val manifest = json.readValue(new File(s"$inputs/manifest.json"), classOf[Map[String, Any]])
    val w: Workload = workload match {
      case "mr_jobs"         => new MrJobs(bench, inputs, work)
      case "index_lifecycle" => new Lifecycle(bench, inputs, work, cache, manifest)
      case other             => sys.error(s"unknown workload $other")
    }
    w.warm()
    val readyMs = System.currentTimeMillis()
    bench.phase = "measure"
    val deadline = System.nanoTime() + (seconds.toDouble * 1e9).toLong
    if (bench.isTraced) w.traced() else w.measure(deadline)
    val extra = w.finish()
    val cores = spark.sparkContext.defaultParallelism
    spark.stop()
    val out = Map(
      "workload" -> workload,
      "cores" -> cores,
      "shuffle_partitions" -> graft.GraftSession.shufflePartitions.toInt,
      "traced" -> bench.isTraced,
      "ready_ms" -> readyMs,
      "ops" -> bench.records.map(_.toMap).toSeq) ++ extra
    json.writeValue(new File(s"$work/result.json"), out)
  }

  def writeLines(path: String, lines: Iterable[Any]): Unit = {
    JFiles.createDirectories(Paths.get(path).getParent)
    JFiles.write(Paths.get(path), lines.map(_.toString).asJava, UTF_8)
  }
}

trait Workload {
  /** One untimed cycle of every op kind. */
  def warm(): Unit
  /** The op mix, round after round, until `deadline` (System.nanoTime). */
  def measure(deadline: Long): Unit
  /** The traced run's fixed schedule. */
  def traced(): Unit
  /** Untimed closing work (reference answers); extra result fields. */
  def finish(): Map[String, Any] = Map.empty
}
