package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The dump loop, parameterized by the query map so the harness
    * contract itself is testable: HarnessSpec drives it with a
    * deliberately-hung query between two healthy ones and asserts the
    * artifact is complete minus the one err row — the round-11
    * regression (one hang voiding every query's attestation) pinned at
    * the exact surface it happened on.
    */
  private[graft] def runAll(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      timeoutSec: Int): Unit = {
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      // per-query watchdog (the round-11 lesson: ONE hanging plan voided
      // all 113 queries' attestation) — the reference's own posture is
      // skip-bad-and-count (reference mrproto/protocol.go:32-35), applied
      // here to the harness: on expiry, cancel the job group, log, move on
      Watchdog.run(spark, s"verify-$name", timeoutSec) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } match {
        case Watchdog.Ok => ()
        case Watchdog.TimedOut =>
          System.err.println(s"[verify] $name timed out")
        case Watchdog.Failed(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release checkpoint blocks so 78 queries' persisted RDDs don't
      // accumulate across the whole run
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
  }

  /** `oracle_sql.json`: one JSON object, query name → oracle SQL, every
    * string escaped by [[Bench.jesc]] — a tab or CR in an oracle's SQL
    * must not make the DuckDB compare's `json.load` fail and silently
    * zero the correctness report.
    */
  private[graft] def oracleJson(oracles: Map[String, String]): String =
    oracles.map { case (k, v) => s""""${Bench.jesc(k)}": "${Bench.jesc(v)}"""" }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local debugging
    // on partial corpora — e.g. an m02 parity check on a documents-only
    // dir); the driver's 2-arg call dumps everything, unchanged
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession.driverSession("graft-verify")
    // distinct env var from Bench's SPARK_GRAFT_QUERY_TIMEOUT (150 s
    // noop-sink default): Verify's coalesce(1) parquet dumps cost more
    // than a noop materialization, and sharing one knob between harnesses
    // with different defaults meant tuning one silently retuned the other
    runAll(spark, sfDir, outDir, SparkEntry.queries.filter(q => keep(q._1)),
      Watchdog.secs("SPARK_GRAFT_VERIFY_TIMEOUT", 300))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql.filter(o => keep(o._1))))
    spark.stop()
  }
}
