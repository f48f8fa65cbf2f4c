package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine: the one place in `src/main` that
  * builds a `SparkSession`, and the one reader of `SPARK_GRAFT_CPUS`.
  *
  * Two fixed profiles, chosen in code by each main:
  *  - [[engine]] ([[build]]): the library session — `GraftExtensions`, and
  *    shuffle partitions = 2 × cores. `perfbench` runs on it.
  *  - [[driver]] ([[driverSession]]): the driver-contract session that
  *    `Bench`, `Verify` and the `graft.tools` mains run on — shuffle
  *    partitions = cores, no extensions (no inventory query calls a
  *    `graft_*` SQL function; `TopK` registers its own strategy).
  *
  * Scale posture: these configs are the local[N] analogues of what a
  * 1000-executor deployment would set — AQE for runtime re-planning
  * (coalescing post-shuffle partitions, skew-join splitting), a shuffle
  * partition count matched to the parallelism actually available (the
  * reference's `ReducerTasks` knob, gomrjob `runner.go:54,100`),
  * and UTC session time for reproducible timestamp semantics.
  */
object GraftSession {

  /** A session's configuration: the conf map applied key by key, and
    * whether the session carries `GraftExtensions`.
    */
  private[graft] final case class Profile(conf: Map[String, String], extensions: Boolean)

  /** Cores the session may use: `SPARK_GRAFT_CPUS`, else the machine's
    * core count (the reference defaults to 30 reducer tasks, gomrjob
    * `runner.go:100`; we default to the local core count).
    */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** The [[Watchdog.secs]] posture: a malformed value warns and falls back
    * instead of throwing — a crash at session build (before any query
    * runs) voids the whole artifact, the exact failure class the watchdog
    * exists to prevent.
    */
  private[graft] def parseCpus(raw: Option[String]): Int = {
    val all = java.lang.Runtime.getRuntime.availableProcessors
    raw.fold(all) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse {
        System.err.println(
          s"[graft] ignoring malformed SPARK_GRAFT_CPUS='$v' (want positive int); using $all")
        all
      }
    }
  }

  /** Shuffle partitions = 2 × cores. Measured, not folklore: the
    * round-12 d13cand A/B at ×500 (SCALE_RESULTS_r12.jsonl) found an
    * interior minimum at exactly 2 tasks/core — 54.5 s vs 79.7 s at
    * 1×/32 and 64.8 s at 4×/128, identical outputs, zero spill — the
    * granularity that rides out stragglers without paying 4× the
    * per-partition fixed costs. AQE coalescing trims the small-stage
    * excess at runtime, so the cost of the higher default on tiny
    * queries is already handled. (The [[driver]] profile pins its own
    * value and is unaffected.)
    */
  def shufflePartitions: String = (cpus * 2).toString

  private def common: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  private[graft] def engine: Profile =
    Profile(common + ("spark.sql.shuffle.partitions" -> shufflePartitions), extensions = true)

  private[graft] def driver: Profile =
    Profile(common + ("spark.sql.shuffle.partitions" -> cpus.toString), extensions = false)

  /** The engine session. */
  def build(master: String = s"local[$cpus]", appName: String = "graft"): SparkSession =
    session(master, appName, engine)

  /** The driver-contract session, on `local[cpus]`. The per-query sweeps
    * and the BPE loop's checkpoint rotations unpersist local checkpoints
    * by design, and Spark logs a "lineage has been truncated" WARN for
    * each, flooding the captured tail with non-signal. The emitter is the
    * concrete RDD class's logger (a DataFrame localCheckpoint is always a
    * MapPartitionsRDD), so only that logger is raised, not the whole
    * `org.apache.spark.rdd` package, which also hid warnings that explain
    * odd timings (r14 ADVICE).
    */
  def driverSession(appName: String): SparkSession = {
    val spark = session(s"local[$cpus]", appName, driver)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  private def session(master: String, appName: String, p: Profile): SparkSession = {
    val b = SparkSession.builder().master(master).appName(appName).config(p.conf)
    val spark = (if (p.extensions) b.withExtensions(new graft.functions.GraftExtensions) else b)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
