package graft.runtime

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** Runtime-plane parity (SURVEY.md §2B #28-31).
  *
  * The reference's task plane: `reporter:status:` messages on stderr
  * (/root/reference/reporter.go:17-21), rusage CPU counters on task exit
  * (:23-34), driver-side TCP log aggregation
  * (/root/reference/remote_logging.go), and a per-run temp workspace
  * (/root/reference/runner.go:109-127). In Spark the log/metrics channels
  * are native (executor logs, event bus); these helpers surface the same
  * *information* through the public listener/conf APIs.
  */
object Reporter {

  /** `reporter:status:<msg>` (#28): names the current job group in the UI/
    * event log and mirrors to the driver log, like the reference's status
    * channel.
    */
  def status(s: SparkSession, message: String): Unit = {
    s.sparkContext.setJobDescription(message)
    System.err.println(s"[graft status] $message")
  }
}

/** CPU-time audit (#29): the reference emits rusage user/system ms as
  * counters keyed `stage[step]` on task exit (/root/reference/reporter.go:
  * 23-34). Spark publishes per-stage executor CPU/run time on the event
  * bus; this listener aggregates it into the same shape.
  */
final class CpuAudit extends SparkListener {
  private val stages = TrieMap.empty[Int, (Long, Long)] // stageId -> (cpuNs, runMs)

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val m = sc.stageInfo.taskMetrics
    stages.put(sc.stageInfo.stageId, (m.executorCpuTime, m.executorRunTime))
  }

  /** stageId → (cpu ms, wall ms), the reference's `user/system ms` analogue. */
  def report: Map[Int, (Long, Long)] =
    stages.readOnlySnapshot().toMap.map { case (k, (cpuNs, runMs)) =>
      k -> (cpuNs / 1000000L, runMs)
    }

  def totalCpuMs: Long = report.values.map(_._1).sum
}

object CpuAudit {
  /** Install on the session's listener bus; returns the handle to read. */
  def install(s: SparkSession): CpuAudit = {
    val a = new CpuAudit
    s.sparkContext.addSparkListener(a)
    a
  }
}

/** Driver-side task-failure surfacing (#30): the reference funnels every
  * task's stderr to the driver over a TCP channel, each line prefixed with
  * the worker hostname (/root/reference/remote_logging.go:13-76). Spark's
  * log plane is platform-native (executor logs, event bus), but the
  * user-visible half — one merged, host-prefixed stream of task-side
  * failure diagnostics readable at the driver — is this listener: every
  * failed task contributes a `[host] class: message + top frames` excerpt.
  */
final class TaskFailureLog(maxEntries: Int = 256) extends SparkListener {

  final case class FailureEntry(
      stageId: Int,
      taskId: Long,
      host: String,
      excerpt: String)

  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[FailureEntry]

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = te.reason match {
    case org.apache.spark.Success => ()
    case ef: org.apache.spark.ExceptionFailure =>
      add(te, s"${ef.className}: ${ef.description}" +
        ef.stackTrace.take(5).map(f => s"\n    at $f").mkString)
    case other: org.apache.spark.TaskFailedReason => add(te, other.toErrorString)
    case _ => ()
  }

  private def add(te: SparkListenerTaskEnd, msg: String): Unit = {
    // bounded like the reference's log window — keep the newest
    while (buf.size() >= maxEntries) buf.poll()
    val host = Option(te.taskInfo).map(_.host).getOrElse("unknown")
    val taskId = Option(te.taskInfo).map(_.taskId).getOrElse(-1L)
    buf.add(FailureEntry(te.stageId, taskId, host, s"[$host] $msg"))
  }

  /** Newest-last failure excerpts collected so far. */
  def failures: Seq[FailureEntry] = {
    import scala.jdk.CollectionConverters._
    buf.iterator().asScala.toSeq
  }

  /** The merged, host-prefixed stream (the reference's aggregated log). */
  def merged: String = failures.map(_.excerpt).mkString("\n")
}

object TaskFailureLog {
  def install(s: SparkSession): TaskFailureLog = {
    val l = new TaskFailureLog()
    s.sparkContext.addSparkListener(l)
    l
  }
}

/** Task-side log channel: the half of the reference's remote-logging plane
  * that [[TaskFailureLog]] doesn't cover — lines a *running, non-failing*
  * task emits, readable at the driver. The reference ships every task's
  * stderr over TCP with a `[host stage:step]` prefix
  * (/root/reference/remote_logging.go:58-76, wiring runner.go:259-272);
  * here the transport is a collection accumulator (Spark's driver-bound
  * channel), with the same prefix stamped task-side from `TaskContext`.
  *
  * Semantics: accumulator delivery is at-least-once under task retries /
  * speculation (like any log stream — a retried task logs twice); lines
  * arrive at the driver on task completion, not mid-task. Serializable so
  * it can be captured in mapper closures; only the accumulator handle
  * ships.
  */
final class TaskLogChannel private[runtime] (
    acc: org.apache.spark.util.CollectionAccumulator[String]) extends Serializable {

  /** Call from task-side code: stamps `[host stage:partition]` and ships. */
  def log(msg: String): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    val where =
      if (tc == null) "driver"
      else s"${TaskLogChannel.hostName} ${tc.stageId()}:${tc.partitionId()}"
    acc.add(s"[$where] $msg")
  }

  /** Driver-side: all lines received so far, in arrival order. */
  def lines: Seq[String] = {
    import scala.jdk.CollectionConverters._
    acc.value.asScala.toSeq
  }

  /** The merged, host-prefixed stream (reference's aggregated log view). */
  def merged: String = lines.mkString("\n")
}

object TaskLogChannel {
  /** Per-JVM hostname: `InetAddress.getLocalHost` can be a blocking DNS
    * lookup on misconfigured hosts — resolve once, not per log line.
    */
  // NonFatal, not just UnknownHostException: a locked-down executor can
  // throw SecurityException here, and a lazy val rethrows on EVERY access —
  // one bad lookup would fail every task log line on that JVM.
  private lazy val hostName: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case scala.util.control.NonFatal(_) => "unknown-host" }
}

/** Driver-side merged task-log collector completing §2B #30: combines
  *  - a [[TaskLogChannel]] for user log lines from inside tasks, and
  *  - an opt-in listener that records one `[host stage:task]` completion
  *    excerpt per task (status + wall/cpu time) — so even tasks that never
  *    log and never fail leave a retrievable trace, the way the reference's
  *    streamed stderr always shows task lifecycles.
  * Bounded like the reference's log window — newest `maxEntries` kept.
  */
final class TaskLogStream private (
    val channel: TaskLogChannel,
    maxEntries: Int) extends SparkListener {

  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]
  // ConcurrentLinkedQueue.size() is O(n); track length explicitly so
  // eviction is O(1) per completed task instead of O(maxEntries)
  private val bufLen = new java.util.concurrent.atomic.AtomicInteger(0)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    while (bufLen.get() >= maxEntries) {
      if (buf.poll() != null) bufLen.decrementAndGet()
      else bufLen.set(0)
    }
    val host = Option(te.taskInfo).map(_.host).getOrElse("unknown")
    val taskId = Option(te.taskInfo).map(_.taskId).getOrElse(-1L)
    val status = te.reason match {
      case org.apache.spark.Success => "ok"
      case other: org.apache.spark.TaskFailedReason => s"FAILED: ${other.toErrorString}"
      case _ => "unknown"
    }
    val runMs = Option(te.taskMetrics).map(_.executorRunTime).getOrElse(0L)
    buf.add(s"[$host ${te.stageId}:$taskId] $status in ${runMs} ms")
    bufLen.incrementAndGet()
  }

  /** Per-task completion excerpts (newest `maxEntries`). */
  def taskLines: Seq[String] = {
    import scala.jdk.CollectionConverters._
    buf.iterator().asScala.toSeq
  }

  /** User lines then lifecycle lines — the full driver-side view. */
  def merged: String =
    (channel.lines ++ taskLines).mkString("\n")
}

object TaskLogStream {
  def install(s: SparkSession, maxEntries: Int = 4096): TaskLogStream = {
    val channel = new TaskLogChannel(
      s.sparkContext.collectionAccumulator[String]("graft.tasklog"))
    val l = new TaskLogStream(channel, maxEntries)
    s.sparkContext.addSparkListener(l)
    l
  }
}

/** Temp workspace lifecycle (#31): `user/<user>/tmp/<name>.<timestamp>`
  * with cleanup (/root/reference/runner.go:109-127) — over any Hadoop
  * scheme via FsUtil.
  *
  * A `-<uuid>` suffix makes every call's path its own: the timestamp has
  * one-second resolution, so two same-name jobs started in the same
  * second would otherwise share a workspace.
  */
object Workspace {
  def create(s: SparkSession, base: String, name: String): String = {
    val user = sys.props.getOrElse("user.name", "spark")
    val ts = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd-HHmmss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    val path = s"$base/user/$user/tmp/$name.$ts-${java.util.UUID.randomUUID()}"
    FsUtil.mkdir(s, path)
    path
  }

  /** `Cleanup()` ≙ recursive delete of the workspace. */
  def cleanup(s: SparkSession, path: String): Boolean =
    FsUtil.rmr(s, path)
}
