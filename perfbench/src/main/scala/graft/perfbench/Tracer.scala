package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's own listener for traced runs. It attributes every event
  * to the op that was current when the event was posted: the driver sets
  * `current` before an op starts and drains the listener bus after the op
  * ends, so no event of op i is delivered once op i+1 has begun.
  */
final class Tracer extends SparkListener with QueryExecutionListener {

  final class StageRec(val id: Int) {
    var name = ""
    var submit = 0L
    var complete = 0L
    var shuffleMap = false
    var runMs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleWriteRecords = 0L
    var spillBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  final class OpTrace {
    val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
    val jobStart = mutable.HashMap.empty[Int, Long]
    val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
    val sqlIds = mutable.ArrayBuffer.empty[Long]
    val persisted = mutable.Set.empty[Int] // RDDs the op's stages stored (checkpoints)
    var planMs = 0L
  }

  @volatile private var current: OpTrace = new OpTrace

  def begin(): OpTrace = synchronized { current = new OpTrace; current }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    current.jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    current.jobStart.remove(e.jobId).foreach(t0 => current.jobs += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val r = current.stages.getOrElseUpdate((i.stageId, i.attemptNumber()), new StageRec(i.stageId))
    r.name = i.name
    r.submit = i.submissionTime.getOrElse(0L)
    r.complete = i.completionTime.getOrElse(0L)
    current.persisted ++= i.rddInfos.filter(_.storageLevel.isValid).map(_.id)
    val m = i.taskMetrics
    if (m != null) {
      r.runMs = m.executorRunTime
      r.gcMs = m.jvmGCTime
      r.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
      r.shuffleWriteRecords = m.shuffleWriteMetrics.recordsWritten
      r.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
      r.shuffleMap = r.shuffleWriteRecords > 0
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) {
      val r = current.stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageRec(e.stageId))
      r.taskMs += e.taskMetrics.executorRunTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { current.sqlIds += s.executionId }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val p = qe.tracker.phases
    current.planMs += Seq("analysis", "optimization", "planning")
      .flatMap(p.get).map(_.durationMs).sum
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
