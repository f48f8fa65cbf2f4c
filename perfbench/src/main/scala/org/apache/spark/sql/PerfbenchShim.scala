package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The two engine internals the benchmark's traced mode reads, outside any
  * timed region: draining the listener bus (so every event of an op has
  * been delivered before the next op starts) and the SQL metrics of a
  * finished SQL execution.
  */
object PerfbenchShim {

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (node name, node description, metric name → value) for every node
    * of the final plan of SQL execution `id`; empty once the execution has
    * been evicted from the status store.
    */
  def planMetrics(s: SparkSession, id: Long): Seq[(String, String, Map[String, Long])] = {
    val store = s.sharedState.statusStore
    val values = try store.executionMetrics(id) catch { case _: Exception => Map.empty[Long, String] }
    val graph = try Some(store.planGraph(id)) catch { case _: Exception => None }
    graph.toSeq.flatMap(_.allNodes).map { n =>
      val ms = n.metrics.flatMap { m =>
        values.get(m.accumulatorId).flatMap(v => leadingNumber(v)).map(m.name -> _)
      }.toMap
      (n.name, n.desc, ms)
    }
  }

  /** "1,234" → 1234; "total (min, med, max)\n12 ms (...)" → 12. */
  private def leadingNumber(v: String): Option[Long] =
    "-?[0-9][0-9,]*".r.findFirstIn(v.split("\n").last).map(_.replace(",", "").toLong)
}
