package graft.runtime

/** Run independent Spark ACTIONS concurrently from the driver (guide
  * §2.6: actions are only sequential because driver code calls them
  * sequentially). The index-lifecycle writers finish each mutation with
  * 2–6 independent artifact writes over already-materialized
  * (checkpointed) frames; running them sequentially pays the full
  * commit/file-IO latency of each, while the cluster sits mostly idle —
  * overlapping them bounds the write-back wall by the slowest write
  * instead of the sum. At cluster scale the same overlap back-fills
  * executors freed by one write's task tail with the next write's tasks.
  *
  * Threads are created PER CALL (never pooled): Spark's job-group /
  * job-description properties live in an InheritableThreadLocal, so a
  * fresh child thread inherits the caller's group — the harness
  * watchdog's cancelJobGroup still reaches every job submitted here. A
  * shared pool's threads would keep the group of whoever created them.
  *
  * Failure contract: every thunk is awaited (no orphan writers), then
  * the first-COMPLETED failure is rethrown with every sibling failure
  * attached via `addSuppressed` (r20 ADVICE: rethrowing one and
  * SWALLOWING the rest lost a root cause whenever two writes failed
  * together — the error path of every index mutation deserves the full
  * picture). Same observable outcome as the sequential code otherwise,
  * minus the ordering of side effects between INDEPENDENT writes (which
  * no reader can observe: artifacts become visible only at the manifest
  * publish that follows them). An interrupt of the COORDINATING thread
  * while it awaits (the harness watchdog's reach is cancelJobGroup, not
  * thread interrupt, so this is defensive) interrupts the workers, waits
  * for them again for at most [[InterruptGraceMs]] in total, attaches
  * every failure collected by then (the workers' own failures, and their
  * InterruptedExceptions) to the rethrown InterruptedException via
  * `addSuppressed`, re-asserts the flag, and propagates — never a silent
  * half-wait. A worker that ignores the interrupt past the grace is left
  * running (it is a daemon thread); its failure, if any, is lost.
  */
object Par {

  /** Longest total wait for interrupted workers to stop. */
  val InterruptGraceMs = 5000L

  def run(thunks: (() => Unit)*): Unit = {
    if (thunks.size <= 1) { thunks.foreach(_.apply()); return }
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = thunks.zipWithIndex.map { case (t, i) =>
      val th = new Thread(() => {
        try t()
        catch { case e: Throwable => failures.add(e) }
      }, s"graft-par-$i")
      th.setDaemon(true)
      th.start()
      th
    }
    try threads.foreach(_.join())
    catch {
      case ie: InterruptedException =>
        threads.foreach(_.interrupt())
        val deadline = System.nanoTime() + InterruptGraceMs * 1000000L
        try threads.foreach { t =>
          t.join(math.max(1L, (deadline - System.nanoTime()) / 1000000L))
        }
        catch { case again: InterruptedException => ie.addSuppressed(again) }
        drainInto(ie, failures)
        Thread.currentThread().interrupt()
        throw ie
    }
    val first = failures.poll()
    if (first != null) {
      drainInto(first, failures)
      throw first
    }
  }

  private def drainInto(
      head: Throwable,
      failures: java.util.concurrent.ConcurrentLinkedQueue[Throwable]): Unit = {
    var next = failures.poll()
    while (next != null) {
      if (next ne head) head.addSuppressed(next)
      next = failures.poll()
    }
  }
}
