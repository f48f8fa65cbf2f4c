package graft.runtime

import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

class ParSpec extends AnyFunSuite {

  test("Par.run: an interrupted coordinator re-joins its workers and keeps their failures") {
    val started = new CountDownLatch(2)
    val workers = new ConcurrentLinkedQueue[Thread]()
    @volatile var thrown: Throwable = null
    @volatile var flagSet = false
    val coordinator = new Thread(() => {
      try Par.run(
        () => {
          workers.add(Thread.currentThread()); started.countDown()
          throw new IllegalStateException("fails fast")
        },
        () => {
          workers.add(Thread.currentThread()); started.countDown()
          Thread.sleep(60000)
        })
      catch { case t: Throwable => thrown = t; flagSet = Thread.currentThread().isInterrupted }
    })
    coordinator.start()
    assert(started.await(10, TimeUnit.SECONDS))
    coordinator.interrupt()
    coordinator.join(Par.InterruptGraceMs + 10000)
    assert(!coordinator.isAlive, "the coordinator must return within the grace")
    assert(thrown.isInstanceOf[InterruptedException], thrown)
    assert(flagSet, "the interrupt flag is re-asserted")
    val suppressed = thrown.getSuppressed.toSeq
    assert(suppressed.exists(_.getMessage == "fails fast"), suppressed)
    assert(suppressed.exists(_.isInstanceOf[InterruptedException]),
      s"the blocked worker's interrupt is kept too: $suppressed")
    assert(workers.size == 2 && !workers.toArray(Array.empty[Thread]).exists(_.isAlive),
      "no worker outlives the call")
  }
}
