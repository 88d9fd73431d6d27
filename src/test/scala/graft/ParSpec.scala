package graft

import graft.ops.Par
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** [[Par.run]]'s settle-all contract: it never returns while one of
  * its tasks still runs — on a task failure and on an interrupt of the
  * calling thread alike (a streaming query's `stop()` interrupts the
  * batch thread mid fan-out).
  */
class ParSpec extends AnyFunSuite {

  test("a failing task is rethrown only after its siblings settle") {
    val done = new AtomicInteger
    val e = intercept[IllegalStateException](Par.run(Seq(0, 1, 2), 3) {
      i =>
        if (i == 0) throw new IllegalStateException("boom")
        Thread.sleep(200); done.incrementAndGet()
    })
    assert(e.getMessage === "boom")
    assert(done.get === 2, "both siblings finished before run() threw")
  }

  test("an interrupted caller waits for every task, then rethrows the " +
    "interrupt") {
    val started = new CountDownLatch(2)
    val release = new CountDownLatch(1)
    val done = new AtomicInteger
    @volatile var thrown: Throwable = null
    @volatile var doneAtReturn = -1
    val caller = new Thread(() =>
      try Par.run(Seq(1, 2), 2) { _ =>
        started.countDown()
        // a task that ignores interrupts, as a Spark write may
        while (!release.await(10, TimeUnit.MILLISECONDS)) ()
        done.incrementAndGet()
      } catch { case t: Throwable =>
        doneAtReturn = done.get; thrown = t
      })
    caller.start()
    assert(started.await(10, TimeUnit.SECONDS))
    caller.interrupt()
    Thread.sleep(200)
    assert(caller.isAlive, "run() must not return while tasks still run")
    release.countDown()
    caller.join(10000)
    assert(!caller.isAlive)
    assert(thrown.isInstanceOf[InterruptedException])
    assert(doneAtReturn === 2, "every task settled before run() returned")
  }
}
