package graft

import graft.operators.FitPool
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

/** The fit-driver concurrency bound: many submissions, capped in-flight. */
class FitPoolSpec extends AnyFunSuite {

  test("100 submissions never exceed the in-flight cap and all complete") {
    FitPool.resetPeak()
    val done = new AtomicInteger(0)
    import FitPool.ec
    val futs = (0 until 100).map { i =>
      FitPool.submit { Thread.sleep(10); done.incrementAndGet(); i }
    }
    val results = Await.result(Future.sequence(futs), 60.seconds)
    assert(results == (0 until 100))
    assert(done.get() == 100)
    assert(FitPool.peakActive >= 2, "tasks should actually overlap")
    assert(FitPool.peakActive <= FitPool.parallelism,
      s"peak in-flight ${FitPool.peakActive} exceeded cap ${FitPool.parallelism} — " +
        "excess submissions must wait in the queue, not occupy threads")
  }

  test("cap is clamped to [4, 16] regardless of core count") {
    assert(FitPool.parallelism >= 4 && FitPool.parallelism <= 16)
  }

  test("joinAll restores an interrupt after its best-effort joins and rethrows it") {
    val release = new java.util.concurrent.CountDownLatch(1)
    val slow = FitPool.sideThread { release.await(); () }
    val laterJoined = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var thrown: Throwable = null
    @volatile var flagAfter = false
    val joiner = new Thread(() => {
      try FitPool.joinAll(slow, () => laterJoined.set(true))
      catch { case e: Throwable => thrown = e }
      flagAfter = Thread.currentThread().isInterrupted
    })
    joiner.start()
    val deadline = System.nanoTime() + 30.seconds.toNanos
    while (joiner.getState != Thread.State.WAITING && System.nanoTime() < deadline)
      Thread.sleep(5)
    joiner.interrupt()
    joiner.join(30000)
    release.countDown()
    assert(!joiner.isAlive, "an interrupted joinAll must not wedge")
    assert(thrown.isInstanceOf[InterruptedException], s"got $thrown")
    assert(flagAfter, "the caller's interrupt flag must survive joinAll")
    assert(laterJoined.get, "the remaining joins still run")
  }

  test("joinAll lets a VirtualMachineError through at once") {
    val laterJoined = new java.util.concurrent.atomic.AtomicBoolean(false)
    intercept[StackOverflowError] {
      FitPool.joinAll(() => throw new StackOverflowError("boom"), () => laterJoined.set(true))
    }
    assert(!laterJoined.get, "a fatal error must not wait for the remaining joins")
  }
}
