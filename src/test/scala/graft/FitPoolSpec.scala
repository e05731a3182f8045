package graft

import graft.operators.FitPool
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

/** The driver's two concurrency primitives: the bounded fit pool (many
  * submissions, capped in-flight, run under the submitter's Spark local
  * properties) and the structured leg scope (forks joined on every
  * exit, cancelled on the first failure or interrupt). Every wait here
  * is bounded, so a regression fails instead of hanging the suite. */
class FitPoolSpec extends AnyFunSuite {
  lazy val spark = Tables.session(4)

  private val Marker = "fitpoolspec.job"

  /** Run `body` while recording the properties of every job started from
    * a thread whose local property [[Marker]] is `id`. */
  private def watchJobs[T](id: String)(body: AtomicReference[Properties] => T): T = {
    val seen = new AtomicReference[Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Marker) == id)) seen.set(e.properties)
    }
    spark.sparkContext.addSparkListener(listener)
    try body(seen) finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Wait (at most `limit`) until `cond` holds. */
  private def eventually(limit: FiniteDuration)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + limit.toNanos
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    cond
  }

  /** A Spark job from this thread, marked `id`, whose two tasks sleep 60 s. */
  private def sleeperJob(id: String): Long = {
    spark.sparkContext.setLocalProperty(Marker, id)
    spark.sparkContext.parallelize(1 to 2, 2).map { x => Thread.sleep(60000); x }.count()
  }

  private def noActiveJobs: Boolean = spark.sparkContext.statusTracker.getActiveJobIds().isEmpty

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

  test("a pool task runs under its submitter's local properties, not its thread's creator's") {
    import FitPool.ec
    val sc = spark.sparkContext
    // thread "A" fills the pool: each task holds its thread until all
    // have started, so every pool thread exists once they are in
    val a = new Thread(() => {
      sc.setJobDescription("A")
      val allIn = new CountDownLatch(FitPool.parallelism)
      val holds = (0 until FitPool.parallelism).map { _ =>
        FitPool.submit { allIn.countDown(); allIn.await(30, TimeUnit.SECONDS) }
      }
      Await.ready(Future.sequence(holds), 30.seconds)
    })
    a.start()
    a.join(30000)
    val seen = new AtomicReference[(String, Set[String])]()
    val b = new Thread(() => {
      sc.setJobDescription("B")
      sc.addJobTag("fitpoolspec-b")
      seen.set(Await.result(FitPool.submit(
        (sc.getLocalProperty("spark.job.description"), sc.getJobTags())), 30.seconds))
    })
    b.start()
    b.join(30000)
    assert(seen.get == (("B", Set("fitpoolspec-b"))))
  }

  test("legs restores an interrupt after joining every fork and rethrows it") {
    val release = new CountDownLatch(1)
    val otherJoined = new AtomicBoolean(false)
    val thrown = new AtomicReference[Throwable]()
    val flagAfter = new AtomicBoolean(false)
    val caller = new Thread(() => {
      try FitPool.legs(spark) { scope =>
        val slow = scope.fork(release.await(30, TimeUnit.SECONDS))
        scope.fork(otherJoined.set(true))
        slow.join()
      } catch { case e: Throwable => thrown.set(e) }
      flagAfter.set(Thread.currentThread().isInterrupted)
    })
    caller.start()
    assert(eventually(30.seconds)(caller.getState == Thread.State.WAITING))
    caller.interrupt()
    // the slow fork is still running, so the scope must still be joining
    Thread.sleep(300)
    assert(caller.isAlive, "the scope returned before joining a running fork")
    release.countDown()
    caller.join(30000)
    assert(!caller.isAlive, "an interrupted scope must not wedge")
    assert(thrown.get.isInstanceOf[InterruptedException], s"got ${thrown.get}")
    assert(flagAfter.get, "the caller's interrupt flag must survive the scope")
    assert(otherJoined.get, "every fork is joined")
  }

  test("legs lets a VirtualMachineError through at once") {
    val release = new CountDownLatch(1)
    try {
      Seq[FitPool.Scope => Unit](
        s => s.fork(throw new StackOverflowError("fork")),
        _ => throw new StackOverflowError("body")
      ).foreach { fatal =>
        val t0 = System.nanoTime()
        intercept[StackOverflowError] {
          FitPool.legs(spark) { scope =>
            scope.fork(release.await(30, TimeUnit.SECONDS))
            fatal(scope)
          }
        }
        assert(System.nanoTime() - t0 < 10.seconds.toNanos,
          "a fatal error must not wait for the remaining forks")
      }
    } finally release.countDown()
  }

  test("a failing body cancels a fork's running Spark job and rethrows the body's error") {
    val t0 = System.nanoTime()
    val err = watchJobs("sleeper") { seen =>
      intercept[IllegalStateException] {
        FitPool.legs(spark) { scope =>
          scope.fork(sleeperJob("sleeper"))
          assert(eventually(20.seconds)(seen.get != null), "the fork's job never started")
          throw new IllegalStateException("body failed")
        }
      }
    }
    assert(err.getMessage == "body failed", "the first failure, not the cancellation")
    assert(System.nanoTime() - t0 < 20.seconds.toNanos)
    assert(eventually(10.seconds)(noActiveJobs), "the fork's job outlived the scope")
  }

  test("an interrupted caller cancels and joins its legs, then rethrows the interrupt") {
    val forkDone = new AtomicBoolean(false)
    val thrown = new AtomicReference[Throwable]()
    val flagAfter = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    watchJobs("fork") { forkSeen =>
      watchJobs("body") { bodySeen =>
        val caller = new Thread(() => {
          try FitPool.legs(spark) { scope =>
            scope.fork(try sleeperJob("fork") finally forkDone.set(true))
            sleeperJob("body")
          } catch { case e: Throwable => thrown.set(e) }
          flagAfter.set(Thread.currentThread().isInterrupted)
        })
        caller.start()
        assert(eventually(20.seconds)(forkSeen.get != null && bodySeen.get != null),
          "the legs' jobs never started")
        caller.interrupt()
        caller.join(20000)
        assert(!caller.isAlive, "the interrupted scope did not finish")
      }
    }
    assert(System.nanoTime() - t0 < 30.seconds.toNanos)
    assert(thrown.get.isInstanceOf[InterruptedException], s"got ${thrown.get}")
    assert(flagAfter.get, "the caller's interrupt flag must be set")
    assert(forkDone.get, "the fork is joined before the scope returns")
    assert(eventually(10.seconds)(noActiveJobs), "a leg's job outlived the scope")
  }

  test("parallelism concurrent scopes whose forks await nested submits all complete") {
    // with legs on the bounded pool this deadlocks: the legs fill every
    // pool thread, and the nested submits they wait for never start
    val n = FitPool.parallelism
    val allForked = new CountDownLatch(n)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val callers = (0 until n).map { i =>
      new Thread(() => {
        results.add(FitPool.legs(spark) { scope =>
          scope.fork {
            allForked.countDown()
            allForked.await(30, TimeUnit.SECONDS)
            Await.result(FitPool.submit(i), 30.seconds)
          }.join()
        })
      })
    }
    callers.foreach(_.start())
    callers.foreach(_.join(30000))
    assert(callers.forall(!_.isAlive), "a scope is still waiting")
    assert(results.toArray.toSet == (0 until n).toSet)
  }

  test("a fork's jobs carry the caller's description, the scope's tag and interrupt-on-cancel") {
    val sc = spark.sparkContext
    sc.setJobDescription("fitpoolspec caller")
    sc.addJobTag("fitpoolspec-caller")
    val tagsBefore = sc.getJobTags()
    val interruptBefore = sc.getLocalProperty("spark.job.interruptOnCancel")
    try {
      val props = watchJobs("described") { seen =>
        FitPool.legs(spark) { scope =>
          scope.fork {
            sc.setLocalProperty(Marker, "described")
            sc.parallelize(1 to 2, 2).count()
          }.join()
        }
        assert(eventually(10.seconds)(seen.get != null), "the fork's job was not seen")
        seen.get
      }
      assert(props.getProperty("spark.job.description") == "fitpoolspec caller")
      val tags = props.getProperty("spark.job.tags").split(",").toSet
      assert(tags.contains("fitpoolspec-caller") && tags.exists(_.startsWith("graft-legs-")))
      assert(props.getProperty("spark.job.interruptOnCancel") == "true")
      assert(sc.getJobTags() == tagsBefore, "the scope's tag outlived it")
      assert(sc.getLocalProperty("spark.job.interruptOnCancel") == interruptBefore)
      assert(sc.getLocalProperty("spark.job.description") == "fitpoolspec caller")
    } finally {
      sc.removeJobTag("fitpoolspec-caller")
      sc.setJobDescription(null)
    }
  }
}
