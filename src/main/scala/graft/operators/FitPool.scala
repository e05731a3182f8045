package graft.operators

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.UUID
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftglue.Bridge
import scala.concurrent.{ExecutionContext, Future}

/** Driver-side concurrency: the two ways a driver thread overlaps Spark
  * work with itself.
  *
  * [[legs]] — a structured scope for a FIXED, small number of
  * independent legs: the two sides of a contract row (incremental or
  * index path against its batch or brute-force reference) and the table
  * writes of one family ([[Layout.writeAll]]). Each [[Scope.fork]] runs
  * on a fresh daemon thread, never on the bounded pool, so a leg can
  * never wait for a pool slot that the fits inside it need. The scope
  * tags every job of its legs, cancels them all on the first failure or
  * interrupt, and joins every fork before it returns or throws.
  *
  * [[submit]] — unbounded LEAF fan-out (k-means restarts, per-segment
  * rule mining, grid fits) on a bounded pool. Submitting one future per
  * (segment | k × restart) on `ExecutionContext.global` was fine at the
  * reference's 3 segments / 15×10 sweep, but a caller with thousands of
  * groups would queue thousands of BLOCKING driver tasks. Here the
  * in-flight count is hard-capped: enough concurrent jobs to keep the
  * Spark scheduler saturated (each individual fit underutilizes the
  * cluster), while excess submissions wait in the pool's queue as plain
  * runnables — no thread, no stack — until a slot frees. A task runs
  * under its SUBMITTER's Spark local properties (description, tags,
  * interrupt-on-cancel), so a fit inherits the leg it serves and a
  * scope's cancel reaches it.
  *
  * Threads are daemons (they never pin the JVM open) and the pool's
  * peak in-flight watermark is recorded so the bounding is spec-testable
  * (FitPoolSpec submits 100 tasks and asserts peak <= parallelism).
  */
private[graft] object FitPool {

  /** In-flight cap: half the driver's cores, clamped to [4, 16]. Each
    * task spends its life blocked in a Spark action, so this bounds
    * concurrent JOBS, not CPU use; 16 concurrent jobs saturate the
    * scheduler well past local[32]. */
  val parallelism: Int =
    math.min(16, math.max(4, Runtime.getRuntime.availableProcessors() / 2))

  private val active = new AtomicInteger(0)
  private val peak = new AtomicInteger(0)

  private def daemon(name: String)(run: => Unit): Thread = {
    val t = new Thread(() => run, name)
    t.setDaemon(true)
    t
  }

  implicit lazy val ec: ExecutionContext = ExecutionContext.fromExecutor(
    Executors.newFixedThreadPool(parallelism, (r: Runnable) => daemon("graft-fit-pool")(r.run())))

  /** Run a fit on the bounded pool, tracking the in-flight watermark.
    * A pool thread holds the local properties of whichever thread made
    * it (Spark copies them at thread creation), so the submitter's are
    * captured here and installed for the task. */
  def submit[T](body: => T): Future[T] = {
    val caller = Bridge.captureLocalProperties()
    Future {
      val now = active.incrementAndGet()
      peak.getAndUpdate(p => math.max(p, now))
      try caller.fold(body) { case (sc, props) => Bridge.withLocalProperties(sc, props)(body) }
      finally active.decrementAndGet()
    }(ec)
  }

  def peakActive: Int = peak.get()
  def resetPeak(): Unit = peak.set(0)

  private val InterruptOnCancel = "spark.job.interruptOnCancel"

  /** Run `body` on the caller's thread as one leg of a scope whose other
    * legs it starts with [[Scope.fork]]. For the scope's lifetime the
    * caller's thread carries one unique job tag and
    * `interruptOnCancel = true`; forks inherit both, with the rest of
    * the caller's local properties (its job description among them) as
    * they were at the fork. The job group and description are never
    * touched. On exit the tag is removed and `interruptOnCancel` is
    * restored exactly.
    *
    * Every fork is joined before the scope returns or throws — the
    * fence-window contract [[Layout.writeAll]] relies on: no write
    * outlives the call. When a fork fails, the body throws, or the
    * caller is interrupted, the scope cancels every job carrying its tag
    * (a nested scope's jobs carry it too), and keeps cancelling every
    * 100 ms until the scope closes, so a leg that was between jobs
    * cannot start a fresh one unseen. It then joins every fork, restores
    * the caller's interrupt flag if it was interrupted, and rethrows the
    * FIRST failure — never the cancellation that failure caused. A
    * `VirtualMachineError` propagates at once, without waiting for the
    * remaining forks. */
  def legs[T](spark: SparkSession)(body: Scope => T): T = {
    val sc = spark.sparkContext
    val scope = new Scope(sc, s"graft-legs-${UUID.randomUUID()}")
    val interruptOnCancel = sc.getLocalProperty(InterruptOnCancel)
    sc.addJobTag(scope.tag)
    sc.setInterruptOnCancel(true)
    try {
      val out = try Some(body(scope)) catch { case e: Throwable => scope.fail(e, byCaller = true); None }
      scope.joinForks()
      out.filter(_ => scope.failure.get == null).getOrElse(throw scope.failure.get)
    } finally {
      scope.closed.countDown()
      sc.removeJobTag(scope.tag)
      sc.setLocalProperty(InterruptOnCancel, interruptOnCancel)
      if (scope.interrupted) Thread.currentThread().interrupt()
    }
  }

  /** The handle a [[legs]] body forks its other legs through. */
  final class Scope private[FitPool] (sc: SparkContext, private[FitPool] val tag: String) {
    private[FitPool] val failure = new AtomicReference[Throwable]()
    private[FitPool] val closed = new CountDownLatch(1)
    @volatile private[FitPool] var interrupted = false
    private val forks = new ConcurrentLinkedQueue[Thread]()

    /** Start `body` on a fresh daemon thread; the scope joins it. */
    def fork[T](body: => T): Leg[T] = {
      @volatile var out: Either[Throwable, T] = null
      val t = daemon("graft-leg") {
        out = try Right(body) catch { case e: Throwable => fail(e); Left(e) }
      }
      forks.add(t)
      t.start()
      new Leg(() => { t.join(); out.fold(throw _, identity) })
    }

    /** Record a failure: the first is the one rethrown, unless a fatal
      * error replaces it, and it starts the cancelling. An interrupt
      * counts as the caller's when the caller's thread catches it. */
    private[FitPool] def fail(e: Throwable, byCaller: Boolean = false): Unit = {
      if (byCaller && e.isInstanceOf[InterruptedException]) interrupted = true
      if (failure.compareAndSet(null, e)) daemon("graft-legs-cancel") {
        sc.cancelJobsWithTag(tag)
        while (!closed.await(100, TimeUnit.MILLISECONDS)) sc.cancelJobsWithTag(tag)
      }.start()
      else if (e.isInstanceOf[VirtualMachineError]) failure.set(e)
    }

    /** Join every fork, forks of forks included; an interrupt of the
      * caller is a failure and the joins go on, a fatal error is thrown
      * at once (after the last join, [[legs]] rethrows it). */
    private[FitPool] def joinForks(): Unit = {
      var t = forks.poll()
      while (t != null) {
        if (failure.get.isInstanceOf[VirtualMachineError]) throw failure.get
        try t.join(100) catch { case e: InterruptedException => fail(e, byCaller = true) }
        if (!t.isAlive) t = forks.poll()
      }
    }
  }

  /** A forked leg: `join()` waits for it, then returns its value or
    * rethrows its failure. */
  final class Leg[T] private[FitPool] (val join: () => T)
}
