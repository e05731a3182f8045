package graft.operators

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{ExecutionContext, Future}

/** Shared bounded executor for driver-side concurrent Spark fits (elbow
  * sweeps, per-segment mining drivers). Submitting one future per
  * (segment | k × restart) on `ExecutionContext.global` was fine at the
  * reference's 3 segments / 15×10 sweep, but a caller with thousands of
  * groups would queue thousands of BLOCKING driver tasks. Here the
  * in-flight count is hard-capped: enough concurrent jobs to keep the
  * Spark scheduler saturated (each individual fit underutilizes the
  * cluster), while excess submissions wait in the pool's queue as plain
  * runnables — no thread, no stack — until a slot frees.
  *
  * Threads are daemons (they never pin the JVM open) and the peak
  * in-flight watermark is recorded so the bounding is spec-testable
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

  implicit lazy val ec: ExecutionContext = ExecutionContext.fromExecutor(
    Executors.newFixedThreadPool(parallelism, (r: Runnable) => {
      val t = new Thread(r, "graft-fit-pool")
      t.setDaemon(true)
      t
    }))

  /** Run a fit on the bounded pool, tracking the in-flight watermark. */
  def submit[T](body: => T): Future[T] = Future {
    val now = active.incrementAndGet()
    peak.getAndUpdate(p => math.max(p, now))
    try body finally active.decrementAndGet()
  }(ec)

  def peakActive: Int = peak.get()
  def resetPeak(): Unit = peak.set(0)

  /** Join EVERY side thread even when an earlier join throws — the
    * fence-window contract requires no write outlives the window, so a
    * caller wraps its main-thread write in `try { ... } finally
    * FitPool.joinAll(a, b)`. First failure wins among the joins; when
    * the guarded block also failed, that (rarer, both-failed) join error
    * replaces it — either way a loud write failure surfaces and no
    * thread is left running. An interrupt of the joining thread is not
    * swallowed: the remaining joins still run (best effort), then the
    * interrupt flag is restored before the first failure is rethrown.
    * A VirtualMachineError (OOM, stack overflow) propagates at once. */
  def joinAll(joins: (() => Any)*): Unit = {
    var err: Throwable = null
    var interrupted = false
    joins.foreach { j =>
      try j() catch {
        case e: VirtualMachineError => throw e
        case e: Throwable =>
          if (e.isInstanceOf[InterruptedException]) interrupted = true
          if (err == null) err = e
      }
    }
    if (interrupted) Thread.currentThread().interrupt()
    if (err != null) throw err
  }

  /** Run `body` on a FRESH daemon thread and return a join-function that
    * rethrows its failure (round 17). For overlapping a FIXED, small
    * number of independent driver actions (e.g. the two bucketed table
    * appends of one ingest batch — each ~400 ms of mostly driver-side
    * write/catalog latency): unlike [[submit]], it cannot deadlock when
    * the caller itself runs on a pool thread and the pool is saturated,
    * because the side thread is never drawn from the bounded pool. Use
    * [[submit]] for unbounded fan-out, this for pairwise overlap. */
  def sideThread[T](body: => T): () => T = {
    @volatile var out: Either[Throwable, T] = null
    val t = new Thread(() => {
      out = try Right(body) catch { case e: Throwable => Left(e) }
    }, "graft-side-thread")
    t.setDaemon(true)
    t.start()
    () => {
      t.join()
      out match {
        case Right(v) => v
        case Left(e) => throw e
      }
    }
  }
}
