package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs one block of driver code starts. The block runs
  * under the job tag `tag`; then one marker job runs under a second tag.
  * Listener events arrive in order, so once the marker's start is seen
  * every job of the block has been counted. */
object JobCount {
  def apply[A](spark: SparkSession, tag: String)(body: => A): (A, Int) = {
    val markerTag = tag + "-marker"
    val jobs = new AtomicInteger(0)
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).map(_.getProperty("spark.job.tags", "")).getOrElse("")
        tags.split(",").foreach {
          case `tag` => jobs.incrementAndGet()
          case `markerTag` => marker.countDown()
          case _ => ()
        }
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val out = body
      sc.removeJobTag(tag)
      sc.addJobTag(markerTag)
      spark.range(1).count()
      assert(marker.await(60, TimeUnit.SECONDS), s"marker job of '$tag' never started")
      (out, jobs.get)
    } finally {
      sc.removeJobTag(tag)
      sc.removeJobTag(markerTag)
      sc.removeSparkListener(listener)
    }
  }
}
