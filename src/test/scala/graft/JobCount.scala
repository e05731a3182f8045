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

  /** Counts the `count` actions one block of driver code runs whose only
    * input is the catalog table `table` (a family's tombstone budget
    * check, for example). Query-execution events arrive in order, so
    * once a marker count after the block is seen every action of the
    * block has been counted. */
  def countsOver[A](spark: SparkSession, table: String)(body: => A): (A, Int) = {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.util.QueryExecutionListener
    val markerCol = s"countsover_marker_$table"
    val counts = new AtomicInteger(0)
    val marker = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "count") {
          val plan = qe.analyzed
          if (plan.exists { case p: Project => p.output.exists(_.name == markerCol); case _ => false })
            marker.countDown()
          else if (plan.collectLeaves().forall {
              case r: LogicalRelation => r.catalogTable.exists(_.identifier.table == table)
              case _ => false
            }) counts.incrementAndGet()
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.range(1).toDF(markerCol).count()
      assert(marker.await(60, TimeUnit.SECONDS), s"marker count of '$table' never seen")
      (out, counts.get)
    } finally spark.listenerManager.unregister(listener)
  }
}
