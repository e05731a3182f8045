package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same axis as the Spark listener timestamps. */
object Clock {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def now: Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

/** Spans and Spark runtime events of one run. Spans are opened only by the
  * benchmark's own code, around its calls into the engine; the runtime is
  * observed through a SparkListener and a QueryExecutionListener that the
  * benchmark registers. With `on = false` nothing is recorded and a span is
  * just its body. Everything stays in memory until the run writes it out. */
object Trace {
  /** Local property naming the catalog row a job runs for. */
  val RowProperty = "perfbench.row"
}

final class Trace(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val sql = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val execSites = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
  private val taskTimes = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[java.lang.Long]]()
  private val failedTasks = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Integer]()
  @volatile private var lastEvent = Clock.now

  def span[T](name: String, traceId: String)(body: => T): T = {
    if (!on) return body
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    val t0 = Clock.now
    try body
    finally {
      stack.pop()
      spans.add(Map("id" -> id, "parent" -> parent, "name" -> name, "trace" -> traceId,
        "t0" -> t0, "t1" -> Clock.now))
    }
  }

  /** Registers both listeners on `spark` (traced runs only). */
  def attach(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(sqlListener)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEvent = Clock.now
      jobStarts.put(e.jobId, e)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEvent = Clock.now
      Option(jobStarts.remove(e.jobId)).foreach { s =>
        val props = Option(s.properties)
        jobs.add(Map("id" -> e.jobId, "t0" -> s.time.toDouble, "t1" -> e.time.toDouble,
          "stages" -> s.stageIds,
          "ok" -> (e.jobResult == JobSucceeded),
          // the result stage is created last and carries the job's long call site
          "site" -> (if (s.stageInfos.isEmpty) "" else s.stageInfos.maxBy(_.stageId).details),
          // jobs that adaptive execution submits from its own threads carry no
          // caller frames; the SQL execution id ties them to their action
          "exec" -> props.flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))
            .orElse(Option(p.getProperty("spark.sql.execution.id")))).getOrElse(""),
          "row" -> props.flatMap(p => Option(p.getProperty(Trace.RowProperty))).getOrElse("")))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSites.put(s.executionId.toString, s.details)
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEvent = Clock.now
      taskTimes.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[java.lang.Long]())
        .add(e.taskInfo.duration)
      if (e.taskInfo.failed) failedTasks.merge(e.stageId, 1, (a, b) => a + b)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEvent = Clock.now
      val si = e.stageInfo
      val m = si.taskMetrics
      val durs = Option(taskTimes.remove(si.stageId)).map(_.asScala.map(_.toLong).toSeq.sorted)
        .getOrElse(Seq.empty)
      stages.add(Map("id" -> si.stageId, "attempt" -> si.attemptNumber(),
        "t0" -> si.submissionTime.getOrElse(0L).toDouble,
        "t1" -> si.completionTime.getOrElse(0L).toDouble,
        "tasks" -> si.numTasks,
        "failed_tasks" -> Option(failedTasks.remove(si.stageId)).map(_.intValue).getOrElse(0),
        "task_s" -> (if (m == null) 0.0 else m.executorRunTime / 1e3),
        "cpu_s" -> (if (m == null) 0.0 else m.executorCpuTime / 1e9),
        "gc_s" -> (if (m == null) 0.0 else m.jvmGCTime / 1e3),
        "input_b" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
        "shuffle_read_b" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "shuffle_write_b" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "spill_b" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
        "output_b" -> (if (m == null) 0L else m.outputMetrics.bytesWritten),
        "task_max_s" -> durs.lastOption.map(_ / 1e3).getOrElse(0.0),
        "task_median_s" -> (if (durs.isEmpty) 0.0 else durs(durs.size / 2) / 1e3)))
    }
  }

  private val sqlListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ns: Long, ok: Boolean): Unit = {
      lastEvent = Clock.now
      val node = qe.logical.getClass.getSimpleName
      sql.add(Map("t1" -> Clock.now, "func" -> func, "node" -> node,
        "dur_s" -> ns / 1e9, "ok" -> ok))
    }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      record(func, qe, ns, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, 0L, ok = false)
  }

  /** Waits until the listener buses have been quiet for 300 ms. */
  def drain(): Unit = if (on) {
    val deadline = Clock.now + 10000
    while (Clock.now - lastEvent < 300 && Clock.now < deadline) Thread.sleep(50)
  }

  def toJson: Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq, "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq, "sql" -> sql.asScala.toSeq,
    "exec_sites" -> execSites.asScala)
}
