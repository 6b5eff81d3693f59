package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-side records of one traced run. Every time is epoch ms, the
  * clock Spark's listener events carry. */
object Trace {
  final case class Execution(id: Long, root: Long, description: String,
      start: Long, var end: Long = -1L)
  final case class Job(id: Long, execution: Long, start: Long, var end: Long = -1L,
      var stages: Seq[Int] = Nil)
  final case class Task(stage: Int, cpuNs: Long, runMs: Long, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      gcMs: Long, outputBytes: Long)
  final case class Phases(start: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)

  /** Module that owns a root SQL execution, from the source file of its
    * call site (`collect at WooFixtureApi.scala:62` → `sources`). */
  def module(description: String): String = {
    val file = """ at ([A-Za-z0-9_$]+)\.scala:\d+""".r.findFirstMatchIn(description)
      .map(_.group(1)).getOrElse("")
    file match {
      case "WooFixtureApi" | "PagedSource" | "HttpApiClient" => "sources"
      case "Run" | "Enrich" | "Normalize" | "Incremental" => "etl"
      case "Load" => "load"
      case f if f.startsWith("Log") => "logtable"
      case "Tables" => "tables"
      case "" => "other"
      case _ => "queries"
    }
  }
}

/** Registers a `SparkListener` and a `QueryExecutionListener` on the
  * session and keeps every event in memory until the run ends. */
final class Recorder(spark: org.apache.spark.sql.SparkSession) {
  import Trace._
  val executions = new java.util.concurrent.ConcurrentHashMap[Long, Execution]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Long, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val phases = new ConcurrentLinkedQueue[Phases]()
  private val events = new java.util.concurrent.atomic.AtomicLong()

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = {
      events.incrementAndGet()
      e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId, Execution(s.executionId,
            s.rootExecutionId.getOrElse(s.executionId), s.description, s.time))
        case s: SparkListenerSQLExecutionEnd =>
          Option(executions.get(s.executionId)).foreach(_.end = s.time)
        case _ => ()
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId.toLong, Job(e.jobId, exec, e.time, stages = e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      Option(jobs.get(e.jobId.toLong)).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, m.executorCpuTime,
        m.executorRunTime, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime,
        m.outputMetrics.bytesWritten))
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
      val start = p.values.map(_.startTimeMs).reduceOption(_ min _)
        .getOrElse(System.currentTimeMillis())
      phases.add(Phases(start, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Waits until the asynchronous listener bus has delivered the events
    * of everything that has finished: every recorded job and execution
    * has ended and no event arrived for 200 ms (bounded at 10 s). */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    def settled = jobs.values.asScala.forall(_.end >= 0) &&
      executions.values.asScala.forall(_.end >= 0)
    while (System.currentTimeMillis() < deadline && (last != events.get() || !settled)) {
      last = events.get()
      Thread.sleep(200)
    }
  }
}
