package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans the benchmark opens around its calls into the program. Times are
  * nanoseconds since main entry; spans stay in memory until the process
  * writes them out at exit. A span opened on another thread while the main
  * thread waits inside a span (a sink lambda during a stream drain) takes
  * that span as its parent. */
final class Trace {
  val t0: Long = System.nanoTime()
  private val epoch0Ms = System.currentTimeMillis()
  def now: Long = System.nanoTime() - t0
  /** Listener event times are wall-clock milliseconds. */
  def fromEpochMs(ms: Long): Long = (ms - epoch0Ms) * 1000000L

  private val spans = ArrayBuffer[Map[String, Any]]()
  @volatile private var current = -1
  @volatile var pass = ""

  def span[T](name: String, op: String = "")(body: => T): T = {
    val parent = current
    val id = spans.synchronized { spans += Map.empty; spans.size - 1 }
    val start = now
    current = id
    try body
    finally {
      current = parent
      val end = now
      spans.synchronized {
        spans(id) = Map("id" -> id, "name" -> name, "op" -> op, "pass" -> pass,
          "parent" -> parent, "start" -> start, "end" -> end)
      }
    }
  }

  /** Id of the innermost open span on the calling path (-1 at top level). */
  def openSpan: Int = current
  def all: Seq[Map[String, Any]] = spans.synchronized(spans.toList)
}

/** Spark listener plus query-execution listener for traced passes. Jobs and
  * query executions are attributed to a span by [[mark]]: after the span's
  * work returns, the listener bus is drained and everything delivered since
  * the previous mark belongs to that span. Counting by mark rather than by
  * timestamp keeps attribution exact when jobs come from pool threads. */
final class Probe(trace: Trace) extends SparkListener with QueryExecutionListener {
  private final class Job(val id: Int, val start: Long, val callSite: String) {
    var end = -1L
    var span = -1
    var stages, tasks, tasksFailed = 0L
    var runNs, cpuNs, gcMs, inBytes, inRows, shWBytes, shWRecs, shRBytes,
        shRRecs, spillBytes = 0L
  }
  private val jobs = ArrayBuffer[Job]()
  private val stageJob = scala.collection.mutable.Map[Int, Job]()
  private val qes = ArrayBuffer[Map[String, Any]]()
  private val qeSpans = ArrayBuffer[Int]()
  private var markedJobs, markedQes = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a job's result stage is named after the job's call site
    val site = e.stageInfos.maxByOption(_.stageId).map(_.name).orNull
    val j = new Job(e.jobId, trace.fromEpochMs(e.time), site)
    jobs += j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.end = trace.fromEpochMs(e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runNs += m.executorRunTime * 1000000L
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inBytes += m.inputMetrics.bytesRead
        j.inRows += m.inputMetrics.recordsRead
        j.shWBytes += m.shuffleWriteMetrics.bytesWritten
        j.shWRecs += m.shuffleWriteMetrics.recordsWritten
        j.shRBytes += m.shuffleReadMetrics.totalBytesRead
        j.shRRecs += m.shuffleReadMetrics.recordsRead
        j.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(funcName, qe)
  private def record(funcName: String, qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    qes += Map("func" -> funcName, "analysis_ms" -> ms("analysis"),
      "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
    qeSpans += -1
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    Probe.drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Attribute every job and query execution delivered since the last mark
    * to `span`. */
  def mark(spark: SparkSession, span: Int): Unit = {
    Probe.drain(spark)
    synchronized {
      jobs.drop(markedJobs).foreach(_.span = span)
      (markedQes until qes.size).foreach(i => qeSpans(i) = span)
      markedJobs = jobs.size
      markedQes = qes.size
    }
  }

  def jobRecords: Seq[Map[String, Any]] = synchronized(jobs.toList.map { j =>
    Map("id" -> j.id, "span" -> j.span, "start" -> j.start, "end" -> j.end,
      "call_site" -> j.callSite, "stages" -> j.stages, "tasks" -> j.tasks,
      "tasks_failed" -> j.tasksFailed, "run_ns" -> j.runNs, "cpu_ns" -> j.cpuNs,
      "gc_ms" -> j.gcMs, "input_bytes" -> j.inBytes, "input_rows" -> j.inRows,
      "shuffle_write_bytes" -> j.shWBytes, "shuffle_write_records" -> j.shWRecs,
      "shuffle_read_bytes" -> j.shRBytes, "shuffle_read_records" -> j.shRRecs,
      "spill_bytes" -> j.spillBytes)
  })
  def qeRecords: Seq[Map[String, Any]] =
    synchronized(qes.indices.map(i => qes(i) + ("span" -> qeSpans(i))).toList)
}

object Probe {
  /** Block until every event posted so far has reached every listener. The
    * bus method is package-private in Spark, so it is called reflectively. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
