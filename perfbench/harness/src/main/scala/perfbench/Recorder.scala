package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and Spark events of one run, kept in memory and written out at the
  * end. Times are epoch milliseconds with sub-millisecond resolution, the
  * time base Spark's own job, stage and task events use.
  *
  * A span wraps one call into a layer; an operation (one query, one dataset
  * ingest, the export, the first GET of an endpoint) is a root span, and
  * its child spans share its id as `op`. Untraced runs keep no spans: each
  * operation's times and outcome are returned to its caller.
  */
final class Recorder(val trace: Boolean) {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val tasks = new ConcurrentLinkedQueue[Array[Double]]()
  val executions = new ConcurrentLinkedQueue[Map[String, Any]]()
  val sqlStarts = new ConcurrentLinkedQueue[Map[String, Any]]()

  /** Local property that carries the innermost span id into Spark jobs. */
  val spanProperty = "perfbench.span"

  private def record(id: Int, parent: Int, op: Int, name: String, layer: String,
                     start: Double, end: Double): Unit =
    if (trace) spans.add(Map("id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
      "layer" -> layer, "start_ms" -> start, "end_ms" -> end))

  private def withSpanProperty[T](id: Int)(f: => T): T = {
    val sc = SparkSession.active.sparkContext
    val prev = sc.getLocalProperty(spanProperty)
    if (trace) sc.setLocalProperty(spanProperty, id.toString)
    try f finally if (trace) sc.setLocalProperty(spanProperty, prev)
  }

  /** Run one operation as a root span. `f` gets the operation id and returns
    * the operation's outputs; a throw is recorded as a failed operation.
    */
  def op(name: String, layer: String)(f: Int => Map[String, Any]): Map[String, Any] = {
    val id = ids.incrementAndGet()
    val start = nowMs
    val (ok, fields) =
      try (true, withSpanProperty(id)(f(id)))
      catch { case t: Throwable => (false, Map[String, Any]("error" -> Harness.errorOf(t))) }
    val end = nowMs
    record(id, 0, id, name, layer, start, end)
    Map[String, Any]("op" -> id, "start_ms" -> start, "end_ms" -> end, "ok" -> ok) ++ fields
  }

  /** A child span of operation `op`. */
  def span[T](op: Int, name: String, layer: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val start = nowMs
    try withSpanProperty(id)(f)
    finally record(id, op, op, name, layer, start, nowMs)
  }

  /** Wait until the listener bus has delivered every event. */
  def drain(spark: SparkSession): Unit =
    if (trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def dump(): Map[String, Any] =
    if (!trace) Map.empty
    else Map(
      "spans" -> spans.asScala.toSeq,
      "jobs" -> jobs.asScala.toSeq,
      "stages" -> stages.asScala.toSeq,
      "task_fields" -> Tracer.taskFields,
      "tasks" -> tasks.asScala.toSeq.map(_.toSeq),
      "executions" -> executions.asScala.toSeq,
      "sql_starts" -> sqlStarts.asScala.toSeq)
}

/** Spark listeners of a traced run. Jobs carry the span that was innermost
  * on the submitting thread and their SQL execution; an execution (or, for
  * a job outside SQL, its stage) carries the user call site, so calls made
  * deep inside the library (a `head` in the validator, a write in the
  * upsert sink) are attributed to their module without instrumenting it.
  */
object Tracer {
  val taskFields: Seq[String] = Seq("stage", "launch_ms", "finish_ms", "ok", "run_ms",
    "cpu_ns", "gc_ms", "in_bytes", "in_rows", "out_bytes", "shuffle_write_bytes",
    "fetch_wait_ms", "memory_spill_bytes", "disk_spill_bytes")

  def install(spark: SparkSession, rec: Recorder): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String): Option[String] = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        rec.jobs.add(Map("job" -> e.jobId, "event" -> "start", "time_ms" -> e.time.toDouble,
          "span" -> prop(rec.spanProperty).map(_.toInt).getOrElse(0),
          "execution" -> prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
          "stages" -> e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        rec.jobs.add(Map("job" -> e.jobId, "event" -> "end", "time_ms" -> e.time.toDouble,
          "ok" -> (e.jobResult == JobSucceeded)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        rec.stages.add(Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(), "name" -> s.name,
          "frames" -> userFrames(s.details),
          "submitted_ms" -> s.submissionTime.map(_.toDouble).getOrElse(0.0),
          "completed_ms" -> s.completionTime.map(_.toDouble).getOrElse(0.0),
          "tasks" -> s.numTasks, "ok" -> s.failureReason.isEmpty))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          rec.sqlStarts.add(Map("execution" -> s.executionId, "time_ms" -> s.time.toDouble,
            "frames" -> userFrames(s.details)))
        case _ => ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val i = e.taskInfo
        val m = e.taskMetrics
        val row =
          if (m == null) Array[Double](e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
          else Array[Double](e.stageId, i.launchTime, i.finishTime, if (i.successful) 1 else 0,
            m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
            m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
            m.memoryBytesSpilled, m.diskBytesSpilled)
        rec.tasks.add(row)
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        add(qe, ok = true)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        add(qe, ok = false)
      private def add(qe: QueryExecution, ok: Boolean): Unit = {
        val phases = qe.tracker.phases
        def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        val starts = phases.values.map(_.startTimeMs)
        rec.executions.add(Map("execution" -> qe.id, "ok" -> ok,
          "start_ms" -> (if (starts.isEmpty) 0.0 else starts.min.toDouble),
          "end_ms" -> rec.nowMs,
          "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
          "planning_ms" -> ms("planning")))
      }
    })
  }

  /** The library and benchmark frames of a long-form call site, innermost
    * first (Spark's own frames and the JDK's are dropped).
    */
  def userFrames(details: String): Seq[String] =
    Option(details).toSeq.flatMap(_.split('\n')).map(_.trim)
      .filter(f => f.startsWith("graft.") || f.startsWith("perfbench.")).take(16)
}
