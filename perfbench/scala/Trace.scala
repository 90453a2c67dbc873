package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span and count recorder for the traced benchmark run.
  *
  * Loaded into the program's JVM through Spark's public listener
  * configuration only (`spark.extraListeners`,
  * `spark.sql.queryExecutionListeners`,
  * `spark.sql.streaming.streamingQueryListeners`); the program itself
  * is not changed. Events are kept in memory and written as JSON
  * lines to the file named by the `perfbench.trace` system property
  * when [[Trace.flush]] runs or the JVM exits.
  */
object Trace {
  private val events = new ConcurrentLinkedQueue[String]()
  private val flushed = new java.util.concurrent.atomic.AtomicBoolean()

  /** A JSON string literal. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Already-rendered JSON, emitted verbatim. */
  final case class Raw(json: String)

  /** Record one event: strings are quoted, [[Raw]] and numbers are
    * written as they are, `None` as null. */
  def emit(kind: String, fields: (String, Any)*): Unit = {
    val body = fields.map { case (k, v) =>
      val js = v match {
        case Raw(j) => j
        case s: String => q(s)
        case None => "null"
        case Some(x) => x.toString
        case x => x.toString
      }
      s"${q(k)}:$js"
    }
    events.add((s""""k":${q(kind)}""" +: body).mkString("{", ",", "}"))
  }

  def flush(): Unit = if (!flushed.getAndSet(true)) {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    emit("codegen", "count" -> h.getCount,
      "mean_ms" -> h.getSnapshot.getMean)
    sys.props.get("perfbench.trace").foreach { path =>
      val w = new java.io.PrintWriter(path, "UTF-8")
      try events.asScala.foreach(w.println) finally w.close()
    }
  }

  sys.addShutdownHook(flush())
}

/** Jobs, stages, tasks and SQL executions (actions). */
class TraceListener extends SparkListener {
  Trace.emit("start", "t" -> System.currentTimeMillis())

  private val taskMs = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int), ConcurrentLinkedQueue[java.lang.Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    Trace.emit("job_start", "id" -> e.jobId, "t" -> e.time,
      "stages" -> Trace.Raw(e.stageIds.mkString("[", ",", "]")),
      "exec" -> prop("spark.sql.execution.id"),
      "batch" -> prop("streaming.sql.batchId"))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Trace.emit("job_end", "id" -> e.jobId, "t" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      taskMs.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => new ConcurrentLinkedQueue[java.lang.Long]())
        .add(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val ds = Option(taskMs.remove((s.stageId, s.attemptNumber())))
      .map(_.asScala.map(_.longValue).toSeq.sorted).getOrElse(Seq.empty)
    val med = if (ds.isEmpty) 0L else ds(ds.size / 2)
    val sw = Option(m).map(_.shuffleWriteMetrics)
    val sr = Option(m).map(_.shuffleReadMetrics)
    Trace.emit("stage", "id" -> s.stageId, "attempt" -> s.attemptNumber(),
      "name" -> s.name,
      "start" -> s.submissionTime.getOrElse(0L),
      "end" -> s.completionTime.getOrElse(0L),
      "ok" -> s.failureReason.isEmpty,
      "tasks" -> s.numTasks,
      "task_max_ms" -> ds.lastOption.getOrElse(0L), "task_med_ms" -> med,
      "cpu_ns" -> Option(m).map(_.executorCpuTime).getOrElse(0L),
      "gc_ms" -> Option(m).map(_.jvmGCTime).getOrElse(0L),
      "sw_bytes" -> sw.map(_.bytesWritten).getOrElse(0L),
      "sw_records" -> sw.map(_.recordsWritten).getOrElse(0L),
      "sr_bytes" -> sr.map(_.totalBytesRead).getOrElse(0L),
      "sr_records" -> sr.map(_.recordsRead).getOrElse(0L),
      "spill_bytes" -> Option(m).map(x =>
        x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      "in_bytes" -> Option(m).map(_.inputMetrics.bytesRead).getOrElse(0L),
      "in_records" -> Option(m).map(_.inputMetrics.recordsRead)
        .getOrElse(0L))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      Trace.emit("sql_start", "id" -> e.executionId, "t" -> e.time,
        "root" -> e.rootExecutionId.getOrElse(e.executionId))
    case e: SparkListenerSQLExecutionEnd =>
      Trace.emit("sql_end", "id" -> e.executionId, "t" -> e.time,
        "ok" -> e.errorMessage.isEmpty)
    case _ =>
  }
}

/** Driver phases and write counts of each action (SQL execution). */
class TraceQeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    def ph(n: String) = qe.tracker.phases.get(n).map(_.durationMs)
      .getOrElse(0L)
    val write = scala.util.Try(qe.executedPlan.collectFirst {
      case d: DataWritingCommandExec => d
    }).toOption.flatten
    def wm(n: String) =
      write.flatMap(_.cmd.metrics.get(n)).map(_.value).getOrElse(0L)
    val out = write.map(_.cmd).collect {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }.getOrElse("")
    Trace.emit("action", "id" -> qe.id, "name" -> funcName,
      "dur_ms" -> durationNs / 1e6,
      "analysis_ms" -> ph("analysis"),
      "optimization_ms" -> ph("optimization"),
      "planning_ms" -> ph("planning"),
      "out" -> out, "out_rows" -> wm("numOutputRows"),
      "out_files" -> wm("numFiles"))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit =
    Trace.emit("action", "id" -> qe.id, "name" -> funcName, "failed" -> true)
}

/** Micro-batches of the program's streaming query. */
class TraceStreamListener extends StreamingQueryListener {
  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    Trace.emit("batch", "id" -> p.batchId,
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "dur" -> Trace.Raw(d.map { case (k, v) => s"${Trace.q(k)}:$v" }
        .mkString("{", ",", "}")))
  }
}
