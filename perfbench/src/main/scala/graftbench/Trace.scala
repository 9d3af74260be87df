package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** A harness span: one call the benchmark makes into a graft layer.
  * Times are epoch milliseconds, the clock Spark's listener events use.
  */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    startMs: Double, var endMs: Double = Double.NaN)

/** Spark job as the traced run saw it: the span it ran under (carried
  * by a local property), the module its call-site file belongs to, and
  * the task metrics of its stages.
  */
final class JobRec(val id: Int, val span: Int, val callSite: String,
    val module: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages, singleTaskStages = 0
  val tasks = new TaskAgg
}

/** Task metrics summed over a set of tasks. */
final class TaskAgg {
  var tasks, scanTasks = 0L
  var runMs, cpuNs, schedDelayMs, scanRunMs = 0L
  var inputBytes, inputRows, outputBytes, outputRows = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillBytes = 0L
  var resultBytes = 0L

  def add(info: TaskInfo, m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    val gettingResult =
      if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
    schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    val in = m.inputMetrics
    if (in.bytesRead > 0 || in.recordsRead > 0) {
      scanTasks += 1
      scanRunMs += m.executorRunTime
    }
    inputBytes += in.bytesRead
    inputRows += in.recordsRead
    outputBytes += m.outputMetrics.bytesWritten
    outputRows += m.outputMetrics.recordsWritten
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    spillBytes += m.diskBytesSpilled
    resultBytes += m.resultSize
  }

  def addAll(o: TaskAgg): Unit = {
    tasks += o.tasks; scanTasks += o.scanTasks
    runMs += o.runMs; cpuNs += o.cpuNs; schedDelayMs += o.schedDelayMs
    scanRunMs += o.scanRunMs
    inputBytes += o.inputBytes; inputRows += o.inputRows
    outputBytes += o.outputBytes; outputRows += o.outputRows
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
    resultBytes += o.resultBytes
  }
}

/** One finished SQL execution, from the QueryExecutionListener; `startMs`
  * is the end of its physical planning, i.e. when it began to execute.
  */
final case class ExecRec(startMs: Long, durationMs: Double, ok: Boolean,
    analysisMs: Long, optimizerMs: Long, planningMs: Long,
    writePath: Option[String], filesWritten: Long)

object Trace {
  /** Local property that carries the enclosing span id to every job. */
  val SpanKey = "graftbench.span"

  /** The graft module a call site belongs to: the package of its first
    * graft stack frame (`graft.functions.Iterate` is its own layer).
    */
  def graftFrame(longCallSite: String): Option[String] =
    longCallSite.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("graftbench."))

  def moduleOf(longCallSite: String): String =
    graftFrame(longCallSite) match {
      case None => "spark"
      case Some(f) if f.startsWith("graftbench.") => "harness"
      case Some(f) if f.startsWith("graft.functions.Iterate") => "iterate"
      case Some(f) =>
        val parts = f.takeWhile(_ != '(').split('.')
        // graft.<module>.<Class>.<method> or graft.<Class>.<method>
        if (parts.length >= 4) parts(1)
        else parts(1).stripSuffix("$").toLowerCase
    }
}

/** Scheduler listener: jobs, their stages and their tasks. A job that
  * adaptive execution submits from its own thread has no graft frame in
  * its call site; it takes the call site of its SQL execution, i.e. of
  * the action graft called.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stageJob = mutable.HashMap[Int, Int]()
  private val execSites = mutable.HashMap[Long, (String, String)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execSites(s.executionId) = (s.description, s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Trace.SpanKey).map(_.toInt).getOrElse(0)
    val last = e.stageInfos.maxBy(_.stageId)
    val (site, details) =
      if (Trace.graftFrame(last.details).isDefined) (last.name, last.details)
      else prop("spark.sql.execution.id").flatMap(id => execSites.get(id.toLong))
        .getOrElse((last.name, last.details))
    val rec = new JobRec(e.jobId, span, site, Trace.moduleOf(details), e.time)
    jobs(e.jobId) = rec
    e.stageInfos.foreach(s => stageJob.getOrElseUpdate(s.stageId, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    for (j <- stageJob.get(e.stageInfo.stageId); rec <- jobs.get(j)) {
      rec.stages += 1
      if (e.stageInfo.numTasks == 1) rec.singleTaskStages += 1
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null)
      for (j <- stageJob.get(e.stageId); rec <- jobs.get(j))
        rec.tasks.add(e.taskInfo, e.taskMetrics)
}

/** Catalyst phases and committed writes of every SQL execution. */
final class ExecListener extends QueryExecutionListener {
  val execs = mutable.ArrayBuffer[ExecRec]()

  private def record(qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    var path: Option[String] = None
    var files = 0L
    def visit(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case c: CommandResultExec => visit(c.commandPhysicalPlan)
      case q: QueryStageExec => visit(q.plan)
      case w: DataWritingCommandExec =>
        w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand =>
            path = Some(i.outputPath.toString)
          case _ =>
        }
        files += w.metrics.get("numFiles").map(_.value).getOrElse(0L)
        w.children.foreach(visit)
      case other => other.children.foreach(visit)
    }
    try visit(qe.executedPlan) catch { case _: Throwable => }
    val start = phases.get("planning").map(_.endTimeMs)
      .getOrElse(System.currentTimeMillis())
    execs += ExecRec(start, durationNs / 1e6, ok,
      ms("analysis"), ms("optimization"), ms("planning"), path, files)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L, ok = false)
}

/** Micro-batch progress of every standing query. */
final class StreamListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer[(Long, StreamingQueryProgress)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress += System.currentTimeMillis() -> e.progress
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The traced run's recorder: spans opened by the harness plus the three
  * listeners. Untraced runs never build one, so they register nothing.
  */
final class Tracer(spark: org.apache.spark.sql.SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def nowMs = System.nanoTime() / 1e6 + offsetMs

  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List(0)
  val jobL = new JobListener
  val execL = new ExecListener
  val streamL = new StreamListener

  sc.addSparkListener(jobL)
  spark.listenerManager.register(execL)
  spark.streams.addListener(streamL)

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = Span(spans.size + 1, name, layer, stack.head, nowMs)
    spans += s
    stack = s.id :: stack
    sc.setLocalProperty(Trace.SpanKey, s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      stack = stack.tail
      sc.setLocalProperty(Trace.SpanKey,
        if (stack.head == 0) null else stack.head.toString)
    }
  }

  def close(): Unit = {
    org.apache.spark.graftbench.Bus.drain(sc)
    sc.removeSparkListener(jobL)
    spark.listenerManager.unregister(execL)
    spark.streams.removeListener(streamL)
  }

  /** Span ids under (and including) `roots`. */
  def descendants(roots: Set[Int]): Set[Int] = {
    val out = mutable.HashSet[Int]() ++ roots
    spans.foreach(s => if (out(s.parent)) out += s.id) // parents precede children
    out.toSet
  }

  /** Self time of each span: its duration minus the part of it covered by
    * its child spans and by the jobs that ran under it.
    */
  def selfMs: Map[Int, Double] = {
    val children = mutable.HashMap[Int, mutable.ArrayBuffer[(Double, Double)]]()
    spans.foreach(s => children.getOrElseUpdate(s.parent, mutable.ArrayBuffer()) +=
      (s.startMs -> s.endMs))
    jobL.jobs.values.foreach(j => children.getOrElseUpdate(j.span, mutable.ArrayBuffer()) +=
      (j.startMs.toDouble -> j.endMs.toDouble))
    spans.map { s =>
      val iv = children.getOrElse(s.id, mutable.ArrayBuffer())
        .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curB.isNaN) covered += curB - curA
      s.id -> (s.endMs - s.startMs - covered)
    }.toMap
  }

  /** Spans and jobs as JSON lines, written when the run ends. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    implicit val formats: DefaultFormats.type = DefaultFormats
    val self = selfMs
    val lines = spans.map { s =>
      Serialization.write(Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> self(s.id)))
    } ++ jobL.jobs.values.map { j =>
      Serialization.write(Map("job" -> j.id, "name" -> j.callSite, "layer" -> "exec.job",
        "module" -> j.module, "parent" -> j.span, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "tasks" -> j.tasks.tasks,
        "task_ms" -> j.tasks.runMs))
    } ++ execL.execs.map { e =>
      Serialization.write(Map("layer" -> "catalyst.execution", "start_ms" -> e.startMs,
        "duration_ms" -> e.durationMs, "ok" -> e.ok, "write_path" -> e.writePath,
        "files" -> e.filesWritten, "analysis_ms" -> e.analysisMs,
        "optimizer_ms" -> e.optimizerMs, "planning_ms" -> e.planningMs))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
