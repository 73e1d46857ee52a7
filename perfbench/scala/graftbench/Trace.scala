package graftbench

import scala.collection.mutable

import org.apache.spark.{BenchBridge, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark activity as of one instant; the difference of two
  * snapshots is the work done between them. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, cpuMs: Double = 0, gcMs: Long = 0, shuffleRead: Long = 0,
    shuffleWrite: Long = 0, spill: Long = 0, analysisMs: Long = 0,
    optimizationMs: Long = 0, planningMs: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, cpuMs - o.cpuMs, gcMs - o.gcMs,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite, spill - o.spill,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
    planningMs - o.planningMs)
  def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "task_ms" -> taskMs, "task_cpu_ms" -> cpuMs, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs)
}

/** One Spark job as the listener saw it; `callSite` is Spark's short call
  * site ("head at Validation.scala:139"), i.e. the engine file that ran it. */
final case class JobRecord(id: Int, execution: Long, callSite: String, startMs: Long,
    var endMs: Long = -1, var tasks: Long = 0, var taskMs: Long = 0)

/** The SparkListener plus QueryExecutionListener the benchmark registers in
  * traced runs. Events arrive on the listener-bus thread; readers call
  * `snapshot()`, which drains the bus first. */
final class SparkCounters(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  private var c = Counters()
  private val stageJob = mutable.Map[Int, JobRecord]()
  val jobs: mutable.ArrayBuffer[JobRecord] = mutable.ArrayBuffer()

  private val sqlSite = mutable.Map[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { sqlSite(s.executionId) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // A SQL job's call site is its execution's description (the action that
    // started it, even when AQE submits the job from a pool thread);
    // otherwise the result stage carries it as its name.
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val site = exec.flatMap(sqlSite.get)
      .getOrElse(if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name)
    val rec = JobRecord(e.jobId, exec.getOrElse(-1L), site, e.time)
    jobs += rec
    e.stageIds.foreach(stageJob(_) = rec)
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      c = c.copy(tasks = c.tasks + 1, taskMs = c.taskMs + m.executorRunTime,
        cpuMs = c.cpuMs + m.executorCpuTime / 1e6, gcMs = c.gcMs + m.jvmGCTime,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
      stageJob.get(e.stageId).foreach { j => j.tasks += 1; j.taskMs += m.executorRunTime }
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
    c = c.copy(analysisMs = c.analysisMs + ms("analysis"),
      optimizationMs = c.optimizationMs + ms("optimization"),
      planningMs = c.planningMs + ms("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  /** Adds the analysis time of a Dataset the benchmark holds but has not
    * executed through an action the listener reports on. */
  def addAnalysis(qe: QueryExecution): Unit = synchronized {
    c = c.copy(analysisMs = c.analysisMs +
      qe.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L))
  }

  def snapshot(): Counters = { BenchBridge.drain(sc); synchronized(c) }
  def jobsSince(n: Int): Seq[JobRecord] = { BenchBridge.drain(sc); synchronized(jobs.drop(n).toList) }
  def jobCount: Int = { BenchBridge.drain(sc); synchronized(jobs.size) }
}

/** In-memory span recorder. Until `start()` of a traced run (set-up and
  * warm-up) and always with tracing off, every call is a plain
  * pass-through, so the untraced run pays nothing for it. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: String, name: String,
      startNs: Long, var endNs: Long, before: Counters, var delta: Counters,
      firstJob: Int, var jobs: Seq[JobRecord], var attrs: Map[String, Any])

  var counters: Option[SparkCounters] = None
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private var stack: List[Span] = Nil
  private var op: String = "-"
  private val origin = System.nanoTime()
  private var recording = false

  def start(): Unit = recording = enabled

  /** Starts a new operation id shared by every span until the next call. */
  def operation(id: String): Unit = op = id

  def apply[T](name: String, attrs: => Map[String, Any] = Map.empty)(body: => T): T =
    if (!recording) body
    else {
      val before = counters.map(_.snapshot()).getOrElse(Counters())
      val firstJob = counters.map(_.jobCount).getOrElse(0)
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), op, name,
        System.nanoTime(), -1, before, Counters(), firstJob, Nil, Map.empty)
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        counters.foreach { k => s.delta = k.snapshot() - before; s.jobs = k.jobsSince(firstJob) }
        s.attrs = attrs ++ s.attrs
        stack = stack.tail
      }
    }

  /** Attributes attached to the innermost open span. */
  def annotate(kv: (String, Any)*): Unit =
    if (recording) stack.headOption.foreach(s => s.attrs = s.attrs ++ kv)

  def durS(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Per-layer self time: each span's wall minus its children's, summed by
    * the layer prefix of the span name ("pipeline.transform_iot" ->
    * "pipeline"). */
  def selfSeconds: Map[String, Double] = {
    val childS = mutable.Map[Int, Double]().withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childS(s.parent) += durS(s))
    spans.groupBy(_.name.takeWhile(_ != '.'))
      .map { case (layer, ss) => layer -> ss.map(s => durS(s) - childS(s.id)).sum }
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ms" -> (s.startNs - origin) / 1e6, "end_ms" -> (s.endNs - origin) / 1e6,
      "counts" -> s.delta.toMap,
      "jobs" -> s.jobs.map(j => Map("id" -> j.id, "execution" -> j.execution, "call_site" -> j.callSite,
        "wall_ms" -> (j.endMs - j.startMs), "tasks" -> j.tasks, "task_ms" -> j.taskMs)),
      "attrs" -> s.attrs)
  }
}
