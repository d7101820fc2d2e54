package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed call: `root` is the id of the op span the call belongs to. */
final class Span(val id: Int, val name: String, val parent: Int, val root: Int,
                 val t0: Long, val ms0: Long) {
  var t1: Long = t0
  var ms1: Long = ms0
  def seconds: Double = (t1 - t0) / 1e9
}

/** Spans around every public graft call the benchmark makes, kept in
  * memory. While tracing is off `span` only runs its body. While it is
  * on, the active span's id is set as a job-local property, so each
  * Spark job carries the span that submitted it.
  */
object Trace {
  val SpanProperty = "graftbench.span"

  @volatile private var sc: SparkContext = null
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Counts recorded at layer boundaries, keyed by (op span id, name). */
  val counters = mutable.HashMap.empty[(Int, String), Double]
  private var stack: List[Span] = Nil
  private var lastRoot = -1

  def enabled: Boolean = sc != null
  def enable(ctx: SparkContext): Unit = sc = ctx
  def disable(): Unit = sc = null

  def span[T](name: String)(body: => T): T = {
    val ctx = sc
    if (ctx == null) return body
    val parent = stack.headOption
    val id = spans.size
    val s = new Span(id, name, parent.fold(-1)(_.id), parent.fold(id)(_.root),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    ctx.setLocalProperty(SpanProperty, id.toString)
    try body
    finally {
      s.t1 = System.nanoTime()
      s.ms1 = System.currentTimeMillis()
      stack = stack.tail
      if (parent.isEmpty) lastRoot = id
      ctx.setLocalProperty(SpanProperty, parent.map(_.id.toString).orNull)
    }
  }

  /** Adds `v` to counter `name` of the running op (or the op just ended). */
  def count(name: String, v: Double): Unit =
    if (enabled) {
      val key = (stack.headOption.fold(lastRoot)(_.root), name)
      counters(key) = counters.getOrElse(key, 0.0) + v
    }

}

final case class JobRec(jobId: Int, span: Int, startMs: Long, var endMs: Long)
final case class TaskRec(jobId: Int, runMs: Long, cpuNs: Long, schedDelayMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long,
                         spill: Long, output: Long, input: Long)
final case class QeRec(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** Records raw scheduler and Catalyst events for tagged jobs; the
  * attribution to ops happens afterwards, in [[Attribution]].
  */
final class Collector extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stagesRun = mutable.ArrayBuffer.empty[(Int, Int)] // (stageId, jobId)
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val qes = mutable.ArrayBuffer.empty[QeRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty))).foreach { s =>
      jobs(e.jobId) = JobRec(e.jobId, s.toInt, e.time, e.time)
      e.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(j => stagesRun += ((e.stageInfo.stageId, j)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) {
        val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime
        tasks += TaskRec(j, m.executorRunTime, m.executorCpuTime, math.max(0L, delay),
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
          m.outputMetrics.bytesWritten, m.inputMetrics.bytesRead)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) synchronized {
      def d(k: String) = ph.get(k).fold(0L)(_.durationMs)
      qes += QeRec(ph.values.map(_.startTimeMs).min, d("analysis"), d("optimization"), d("planning"))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Per-op totals of everything the listeners saw. */
final case class OpAgg(
    jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    taskRunS: Double = 0, taskCpuS: Double = 0, schedDelayS: Double = 0,
    shuffleWriteMb: Double = 0, shuffleReadMb: Double = 0, fetchWaitS: Double = 0,
    spillMb: Double = 0, outputMb: Double = 0, inputMb: Double = 0,
    jobBusyS: Double = 0, analysisS: Double = 0, optimizerS: Double = 0, planningS: Double = 0)

object Attribution {
  private val MB = 1048576.0

  /** Total length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Attribute jobs (by the span that submitted them), their stages and
    * tasks, and Catalyst phases (by time, the client being the only one)
    * to the op span each belongs to. Keys are op span ids.
    */
  def perOp(spans: Seq[Span], c: Collector): Map[Int, OpAgg] = c.synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    val ops = spans.filter(s => s.parent == -1)
    val jobOp = c.jobs.values.flatMap(j => byId.get(j.span).map(s => j.jobId -> s.root)).toMap
    val jobsByOp = c.jobs.values.groupBy(j => jobOp.getOrElse(j.jobId, -1))
    val stagesByOp = c.stagesRun.groupBy { case (_, j) => jobOp.getOrElse(j, -1) }
    val tasksByOp = c.tasks.groupBy(t => jobOp.getOrElse(t.jobId, -1))
    val qeByOp = c.qes.groupBy(q => ops.find(o => q.startMs >= o.ms0 && q.startMs <= o.ms1)
      .fold(-1)(_.id))
    ops.map { o =>
      val js = jobsByOp.getOrElse(o.id, Nil).toSeq
      val ts = tasksByOp.getOrElse(o.id, Nil).toSeq
      val qs = qeByOp.getOrElse(o.id, Nil).toSeq
      o.id -> OpAgg(
        jobs = js.size,
        stages = stagesByOp.getOrElse(o.id, Nil).size,
        tasks = ts.size,
        taskRunS = ts.map(_.runMs).sum / 1e3,
        taskCpuS = ts.map(_.cpuNs).sum / 1e9,
        schedDelayS = ts.map(_.schedDelayMs).sum / 1e3,
        shuffleWriteMb = ts.map(_.shuffleWrite).sum / MB,
        shuffleReadMb = ts.map(_.shuffleRead).sum / MB,
        fetchWaitS = ts.map(_.fetchWaitMs).sum / 1e3,
        spillMb = ts.map(_.spill).sum / MB,
        outputMb = ts.map(_.output).sum / MB,
        inputMb = ts.map(_.input).sum / MB,
        jobBusyS = covered(js.map(j => (j.startMs, j.endMs)), o.ms0, o.ms1) / 1e3,
        analysisS = qs.map(_.analysisMs).sum / 1e3,
        optimizerS = qs.map(_.optimizationMs).sum / 1e3,
        planningS = qs.map(_.planningMs).sum / 1e3)
    }.toMap
  }

  /** Per op: summed seconds of its spans named `name` (ops without one are absent). */
  def layerSeconds(spans: Seq[Span], name: String): Map[Int, Double] =
    spans.filter(_.name == name).groupBy(_.root).map { case (r, ss) => r -> ss.map(_.seconds).sum }
}
