package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Running totals of what Spark's own layers did: planning (from each
  * query's `QueryExecution.tracker`), scheduling and task/shuffle work (from
  * a `SparkListener`). Read only after [[Counters.sync]] has drained the
  * listener bus. */
final case class Counts(
    queries: Long = 0, analysisMs: Double = 0, optimizationMs: Double = 0, planningMs: Double = 0,
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, schedDelayMs: Double = 0,
    taskRunMs: Double = 0, taskCpuMs: Double = 0, gcMs: Double = 0,
    shuffleWriteB: Double = 0, shuffleReadB: Double = 0, spillB: Double = 0) {
  def +(o: Counts): Counts = combine(o, 1)
  def -(o: Counts): Counts = combine(o, -1)
  private def combine(o: Counts, k: Int): Counts = Counts(queries + k * o.queries,
    analysisMs + k * o.analysisMs, optimizationMs + k * o.optimizationMs,
    planningMs + k * o.planningMs, jobs + k * o.jobs, stages + k * o.stages, tasks + k * o.tasks,
    schedDelayMs + k * o.schedDelayMs, taskRunMs + k * o.taskRunMs, taskCpuMs + k * o.taskCpuMs,
    gcMs + k * o.gcMs, shuffleWriteB + k * o.shuffleWriteB, shuffleReadB + k * o.shuffleReadB,
    spillB + k * o.spillB)
  def toMap: Map[String, Double] = Map("queries" -> queries.toDouble, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs, "jobs" -> jobs.toDouble,
    "stages" -> stages.toDouble, "tasks" -> tasks.toDouble, "sched_delay_ms" -> schedDelayMs,
    "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuMs, "gc_ms" -> gcMs,
    "shuffle_write_b" -> shuffleWriteB, "shuffle_read_b" -> shuffleReadB, "spill_b" -> spillB)
}

final class Counters(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var c = Counts()
  private val jobStart = mutable.LongMap.empty[Long]
  /** (start, end) epoch ms of every finished job, in end order. */
  val jobSpans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def sync(): Counts = { PerfbenchBus.drain(spark.sparkContext); synchronized(c) }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    synchronized {
      c = c.copy(queries = c.queries + 1, analysisMs = c.analysisMs + ms("analysis"),
        optimizationMs = c.optimizationMs + ms("optimization"),
        planningMs = c.planningMs + ms("planning"))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId.toLong) = e.time
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId.toLong).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      val duration = i.finishTime - i.launchTime
      val gettingResult = if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L
      // the scheduler delay Spark's UI reports for a task
      val delay = math.max(0L, duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
      c = c.copy(tasks = c.tasks + 1, schedDelayMs = c.schedDelayMs + delay,
        taskRunMs = c.taskRunMs + m.executorRunTime, taskCpuMs = c.taskCpuMs + m.executorCpuTime / 1e6,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleWriteB = c.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
        shuffleReadB = c.shuffleReadB + m.shuffleReadMetrics.totalBytesRead,
        spillB = c.spillB + m.diskBytesSpilled)
    } else c = c.copy(tasks = c.tasks + 1)
  }

  /** Milliseconds of [fromMs, toMs] covered by at least one job. */
  def jobUnionMs(fromMs: Long, toMs: Long): Long = synchronized {
    Counters.covered(jobSpans.toSeq.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) })
  }
}

object Counters {
  /** Length of the union of [start, end) intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One recorded span: a call from the benchmark into one layer. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
    startNs: Long, endNs: Long, counts: Counts)

/** Spans around the benchmark's calls into each layer. Disabled, a span is
  * just its body. Enabled, it records name, start, end and parent in memory,
  * and the listener counts at its two boundaries. */
final class Tracer {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val stack = mutable.Stack[Int]()
  private var counters: Option[Counters] = None
  var op: Int = -1

  def enable(cs: Counters): Unit = counters = Some(cs)
  def disable(): Unit = counters = None
  def enabled: Boolean = counters.isDefined

  def apply[T](layer: String, name: String)(body: => T): T = counters match {
    case None => body
    case Some(cs) =>
      val before = cs.sync()
      val id = spans.size
      spans += null // reserve the id so children get larger ones
      val parent = if (stack.isEmpty) -1 else stack.top
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        spans(id) = Span(id, parent, op, layer, name, t0, t1, cs.sync() - before)
      }
  }

  /** Self time per layer over the spans of timed operations: each span's
    * duration minus the part of it that its child spans cover, summed by
    * layer. */
  def selfNsByLayer: Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.filter(_.op >= 0).map { s =>
      val covered = Counters.covered(kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).toSeq)
      s.layer -> (s.endNs - s.startNs - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
