package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.util.QueryExecutionListener

/** What one query run cost, layer by layer: wall and DataFrame-build time,
  * Catalyst phases summed over every `QueryExecution` the run finished,
  * the jobs/stages/tasks it launched with their summed task metrics, and
  * the driver gap — wall time during which no job was running (planning,
  * barrier bookkeeping, driver-side loops). `rows` is -1 when the run
  * failed; `error` is then its exception class and message. `loops` are
  * the iterative operators the run's checkpoint scope saw, each with its
  * regime and rounds. */
final case class QueryRecord(wallMs: Double, buildMs: Double, rows: Long,
    analysisMs: Long, optimizationMs: Long, planningMs: Long,
    jobs: Int, stages: Int, tasks: Int,
    taskRunMs: Long, schedDelayMs: Long, deserMs: Long, gcMs: Long, driverGapMs: Double,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    topJobs: Seq[(Long, String)], error: Option[Throwable],
    loops: Seq[graft.util.Checkpoints.Loop] = Nil) {
  def ok: Boolean = error.isEmpty

  def toJson: ListMap[String, Any] = ListMap(
    "wall_ms" -> wallMs, "build_ms" -> buildMs, "rows" -> rows,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "sched_delay_ms" -> schedDelayMs, "deser_ms" -> deserMs,
    "gc_ms" -> gcMs, "driver_gap_ms" -> driverGapMs,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes,
    "top_jobs" -> topJobs.map { case (ms, site) => ListMap("ms" -> ms, "call_site" -> site) },
    "loops" -> loops.map(l => ListMap("op" -> l.op, "regime" -> l.regime, "rounds" -> l.rounds))) ++
    error.map(e => "error" -> QueryProfile.errorJson(e))
}

/** The per-query profile every [[Bench]] run records: one listener pair
  * (scheduler events + `QueryExecution` phases) registered once on a
  * session — sessions cloned from it afterwards inherit the execution
  * listener, and the scheduler side is context-wide. Only events that
  * arrive inside a [[measure]] window count; the window opens and closes
  * on a drained listener bus, so consecutive runs never see each other's
  * events. */
final class QueryProfile(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private final class Window {
    var analysis, optimization, planning = 0L
    var stages, tasks = 0
    var taskRun, schedDelay, deser, gc, shuffleRead, shuffleWrite, spill = 0L
    val execSites = mutable.LongMap.empty[String]
    val jobStarts = mutable.LongMap.empty[(Long, String)]
    val jobs = mutable.ArrayBuffer.empty[(Long, Long, String)] // (start, end, call site)
  }
  private var open: Option[Window] = None
  private def inWindow(f: Window => Unit): Unit = synchronized(open.foreach(f))

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** Builds and runs one query inside a fresh window. A non-fatal failure
    * in either step is returned in the record, never thrown. */
  def measure(build: => DataFrame)(run: DataFrame => Long): QueryRecord = {
    shims.drainListenerBus(spark.sparkContext)
    val w = new Window
    synchronized { open = Some(w) }
    val (t0Ms, t0) = (System.currentTimeMillis(), System.nanoTime())
    var tBuilt = 0L
    val (rows, error) =
      try { val df = build; tBuilt = System.nanoTime(); (run(df), None) }
      catch { case NonFatal(e) => (-1L, Some(e)) }
    val (t1, t1Ms) = (System.nanoTime(), System.currentTimeMillis())
    shims.drainListenerBus(spark.sparkContext)
    synchronized { open = None }
    val wallMs = (t1 - t0) / 1e6
    val busyMs = QueryProfile.covered(w.jobs.map { case (s, e, _) => (s max t0Ms, e min t1Ms) })
    QueryRecord(wallMs, (if (tBuilt == 0L) t1 - t0 else tBuilt - t0) / 1e6, rows,
      w.analysis, w.optimization, w.planning, w.jobs.size, w.stages, w.tasks,
      w.taskRun, w.schedDelay, w.deser, w.gc, math.max(0.0, wallMs - busyMs),
      w.shuffleRead, w.shuffleWrite, w.spill,
      w.jobs.toSeq.map { case (s, e, site) => (e - s, site) }.sortBy(-_._1).take(5), error)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  private def phases(qe: QueryExecution): Unit = inWindow { w =>
    def ms(p: String) = qe.tracker.phases.get(p).map(_.durationMs).getOrElse(0L)
    w.analysis += ms("analysis"); w.optimization += ms("optimization"); w.planning += ms("planning")
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => inWindow(_.execSites(s.executionId) = s.description)
    case _ =>
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = inWindow { w =>
    // a job's call site: its description when set, else its SQL
    // execution's (AQE submits stage jobs from a pool thread whose own
    // call site is meaningless), else its result stage's name — the
    // action's first frame outside Spark ("count at Barriers.scala:181")
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val site = prop("spark.job.description")
      .orElse(prop("spark.sql.execution.id").flatMap(id => w.execSites.get(id.toLong)))
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name)).getOrElse("?")
    w.jobStarts(e.jobId.toLong) = (e.time, site)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = inWindow { w =>
    w.jobStarts.remove(e.jobId.toLong).foreach { case (s, site) => w.jobs += ((s, e.time, site)) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = inWindow(_.stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = inWindow { w =>
    w.tasks += 1
    val (m, i) = (e.taskMetrics, e.taskInfo)
    if (m != null && i != null) {
      val gettingResult = if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L
      // the scheduler delay Spark's UI reports for a task
      w.schedDelay += math.max(0L, i.finishTime - i.launchTime - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      w.taskRun += m.executorRunTime; w.deser += m.executorDeserializeTime; w.gc += m.jvmGCTime
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.spill += m.diskBytesSpilled
    }
  }
}

object QueryProfile {
  def errorJson(e: Throwable): ListMap[String, String] =
    ListMap("class" -> e.getClass.getName, "message" -> String.valueOf(e.getMessage))

  /** Length of the union of `[start, end)` intervals. */
  def covered(intervals: Iterable[(Long, Long)]): Long = {
    var (total, curS, curE) = (0L, 0L, Long.MinValue)
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.toSeq.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
