package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions._
import graft.h3.{H3Core, H3Geo, H3Polygon, H3Traversal}

/** Runs one workload: set-up, warm-up, a timed closed loop of one client,
  * checks, and the metrics. See run.py for the command line. */
object Main {
  /** Input-generation repetitions whose median `setup_s` counts. */
  val SetupReps = 3
  /** Warm-up runs operations for at least this long, and at least
    * [[WarmUpOps]] times: Catalyst's and the kernels' code keeps getting
    * faster under the JIT for seconds after the first operation. Only the
    * first, cold one counts in `setup_s`. */
  val WarmUpS = 4.0
  val WarmUpOps = 5

  final case class OpRecord(i: Int, ms: Double, rows: Long, traced: Boolean,
      counts: Option[Counts], gapMs: Option[Double])
  final case class Failure(op: Int, cls: String, message: String, stack: String)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0Ns = args("t0-epoch-ns").toLong
    val workload = args("workload")
    val cores = args("cores").toInt
    val workDir = args("work-dir")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", Paths.get(workDir, "spark-local").toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the status store keeps every job, stage, task and query of the
      // session; capped, the heap after the loop no longer grows with the
      // number of operations the loop happened to run
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (nowNs() - t0Ns) / 1e9

    try run(spark, args, sessionS)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
    // Spark may leave non-daemon threads behind; the run is over
    sys.exit(0)
  }

  def run(spark: SparkSession, args: Map[String, String], sessionS: Double): Unit = {
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traceOn = args("trace") == "1"
    val cores = args("cores").toInt
    // before set-up: a job run between warm-up and the loop slowed the
    // loop's first operation
    val calibBefore = calibration(spark)
    val tracer = new Tracer
    val w = Workload(workload, Ctx(spark, seed, cores, tracer))

    val setupMs = (1 to SetupReps).map(_ => Workload.time(w.setup())._2)
    val warmMs = mutable.ArrayBuffer(Workload.time(w.warmUp(0))._2)
    while (warmMs.size < WarmUpOps || warmMs.sum < WarmUpS * 1e3)
      warmMs += Workload.time(w.warmUp(warmMs.size))._2
    val setupS = sessionS + (Workload.medianOf(setupMs) + warmMs.head) / 1e3

    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val failures = mutable.ArrayBuffer.empty[Failure]
    // closed loop, one client: the next operation starts when the
    // previous one and its check (not timed) have finished. In a traced
    // run every other operation is traced, so the JIT's progress over the
    // run weighs on traced and untraced operations alike.
    def loop(listener: Option[Counters]): Unit = {
      var spentMs = 0.0
      while (spentMs < seconds * 1e3) {
        val i = ops.size
        val counters = listener.filter(_ => i % 2 == 1)
        counters.fold(tracer.disable())(tracer.enable)
        tracer.op = i
        val before = counters.map(_.sync())
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val res = try Right(tracer("op", workload)(w.op(i))) catch { case NonFatal(e) => Left(e) }
        val ms = (System.nanoTime() - t0) / 1e6
        val endMs = System.currentTimeMillis()
        spentMs += ms
        val counts = counters.map(_.sync() - before.get)
        val gap = counters.map(cs => (endMs - startMs - cs.jobUnionMs(startMs, endMs)).toDouble)
        ops += OpRecord(i, ms, res.getOrElse(0L), counters.isDefined, counts, gap)
        val problem = res match {
          case Left(e) => Some(e)
          case Right(_) =>
            try w.check(i).map(new AssertionError(_)) catch { case NonFatal(e) => Some(e) }
        }
        problem.foreach { e =>
          System.err.println(s"perfbench: operation $i failed: $e")
          failures += Failure(i, e.getClass.getName, String.valueOf(e.getMessage),
            e.getStackTrace.take(8).mkString(" | "))
        }
      }
      tracer.op = -1
    }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traceOn) {
      loop(None)
      val timed = ops.map(_.ms).toSeq
      val p50 = Workload.medianOf(timed)
      metrics("setup_s") = (setupS, "s")
      // from the median operation, which a burst of load on the host
      // moves less than the total
      metrics("rows_per_s") = (Workload.medianOf(ops.map(_.rows.toDouble).toSeq) / (p50 / 1e3), "rows/s")
      metrics("op_p50_ms") = (p50, "ms")
      metrics("heap_live_mb") = (heapLiveMb(spark), "MB")
    } else {
      // the per-layer numbers come from the traced operations, and the
      // ratio of traced to untraced ones is the tracing overhead
      val cs = new Counters(spark)
      loop(Some(cs))
      tracer.enable(cs)
      val (plain, tr) = ops.partition(!_.traced)
      val n = tr.size.toDouble
      val c = tr.flatMap(_.counts).foldLeft(Counts())(_ + _)
      val wallMs = tr.map(_.ms).sum
      val mb = 1024.0 * 1024.0
      metrics ++= kernelProbes(w)
      metrics ++= exprProbe(spark, w, cores,
        metrics("h3.latlng_to_cell_ns")._1 + metrics("h3.cell_to_parent_ns")._1)
      metrics("plan.analysis_ms") = (c.analysisMs / n, "ms")
      metrics("plan.optimization_ms") = (c.optimizationMs / n, "ms")
      metrics("plan.planning_ms") = (c.planningMs / n, "ms")
      metrics("sched.jobs_per_op") = (c.jobs / n, "count")
      metrics("sched.stages_per_op") = (c.stages / n, "count")
      metrics("sched.tasks_per_op") = (c.tasks / n, "count")
      metrics("sched.scheduler_delay_ms_per_op") = (c.schedDelayMs / n, "ms")
      metrics("sched.driver_gap_ms_per_op") = (tr.flatMap(_.gapMs).sum / n, "ms")
      metrics("task.run_ms") = (c.taskRunMs / n, "ms")
      metrics("task.cpu_ms") = (c.taskCpuMs / n, "ms")
      metrics("task.gc_ms") = (c.gcMs / n, "ms")
      metrics("task.busy_ratio") = (c.taskRunMs / (wallMs * cores), "ratio")
      metrics("shuffle.write_mb") = (c.shuffleWriteB / n / mb, "MB")
      metrics("shuffle.read_mb") = (c.shuffleReadB / n / mb, "MB")
      metrics("spill_mb") = (c.spillB / n / mb, "MB")
      val own = w.probes()
      for ((name, unit) <- WorkloadLayerMetrics)
        metrics(name) = (own.getOrElse(name, 0.0), unit)
      metrics("trace.overhead_ratio") =
        (Workload.medianOf(tr.map(_.ms).toSeq) / Workload.medianOf(plain.map(_.ms).toSeq) - 1, "ratio")
    }
    val calibAfter = calibration(spark)

    val attempted = ops.size
    val failed = failures.map(_.op).distinct.size
    val result = Json.obj("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*))
    Files.write(Paths.get(args("result")), result.text.getBytes(StandardCharsets.UTF_8))
    val artifact = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traceOn,
      "cores" -> cores, "sizes" -> Json.obj(w.sizes.toSeq.sortBy(_._1): _*),
      "setup" -> Json.obj("session_s" -> sessionS, "input_reps_ms" -> setupMs, "warm_up_ms" -> warmMs),
      "calibration_s" -> Json.obj("before" -> calibBefore, "after" -> calibAfter),
      "attempted" -> attempted, "failed" -> failed,
      "failed_ratio" -> failed.toDouble / math.max(1, attempted),
      "failures" -> failures.map(f => Json.obj("op" -> f.op, "class" -> f.cls,
        "message" -> f.message, "stack" -> f.stack)),
      "metrics" -> result,
      "op_ms" -> Json.obj("n" -> ops.size, "p50" -> Workload.medianOf(ops.map(_.ms).toSeq),
        "p95" -> percentile(ops.map(_.ms).toSeq, 0.95), "max" -> ops.map(_.ms).maxOption.getOrElse(0.0)),
      "ops" -> ops.map(o => Json.obj(Seq("i" -> o.i, "ms" -> o.ms, "rows" -> o.rows,
        "traced" -> o.traced) ++ o.gapMs.map("driver_gap_ms" -> _) ++
        o.counts.map(c => "counts" -> c.toMap): _*)),
      "layer_self_ms_per_op" -> {
        val n = math.max(1, ops.count(_.traced))
        Json.obj(tracer.selfNsByLayer.toSeq.sortBy(_._1).map { case (l, ns) => l -> ns / 1e6 / n }: _*)
      },
      "spans" -> tracer.spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counts" -> s.counts.toMap)))
    Files.write(Paths.get(args("artifact")), artifact.text.getBytes(StandardCharsets.UTF_8))
  }

  /** Per-layer metrics that only some workloads exercise; on the others
    * the layer is not called and the metric reads 0. */
  val WorkloadLayerMetrics: Seq[(String, String)] = Seq(
    "df.compact_ms" -> "ms", "df.compact_ratio" -> "ratio",
    "raster.to_cells_ms" -> "ms", "raster.compact_agg_ms" -> "ms",
    "raster.cells_per_pixel" -> "ratio", "raster.compact_ratio" -> "ratio")

  /** graft.h3 kernels called directly in this (warm) driver thread on a
    * sample of the workload's own inputs: median of 5 passes per op. */
  def kernelProbes(w: Workload): Seq[(String, (Double, String))] = {
    val n = 20000
    val f = w.sampler
    val pts = Array.tabulate(n)(i => f(i.toLong))
    val res = w.res
    val parentRes = math.max(0, res - 4)
    val cells = pts.map { case (lat, lng) => H3Geo.latLngToCell(lat, lng, res) }
    var sink = 0L
    def nsPer(units: Long)(pass: => Long): Double = {
      sink ^= pass
      Workload.medianOf((1 to 5).map { _ =>
        val t0 = System.nanoTime()
        sink ^= pass
        (System.nanoTime() - t0).toDouble
      }) / units
    }
    def over(k: Int)(body: Int => Long): Long = { var h = 0L; var i = 0; while (i < k) { h ^= body(i); i += 1 }; h }
    val disks = cells.take(200).map(H3Traversal.gridDisk(_, 10))
    val cellKm2 = H3Geo.cellAreaKm2(cells(0))
    // rectangles around sample points, each covering about 2000 cells
    val rects = pts.take(20).map { case (lat, lng) =>
      val halfLat = math.sqrt(2000 * cellKm2) / 111.2 / 2
      val halfLng = halfLat / math.cos(math.toRadians(lat))
      H3Polygon.Polygon(Array(Array((lng - halfLng, lat - halfLat), (lng + halfLng, lat - halfLat),
        (lng + halfLng, lat + halfLat), (lng - halfLng, lat + halfLat), (lng - halfLng, lat - halfLat))))
    }
    val polyCells = rects.map(H3Polygon.polygonToCells(_, res).length.toLong).sum
    val out = Seq(
      "h3.latlng_to_cell_ns" -> nsPer(n)(over(n)(i => H3Geo.latLngToCell(pts(i)._1, pts(i)._2, res))),
      "h3.cell_to_parent_ns" -> nsPer(n)(over(n)(i => H3Core.cellToParent(cells(i), parentRes))),
      "h3.cell_to_latlng_ns" -> nsPer(n)(over(n)(i =>
        java.lang.Double.doubleToRawLongBits(H3Geo.cellToLatLng(cells(i)).lat))),
      "h3.cell_to_boundary_ns" -> nsPer(5000)(over(5000)(i => H3Geo.cellToBoundary(cells(i)).length)),
      "h3.grid_disk_k1_ns" -> nsPer(5000)(over(5000)(i => H3Traversal.gridDisk(cells(i), 1).length)),
      "h3.grid_disk_k10_ns" -> nsPer(200)(over(200)(i => H3Traversal.gridDisk(cells(i), 10).length)),
      "h3.polygon_to_cells_ns_per_cell" -> nsPer(polyCells)(over(rects.length)(i =>
        H3Polygon.polygonToCells(rects(i), res).length)),
      "h3.compact_cells_ns_per_cell" -> nsPer(disks.map(_.length.toLong).sum)(over(disks.length)(i =>
        H3Core.compactCells(disks(i)).length)))
    if (sink == 42) System.err.print("") // keeps the kernels' results live
    out.map { case (k, v) => k -> (v, "ns") }
  }

  /** graft.expr: the cell_batch projection alone (latlng -> cell -> parent)
    * over 5 x 10^5 of the workload's own points, written to the noop sink. */
  def exprProbe(spark: SparkSession, w: Workload, cores: Int,
      kernelNs: Double): Seq[(String, (Double, String))] = {
    val rows = 500000L
    val f = w.sampler
    val res = w.res
    val pts = spark.range(0, rows, 1, cores)
      .map(id => f(id))(Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble))
      .toDF("lat", "lng").persist(StorageLevel.MEMORY_ONLY)
    try {
      pts.count()
      val proj = w.t("graft.expr", "h3_latlng_to_cell+h3_cell_to_parent") {
        pts.select(h3_latlng_to_cell(col("lat"), col("lng"), lit(res)).as("c"))
          .select(col("c"), h3_cell_to_parent(col("c"), lit(math.max(0, res - 4))).as("p"))
      }
      val ms = Workload.medianOf((0 until 3).map { _ =>
        Workload.time(w.t("spark", "noop write")(
          proj.write.format("noop").mode("overwrite").save()))._2
      })
      val rowsPerS = rows / (ms / 1e3)
      Seq("expr.rows_per_s" -> (rowsPerS, "rows/s"),
        "expr.bridge_ns_per_row" -> (cores * 1e9 / rowsPerS - kernelNs, "ns"))
    } finally pts.unpersist(blocking = true)
  }

  def nowNs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  def heapLiveMb(spark: SparkSession): Double = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Host-drift leg, timed before set-up and after the loop: the shape of the
    * library's bench calibration (a CPU hash chain into a high-cardinality
    * aggregate, so the exchange moves real volume) at a 96th of its
    * size. Seconds. */
  def calibration(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(250L * 1000).toDF("id")
      .select(pmod(xxhash64(col("id")), lit(2097152L)).as("k"),
        pmod(xxhash64(xxhash64(xxhash64(xxhash64(col("id"), lit(1)), lit(2)),
          lit(3)), lit(4)), lit(1000000L)).as("h"))
      .groupBy(col("k")).agg(sum(col("h")).as("s"), count(lit(1)).as("c"))
      .agg(sum(pmod(xxhash64(col("k"), col("s"), col("c")), lit(1000000L))).as("t"))
      .collect()
    (System.nanoTime() - t0) / 1e9
  }
}
