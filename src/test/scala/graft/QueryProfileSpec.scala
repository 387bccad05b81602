package graft

import java.nio.file.Files
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.SparkTestSession

/** The per-query profile Bench records, and the artifact it lands in. */
class QueryProfileSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def profiled[T](f: QueryProfile => T): T = {
    val p = new QueryProfile(spark)
    try f(p) finally p.close()
  }
  private def grouped = spark.range(0, 20000, 1, 8).groupBy(col("id") % 13).count()
  private def single = spark.range(0, 1000, 1, 1).toDF()

  test("a groupBy runs at least two stages and writes shuffle bytes") {
    val r = profiled(_.measure(grouped)(_.count()))
    assert(r.ok && r.rows == 13)
    assert(r.stages >= 2 && r.jobs >= 1 && r.tasks >= 8, r)
    assert(r.shuffleWriteBytes > 0 && r.shuffleReadBytes > 0, r)
    assert(r.topJobs.nonEmpty && r.topJobs.size <= 5)
    assert(r.topJobs.forall(_._2.contains("QueryProfileSpec.scala")), r.topJobs)
  }

  test("a single-partition range count moves no shuffle bytes") {
    val r = profiled(_.measure(single)(_.count()))
    assert(r.ok && r.rows == 1000)
    assert(r.shuffleWriteBytes == 0 && r.shuffleReadBytes == 0 && r.spillBytes == 0, r)
  }

  test("driver gap lies within the wall time, and back-to-back runs keep their own events") {
    val (a, b) = profiled(p => (p.measure(grouped)(_.count()), p.measure(single)(_.count())))
    for (r <- Seq(a, b))
      assert(r.driverGapMs >= 0 && r.driverGapMs <= r.wallMs && r.buildMs <= r.wallMs, r)
    // the single-partition count is one job of one task: none of the
    // groupBy's 8+ tasks or its shuffle leaked into its record
    assert(a.tasks >= 8)
    assert(b.jobs == 1 && b.stages == 1 && b.tasks == 1 && b.shuffleReadBytes == 0, b)
  }

  test("a malformed GRAFT_PROBE_CONF pair fails before any timing") {
    var ran = 0
    val e = intercept[IllegalArgumentException](Bench.measure(spark,
      Bench.Settings("unused", "unused", warm = false,
        probeConf = "spark.sql.adaptive.enabled=false,oops"),
      Seq("q" -> ((s, _) => { ran += 1; s.range(1).toDF() }))))
    assert(e.getMessage.contains("oops") && ran == 0)
  }

  test("a failing query's cause lands in the artifact; the others still time") {
    val dir = Files.createTempDirectory("graft-bench")
    val queries: Seq[(String, Bench.Query)] = Seq(
      "a_ok" -> ((s, _) => s.range(0, 5000, 1, 4).groupBy(col("id") % 3).count()),
      "b_build_fails" -> ((_, _) => throw new IllegalStateException("deliberate build failure")),
      "c_task_fails" -> ((s, _) => s.range(10).toDF()
        .filter(expr("raise_error('deliberate task failure') IS NULL"))),
      "d_ok" -> ((s, _) => s.range(100).toDF()))
    val run = Bench.measure(spark, Bench.Settings(dir.toString, dir.resolve("bench.json").toString,
      warm = false, probeConf = "spark.sql.adaptive.enabled=false"), queries)
    val art = new ObjectMapper().readTree(Bench.artifacts(run, Nil)._1)
    val failures = (0 until art.get("failures").size).map(art.get("failures").get(_))
    def failure(q: String, pass: String) = failures
      .find(f => f.get("query").asText == q && f.get("pass").asText == pass)
      .getOrElse(fail(s"no $pass failure for $q in $failures"))
    assert(failure("b_build_fails", "timed").get("class").asText == "java.lang.IllegalStateException")
    assert(failure("b_build_fails", "timed").get("message").asText == "deliberate build failure")
    assert(failure("c_task_fails", "timed").get("message").asText.contains("deliberate task failure"))
    assert(failure("b_build_fails", "timed_b").get("class").asText == "java.lang.IllegalStateException")
    assert(art.get("failed_count").asInt == 2)
    val fields = Seq("wall_ms", "build_ms", "rows", "analysis_ms", "optimization_ms", "planning_ms",
      "jobs", "stages", "tasks", "task_run_ms", "sched_delay_ms", "deser_ms", "gc_ms",
      "driver_gap_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "top_jobs")
    for (col <- Seq("", "_b"); q <- queries.map(_._1)) {
      val p = art.get("profile" + col).get(q)
      assert(fields.forall(p.has), s"profile$col.$q lacks a field: $p")
      assert(p.has("error") == q.contains("fails"), s"profile$col.$q: $p")
      assert(art.get("queries" + col).get(q).asDouble > 0)
    }
    assert(art.get("profile").get("a_ok").get("rows").asLong == 3)
    assert(art.get("profile").get("b_build_fails").get("error").get("message").asText ==
      "deliberate build failure")
    assert(art.get("probe_conf").get("spark.sql.adaptive.enabled").asText == "false")
  }
}
