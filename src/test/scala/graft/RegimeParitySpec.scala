package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.expr.SparkTestSession

/** Every regime-gated catalog query returns the same rows whichever regime
  * its loops run in: `graft.layout.clusterMinRows` 0 forces the clustered
  * regime, `Long.MaxValue` the small one, and unset leaves the measured
  * choice. The layout and the broadcast hints are physical properties
  * only. (Reliable checkpointing cannot be set from the catalog; the loop
  * specs cover `checkpointDir`.) */
class RegimeParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // the catalog's sf0.01 tables, kept beside the repository checkout
  private val dir = new java.io.File("../testdata/sf0.01").getCanonicalPath

  private val gated = Seq("p24_neardup_groups", "p88_pagerank", "p93_lpa_communities",
    "p96_random_walks", "p97_kcore", "p98_graph_features", "p101_link_prediction",
    "p105_personalized_pagerank", "p114_sssp_iterative", "p116_sssp_paths", "h3_23_clusters")

  private def rows(name: String, clusterMinRows: Option[String]): Seq[String] = {
    val s = org.apache.spark.sql.graft.shims.cloneSessionWithConf(spark,
      ("spark.sql.legacy.parquet.nanosAsLong" -> "true") +:
        clusterMinRows.map("graft.layout.clusterMinRows" -> _).toSeq: _*)
    SparkEntry.queries(name)(s, dir).collect().map(_.toString).toSeq.sorted
  }

  for (name <- gated) test(s"$name: same rows in every regime") {
    assume(new java.io.File(dir).isDirectory, s"$dir missing")
    val measured = rows(name, None)
    assert(measured.nonEmpty, s"$name returned no rows")
    for (bound <- Seq("0", Long.MaxValue.toString))
      assert(rows(name, Some(bound)) == measured, s"$name differs at clusterMinRows=$bound")
  }
}
