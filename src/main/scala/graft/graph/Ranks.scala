package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.CheckpointLayout
import graft.util.{Barriers, Checkpoints}

/**
 * Link-graph authority ranking — the URL/domain-ranking step of a crawl
 * curation pipeline (Common Crawl publishes exactly this artifact for
 * its host graph; curation recipes weight documents by it).
 *
 * PageRank on the e9 INTEGER lattice: ranks are int64 billionths, and
 * one iteration is
 * `r'(v) = tele + Σ_{u→v} (r(u) * dampNum) div (dampDen * outdeg(u))`
 * with `tele = ((dampDen-dampNum) * 1e9) div (dampDen * n)` — every term
 * integral division of longs, NO floating point anywhere, so the result
 * is bit-identical in any engine and under any partitioning/summation
 * order, and a SQL oracle replays iterations verbatim. (Classic PR
 * normalizes dangling mass; here dangling mass simply decays — fine for
 * RANKING, which only needs the order, and exactly replayable.)
 *
 * Scale shape per iteration: one equi-join of ranks onto the
 * (src-keyed, checkpointed-once) edge+outdeg frame, one map-side-combined
 * sum by dst, one left join back to the node set — all hash-partitioned
 * by node id, no broadcast of anything corpus-sized. Iteration frames
 * pass through [[Barriers.statSafe]] so Catalyst's size-only stats can
 * never elect a stale broadcast inside the loop (the round-9 CC lesson).
 */
object Ranks {

  /** Returns `(node, rank_e9)` for every node appearing as src or dst.
    * `checkpointDir` (clustered regime only): reliable-checkpoint cadence
    * for executor-loss durability, as in connectedComponents. */
  def pageRank(edges: DataFrame, src: Column, dst: Column, iters: Int,
      dampNum: Long = 85L, dampDen: Long = 100L,
      checkpointDir: Option[String] = None): DataFrame =
    rankLoop("pageRank", edges, src, dst, iters, dampNum, dampDen, checkpointDir) { n =>
      (lit(1000000000L / n), lit(((dampDen - dampNum) * 1000000000L) / (dampDen * n)))
    }

  /** The shared iteration of [[pageRank]] / [[personalizedPageRank]]:
    * edge dedup + out-degree frame + node set, then per round one
    * equi-join, one map-side-combined sum by dst, one left join back —
    * statSafe barriers throughout so size-only stats can never elect a
    * stale broadcast inside the loop. `mkInitTele` receives the node
    * count and returns the (initial rank, per-node teleport)
    * expressions — the ONLY place the two ranks differ. */
  private def rankLoop(op: String, edges: DataFrame, src: Column, dst: Column, iters: Int,
      dampNum: Long, dampDen: Long, checkpointDir: Option[String] = None)(
      mkInitTele: Long => (Column, Column)): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum > 0 && dampNum < dampDen, s"need 0 < dampNum < dampDen")
    // Dual-regime layout (the connectedComponents driverEdgeLimit
    // pattern): below ClusterLayoutMinRows nodes, the rank frame
    // broadcasts per round under AQE and the edge frame already streams —
    // the loop stays fully adaptive with plain statSafe barriers. Past
    // the bound nothing broadcasts and every round would re-shuffle the
    // edge frame; the frames are then re-laid-out ONCE off their
    // materialized checkpoints — edges clustered by src (the degree
    // window rides it exchange-free), nodes by node — and round outputs
    // keep their hash(node)+sorted layout through the barrier, making
    // every round's two joins co-partitioned: the ONLY per-round exchange
    // is the map-side-combined contribution sum. Stats are dropped at
    // every barrier in both regimes (the statSafe contract).
    val e0 = Barriers.statSafe(
      edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
        // a NULL endpoint is not an edge (the other graph ops drop them
        // via canonicalEdges' null-propagating comparisons; same contract)
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .distinct())
    val nodes0 = Barriers.statSafe(
      e0.select(col("src").as("node")).unionAll(e0.select(col("dst").as("node")))
        .distinct())
    val n = nodes0.count()
    // empty graph: no nodes to rank (and the teleport would divide by 0).
    // nodes0.count() has already materialized e0's checkpoint blocks, and
    // the returned frame reads only nodes0 — release e0 here or its blocks
    // stay pinned for the session (nodes0 must stay: the result reads it).
    if (n == 0L) {
      Checkpoints.release(e0)
      return nodes0.select(col("node"), col("node").as("rank_e9"))
    }
    val (e, regime) = CheckpointLayout.statSafeReclusterIfOver(e0, measured = n, key = "src")
    val (nodes, _) = CheckpointLayout.statSafeReclusterIfOver(nodes0, measured = n, key = "node")
    val cluster = regime.clustered
    val degFrame = e.withColumn("deg",
      count(lit(1)).over(Window.partitionBy(col("src"))))
    val withDeg =
      if (cluster) CheckpointLayout.statSafeKeepingLayout(degFrame)
      else Barriers.statSafe(degFrame)
    val (init, tele) = mkInitTele(n)
    // clustered regime: rounds are EAGER with the superseded generation
    // released each round (a lazy chain pins every generation for the
    // session) and a reliable checkpoint every ReliableEvery-th round for
    // executor-loss durability — the CC discipline. Small regime keeps
    // the lazy adaptive chain (one job, broadcasts per round).
    var ranks =
      if (cluster) CheckpointLayout.statSafeKeepingLayout(nodes.select(col("node"), init.as("r")))
      else Barriers.statSafe(nodes.select(col("node"), init.as("r")))
    for (round <- 0 until iters) {
      // slim-side hints: in the small regime the rank frame (|nodes|
      // rows, 2 longs) and the aggregated contrib frame are broadcast-safe
      // by measurement — without the hint every round re-exchanges the
      // EDGE frame for the contrib join (AQE only broadcasts after
      // materializing the big side's shuffle stage)
      val contrib = withDeg.join(regime.hint(ranks), withDeg("src") === ranks("node"))
        .select(col("dst").as("node"),
          expr(s"(r * $dampNum) div ($dampDen * deg)").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      val next = nodes.join(regime.hint(contrib), Seq("node"), "left")
        .select(col("node"), (tele + coalesce(col("s"), lit(0L))).as("r"))
      if (cluster) {
        val nr = CheckpointLayout.roundBarrierKeepingLayout(next, round, checkpointDir)
        Checkpoints.release(ranks) // nr is eager: the generation it superseded is dead
        ranks = nr
      } else ranks = Barriers.statSafe(next)
    }
    if (cluster) {
      // the final ranks generation is its own eager checkpoint: the static
      // frames are dead and their blocks can be released now (the small
      // regime's lazy chain still reads them — nothing to release there)
      Seq(e, nodes, withDeg).foreach(Checkpoints.release)
    }
    Checkpoints.noteLoop(op, regime.name, iters)
    ranks.select(col("node"), col("r").as("rank_e9"))
  }

  /**
   * Personalized PageRank (Jeh & Widom, WWW'03): teleport mass returns
   * only to the SEED set, so rank measures proximity to the seeds —
   * the crawl-frontier prioritization / trusted-seed propagation shape
   * (TrustRank, Gyöngyi et al. VLDB'04). Same e9 integer lattice and
   * iteration plan as [[pageRank]] (one join + one map-side-combined
   * sum + one left join per round, nothing corpus-sized broadcast);
   * the seed membership test is a tiny literal IN-list (seeds are a
   * handful of trusted hosts, never corpus-sized — a large seed frame
   * would become a broadcast join on node id, same plan shape).
   */
  def personalizedPageRank(edges: DataFrame, src: Column, dst: Column,
      seeds: Seq[Long], iters: Int,
      dampNum: Long = 85L, dampDen: Long = 100L,
      checkpointDir: Option[String] = None): DataFrame = {
    require(seeds.nonEmpty, "need a non-empty seed set")
    val teleE9 = ((dampDen - dampNum) * 1000000000L) / (dampDen * seeds.length)
    def isSeed = col("node").isin(seeds: _*)
    rankLoop("personalizedPageRank", edges, src, dst, iters, dampNum, dampDen,
        checkpointDir) { _ =>
      (when(isSeed, lit(1000000000L / seeds.length)).otherwise(lit(0L)),
        when(isSeed, lit(teleE9)).otherwise(lit(0L)))
    }
  }
}
