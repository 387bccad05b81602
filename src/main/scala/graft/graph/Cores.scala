package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Barriers

/**
 * Bounded-round k-core peeling (Seidman 1983; the distributed peel of
 * Montresor et al. 2013) — the "dense-core" signal of link-graph
 * curation: a k-core surviving high k is a tightly-linked cluster
 * (forum, wiki farm, link ring) that mixing rules treat as one source.
 *
 * Each round removes every node whose CURRENT degree is below `k`
 * (synchronously — all of a round's degrees are measured before any
 * removal), then drops edges touching removed nodes. A fixed `rounds`
 * budget makes the operator a finite relational program: identical
 * results in any engine, SQL oracle unrolls rounds verbatim. (The true
 * k-core is the fixpoint; on real graphs peeling converges in a few
 * rounds — the loop detects the fixpoint from the per-round survivor
 * count and skips the remaining no-op rounds, so a generous budget
 * costs nothing.)
 *
 * Scale shape per round: one degree aggregate (map-side combinable)
 * and two semi-joins of the edge frame against the slim survivor set,
 * all hash-partitioned on node ids; the edge frame only ever SHRINKS.
 */
object Cores {

  /** Nodes of the `rounds`-round k-core: `(node, degree)` with the
    * degree measured in the surviving subgraph.
    *
    * Rounds are EAGER with the superseded edge generation's blocks freed
    * as soon as its successor is materialized — the lazy chain this
    * replaced pinned every generation (`rounds` × edge-frame memory, the
    * r14 layout lesson, SURVEY §15) for the session. The row count rides
    * the materializing job's accumulator for free and doubles as a
    * FIXPOINT exit: `e` only ever shrinks under the semi-joins, so an
    * unchanged count means an unchanged set and every remaining round is a no-op —
    * results are identical to running the full budget (spec-pinned).
    * `checkpointDir` gives the loop the same executor-loss durability
    * cadence as CC/LPA/PR (a reliable file checkpoint every
    * [[Barriers.ReliableEvery]]-th round; local blocks otherwise). */
  def kCore(edges: DataFrame, src: Column, dst: Column, k: Int,
      rounds: Int, checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1 and rounds >= 1, got $k/$rounds")
    var (e, freeE) = Barriers.statSafeFreeable(Triangles.canonicalEdges(edges, src, dst))
    var prevRows = -1L
    var round = 0
    var fixpoint = false
    while (round < rounds && !fixpoint) {
      val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      val (keep, freeKeep) = Barriers.statSafeFreeable(
        deg.filter(col("deg") >= k).select(col("n")))
      // slim-side hint (CheckpointLayout.slimHint): this loop has no
      // upfront regime gate (the edge frame only shrinks), so the previous
      // round's measured row count stands in — round 0 runs unhinted, and
      // from round 1 the keep set (≤ distinct nodes ≤ 2× the measured
      // edges) broadcasts when the survivors are measured under the
      // cluster bound. A shrinking frame can only ENTER the hinted regime.
      // ONE broadcast frame serves BOTH semi-joins: the u- and v-joins
      // reference the same subtree, so exchange reuse builds the keep
      // set's broadcast once per round (the former per-side `.as(c)`
      // aliases made the subtrees canonically distinct and the broadcast
      // was built twice — the r16 advisor's finding).
      val bound = graft.pipeline.CheckpointLayout.clusterMinRows(e.sparkSession)
      val big = prevRows < 0 || bound <= 0 || prevRows > bound
      val hintedKeep = graft.pipeline.CheckpointLayout.slimHint(keep, clustered = big)
      val (next, nRows, freeNext) = Barriers.roundBarrierCountingFreeable(
        e.join(hintedKeep, col("u") === col("n"), "leftsemi")
          .join(hintedKeep, col("v") === col("n"), "leftsemi")
          .select(col("u"), col("v")), round, checkpointDir)(_ => true)
      // next is materialized: the round's survivor set and the previous
      // edge generation are dead (the final generation is never freed —
      // the caller's result reads it)
      freeKeep(); freeE()
      e = next; freeE = freeNext
      fixpoint = nRows == prevRows
      prevRows = nRows
      round += 1
    }
    e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("degree"))
      .select(col("n").as("node"), col("degree"))
  }
}
