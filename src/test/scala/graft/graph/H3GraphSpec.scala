package graft.graph

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.SparkTestSession
import graft.h3.{H3Core, H3Geo, H3Traversal}

class H3GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // small H3-native chain: a res-8 grid path with unit-ish metric weights
  private lazy val chainCells: Array[Long] = {
    val a = H3Geo.latLngToCell(37.7, -122.45, 8)
    val g = H3Geo.cellToLatLng(a)
    val b = H3Geo.latLngToCell(g.lat + 0.05, g.lng, 8)
    H3Traversal.gridPathCells(a, b)
  }

  private def chainGraph = H3Graph.graphFromCellChain(
    chainCells.zipWithIndex.toSeq.toDF("cell", "ord"), "cell", "ord")

  test("edge-list build keeps minimum weight for duplicate edges (P1)") {
    val df = Seq((1L, 2L, 5.0), (1L, 2L, 3.0), (2L, 3L, 1.0)).toDF("o", "d", "w")
    val g = H3Graph.graphFromEdgeList(df, "o", "d", "w").as[(Long, Long, Double)].collect().toSet
    assert(g == Set((1L, 2L, 3.0), (2L, 3L, 1.0)))
  }

  test("node typing distinguishes origin/destination/both (P2)") {
    val g = H3Graph.graphFromEdgeList(
      Seq((1L, 2L, 1.0), (2L, 3L, 1.0)).toDF("o", "d", "w"), "o", "d", "w")
    val nodes = H3Graph.nodes(g).as[(Long, String)].collect().toMap
    assert(nodes == Map(1L -> "Origin", 2L -> "OriginAndDestination", 3L -> "Destination"))
  }

  test("chain graph: bidirectional H3 edges with metric weights (P13)") {
    val g = chainGraph.collect()
    // each consecutive pair contributes 2 directed edges
    assert(g.length == 2 * (chainCells.length - 1))
    g.foreach { r =>
      val o = r.getLong(0); val d = r.getLong(1)
      assert(H3Traversal.areNeighborCells(o, d))
      val e = r.getLong(2)
      assert(H3Core.isValidDirectedEdge(e) && H3Core.edgeOrigin(e) == o)
      assert(r.getDouble(3) > 50 && r.getDouble(3) < 2000) // res-8 edge metres
    }
  }

  test("shortest path cost equals sum of chain weights; exclusion cuts it (P6/P9)") {
    val lg = H3Graph.localGraph(chainGraph)
    val first = chainCells.head; val last = chainCells.last
    val route = H3Graph.shortestPathsLocal(spark, lg, Seq(first), Seq(last)).collect()
    assert(route.length == 1)
    assert(math.abs(route.head.getDouble(2) - lg.totalUndirectedWeight) < 1e-6)
    assert(route.head.getSeq[Long](3) == chainCells.toSeq)
    // cutting the middle cell makes the end unreachable
    val mid = chainCells(chainCells.length / 2)
    val cut = H3Graph.shortestPathsLocal(spark, lg.excluding(Set(mid)), Seq(first), Seq(last))
    assert(cut.isEmpty)
  }

  test("isochrone flood covers exactly the threshold ball (P8)") {
    val lg = H3Graph.localGraph(chainGraph)
    val mid = chainCells(chainCells.length / 2)
    val all = H3Graph.withinWeightThresholdLocal(spark, lg, Seq(mid), 1e9).count()
    assert(all == chainCells.length)
    // a small threshold keeps a strict subset containing the origin
    val near = H3Graph.withinWeightThresholdLocal(spark, lg, Seq(mid), 600.0)
      .select($"cell").as[Long].collect().toSet
    assert(near.contains(mid) && near.size < chainCells.length)
  }

  test("off-graph origins snap within maxSnapK (P10)") {
    val lg = H3Graph.localGraph(chainGraph)
    val mid = chainCells(chainCells.length / 2)
    val off = H3Traversal.gridRing(mid, 1).filterNot(chainCells.contains).head
    assert(H3Graph.shortestPathsLocal(spark, lg, Seq(off), Seq(chainCells.last)).isEmpty)
    val snapped = H3Graph.shortestPathsLocal(spark, lg, Seq(off), Seq(chainCells.last), maxSnapK = 2)
    assert(snapped.count() == 1)
  }

  test("snapToNode: in-set cell snaps to itself; otherwise nearest ring wins (nearest_graph_nodes.rs fixtures)") {
    val cell = 0x89283080ddbffffL
    // reference nearest_finds_given_cell_first: a disk containing the
    // cell itself yields the cell at k=0
    val disk3 = H3Traversal.gridDisk(cell, 3).toSet
    assert(H3Graph.snapToNode(cell, disk3, 3).contains(cell))
    // reference nearest_finds_all_with_same_k: nodes at rings 2 and 4 —
    // the snap must come from ring 2 (the reference yields all same-k
    // nodes; this engine's snap is the deterministic min of that set)
    val near = H3Traversal.gridRing(cell, 2).take(2)
    val far = H3Traversal.gridRing(cell, 4).take(2)
    val nodes = (near ++ far).toSet
    assert(H3Graph.snapToNode(cell, nodes, 8).contains(near.min))
    // beyond maxK: no snap
    assert(H3Graph.snapToNode(cell, far.toSet, 2).isEmpty)
  }

  test("long-edge contraction: identical costs+paths, O(junctions) settles on deep chains (P5)") {
    // synthetic deep chain 0-1-...-299 with two leaves hanging off the end
    // junction; unit weights (ids need not be H3 cells for the local core)
    val n = 300
    val leafA = 1000L; val leafB = 1001L
    val last = (n - 1).toLong
    val und = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)) ++
      Seq((last, leafA), (last, leafB))
    val edges = und ++ und.map(e => (e._2, e._1))
    val adj: Map[Long, Array[(Long, Double)]] = edges.groupBy(_._1)
      .map { case (o, es) => o -> es.map(e => (e._2, 1.0)).sortBy(_._1).toArray }
    val sc = H3Graph.contractLongEdges(adj)
    // the chain head roots a shortcut spanning the whole chain
    assert(sc.contains(0L) && sc(0L).exists(le => le.dest == last && le.cellPath.length == n))
    // mid-chain cells root nothing (in-count exactly 1)
    assert(!sc.contains(5L))
    // bench note (VERDICT r03 #4): relaxation work drops from O(cells) to
    // O(junctions) — 3 settles vs 300+ on this fixture — at identical cost
    val withSc = H3Graph.dijkstra(adj, sc, 0L, Set(leafA), Double.MaxValue)
    val withoutSc = H3Graph.dijkstra(adj, Map.empty, 0L, Set(leafA), Double.MaxValue)
    assert(withoutSc.size >= n, s"plain dijkstra settled ${withoutSc.size}")
    assert(withSc.size <= 5, s"contracted dijkstra settled ${withSc.size}")
    assert(withSc(leafA)._1 == withoutSc(leafA)._1)
    // end-to-end through the DataFrame API: decompressed path includes
    // every interior chain cell, in order
    val lg = H3Graph.LocalGraph(adj,
      adj.keySet ++ adj.valuesIterator.flatMap(_.map(_._1)), sc)
    val route = H3Graph.shortestPathsLocal(spark, lg, Seq(0L), Seq(leafA)).collect()
    assert(route.length == 1 && route.head.getDouble(2) == n.toDouble)
    assert(route.head.getSeq[Long](3) == ((0 until n).map(_.toLong) :+ leafA))
  }

  test("broadcast-adjacency guard fails fast; iterative SSSP matches Dijkstra (VERDICT r03 #6)") {
    // over-bound graph: actionable error instead of a driver OOM
    val g3 = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0)).toDF("origin", "destination", "weight")
    intercept[IllegalArgumentException] { H3Graph.collectAdjacency(g3, maxEdges = 2) }
    // distributed relaxation: costs identical to broadcast-Dijkstra on the
    // real chain graph, for every (origin, destination) pair
    val lg = H3Graph.localGraph(chainGraph)
    val origins = Seq(chainCells.head, chainCells(2))
    val dests = Seq(chainCells.last, chainCells(1))
    val viaDijkstra = H3Graph.shortestPathsLocal(spark, lg, origins, dests)
      .select($"origin", $"destination", $"cost").as[(Long, Long, Double)].collect().toSet
    val viaIterative = H3Graph.shortestPathsIterative(spark, chainGraph, origins, dests)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaIterative.map(t => (t._1, t._2)) == viaDijkstra.map(t => (t._1, t._2)))
    val dMap = viaDijkstra.map(t => (t._1, t._2) -> t._3).toMap
    viaIterative.foreach { case (o, d, c) =>
      assert(math.abs(c - dMap((o, d))) < 1e-9, s"cost mismatch for ($o,$d)")
    }
    // every relaxation regime converges to the identical fixpoint: the
    // single-hop loop, the default two-hop loop, and the deep-hop loops
    // p114/p116 use to cut round-barrier latency must agree exactly
    for (hops <- Seq(1, 4, 8)) {
      val got = H3Graph.shortestPathsIterative(spark, chainGraph, origins, dests,
        hopsPerRound = hops).as[(Long, Long, Double)].collect().toSet
      assert(got == viaIterative, s"hopsPerRound=$hops and =2 diverged")
    }
  }

  test("iterative SSSP under reliable checkpointing: identical fixpoint, ReliableEvery fires mid-loop") {
    // hopsPerRound=1 forces one round per chain hop, so a chain longer
    // than 2*ReliableEvery guarantees the reliable persist->checkpoint->
    // count->unpersist branch (Barriers.scala) runs MID-loop, not just at
    // the edges; the accumulator must not double-count across the cache +
    // post-action checkpoint jobs or convergence would mis-detect
    val dir = java.nio.file.Files.createTempDirectory("sssp_ck").toString
    // a longer grid path than the shared fixture: > 2*ReliableEvery hops
    val longChain: Array[Long] = {
      val a = H3Geo.latLngToCell(37.7, -122.45, 8)
      val g = H3Geo.cellToLatLng(a)
      H3Traversal.gridPathCells(a, H3Geo.latLngToCell(g.lat + 0.13, g.lng + 0.06, 8))
    }
    assert(longChain.length > 2 * graft.util.Barriers.ReliableEvery)
    val longGraph = H3Graph.graphFromCellChain(
      longChain.zipWithIndex.toSeq.toDF("cell", "ord"), "cell", "ord")
    val origins = Seq(longChain.head)
    val dests = Seq(longChain.last, longChain(longChain.length / 2))
    val plain = H3Graph.shortestPathsIterative(spark, longGraph, origins, dests,
      hopsPerRound = 1).as[(Long, Long, Double)].collect().toSet
    val ck = H3Graph.shortestPathsIterative(spark, longGraph, origins, dests,
      hopsPerRound = 1, checkpointDir = Some(dir)).as[(Long, Long, Double)].collect().toSet
    assert(ck == plain, "reliable-checkpoint run diverged from the local-checkpoint run")
    // and both equal the broadcast-Dijkstra oracle
    val oracle = H3Graph.shortestPaths(spark, longGraph, origins, dests)
      .select($"origin", $"destination", $"cost").as[(Long, Long, Double)].collect().toSet
    assert(ck.map(t => (t._1, t._2)) == oracle.map(t => (t._1, t._2)))
    val om = oracle.map(t => (t._1, t._2) -> t._3).toMap
    ck.foreach { case (o, d, c) => assert(math.abs(c - om((o, d))) < 1e-9) }
    // reliable checkpoint files were actually written
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, "no reliable checkpoint files written")
  }

  test("iterative SSSP path reconstruction matches Dijkstra paths exactly (P12 at scale)") {
    val origins = Seq(chainCells.head, chainCells(2))
    val dests = Seq(chainCells.last, chainCells(1))
    val dir = java.nio.file.Files.createTempDirectory("sssp_paths_ck").toString
    val got = H3Graph.shortestPathsIterativePaths(spark, chainGraph, origins, dests,
      checkpointDir = Some(dir))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getSeq[Long](3))))
      .toMap
    val oracle = H3Graph.shortestPaths(spark, chainGraph, origins, dests)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getSeq[Long](3))))
      .toMap
    // chain graph: shortest paths are unique, so the WALKS must be equal,
    // not just the costs
    assert(got.keySet == oracle.keySet)
    got.foreach { case (k, (cost, path)) =>
      val (ocost, opath) = oracle(k)
      assert(math.abs(cost - ocost) < 1e-9, s"cost mismatch for $k")
      assert(path == opath, s"path mismatch for $k")
    }
    // the single-hop and deep-hop loops reconstruct the identical walks
    // (the fixpoint and the pred chain are hop-count-invariant)
    for (hops <- Seq(1, 4, 8)) {
      val alt = H3Graph.shortestPathsIterativePaths(spark, chainGraph, origins, dests,
        hopsPerRound = hops)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getSeq[Long](3))))
        .toMap
      assert(alt == got, s"hopsPerRound=$hops and =2 path reconstructions diverged")
    }
    // prefix-sum law: walk edge weights sum to the cost
    val ew = chainGraph.select($"origin", $"destination", $"weight")
      .as[(Long, Long, Double)].collect()
      .map { case (o, d, w) => (o, d) -> w }.toMap
    got.foreach { case (_, (cost, path)) =>
      val s = path.sliding(2).map { case Seq(a, b) => ew((a, b)) }.sum
      assert(math.abs(s - cost) < 1e-9)
    }
  }

  test("path reconstruction terminates on zero-weight edges (no pred cycle)") {
    // adversarial shape: two equal-cost nodes joined by zero-weight edges
    // in BOTH directions. A naive min(cost, pred) argmin can flip their
    // preds onto each other (cost unchanged, so no frontier re-entry
    // fixes it) and the backward walk spins to maxRounds. The fold's
    // prio lane keeps the settled pred on ties.
    val x = graft.SparkEntry.Synth.cell(10L, 5)
    val a = graft.SparkEntry.Synth.cell(1L, 5)
    val b = graft.SparkEntry.Synth.cell(2L, 5)
    val c = graft.SparkEntry.Synth.cell(3L, 5)
    val g = Seq(
      (x, a, 1.0), (x, b, 1.0),
      (a, b, 0.0), (b, a, 0.0),
      (a, c, 1.0), (b, c, 1.0)).toDF("origin", "destination", "weight")
    val got = H3Graph.shortestPathsIterativePaths(spark, g, Seq(x), Seq(a, b, c),
      maxRounds = 32)
      .collect().map(r => (r.getLong(1), (r.getDouble(2), r.getSeq[Long](3)))).toMap
    assert(got.keySet == Set(a, b, c))
    assert(got(a)._1 == 1.0 && got(b)._1 == 1.0 && got(c)._1 == 2.0)
    // each walk starts at the origin, ends at its destination, and its
    // edge weights sum to the cost
    val ew = Map((x, a) -> 1.0, (x, b) -> 1.0, (a, b) -> 0.0, (b, a) -> 0.0,
      (a, c) -> 1.0, (b, c) -> 1.0)
    got.foreach { case (dest, (cost, walk)) =>
      assert(walk.head == x && walk.last == dest)
      val walkSum: Double = walk.sliding(2).map { case Seq(p, q) => ew((p, q)) }.sum
      assert(math.abs(walkSum - cost) < 1e-9)
    }
  }

  test("routing to the origin itself: zero cost, empty walk (shortest_path.rs:427-464)") {
    // the reference's micro-graph: ONE directed edge off a res-8 cell,
    // weight 5; destinations = {origin itself, the neighbor}
    val origin = H3Geo.latLngToCell(12.3, 23.3, 8)
    val edge = H3Core.originToDirectedEdges(origin).head
    val dest = H3Traversal.edgeDestination(edge)
    val g = Seq((origin, dest, 5.0)).toDF("origin", "destination", "weight")
    def check(rows: Array[org.apache.spark.sql.Row]): Unit = {
      assert(rows.length == 2)
      val byDest = rows.map(r => r.getLong(1) -> (r.getDouble(2), r.getSeq[Long](3))).toMap
      // self path: cost 0 and an "empty" walk (just the origin — the
      // reference's Path::is_empty means no edges traversed)
      assert(byDest(origin)._1 == 0.0 && byDest(origin)._2 == Seq(origin))
      assert(byDest(dest)._1 == 5.0 && byDest(dest)._2 == Seq(origin, dest))
    }
    check(H3Graph.shortestPaths(spark, g, Seq(origin), Seq(origin, dest)).collect())
    // the distributed path-reconstruction regime agrees
    check(H3Graph.shortestPathsIterativePaths(spark, g, Seq(origin), Seq(origin, dest))
      .collect())
  }

  test("bincode writer rejects non-neighbor edge lists instead of writing corrupt ids") {
    // synthetic Synth-cell graphs route fine in-engine but are NOT
    // grid-adjacent — serializing them would write all-zero edge ids
    val g = Seq((graft.SparkEntry.Synth.cell(0L, 5), graft.SparkEntry.Synth.cell(50L, 5), 1.0))
      .toDF("origin", "destination", "weight")
    val out = java.nio.file.Files.createTempDirectory("bincode_bad")
      .resolve("bad.bincode.lz").toString
    val e = intercept[IllegalArgumentException] {
      graft.sources.bincode.PreparedGraphBincode.writeBincode(g, out)
    }
    assert(e.getMessage.contains("not H3 neighbors"))
  }

  test("single-chain build is guarded by a declared size bound (VERDICT r03 #3)") {
    // the chainCol=None path runs a single-partition window by necessity;
    // a frame beyond the declared bound must fail fast, not silently
    // collapse onto one task at scale
    val df = chainCells.zipWithIndex.toSeq.toDF("cell", "ord")
    intercept[IllegalArgumentException] {
      H3Graph.graphFromCellChain(df, "cell", "ord", maxSingleChainRows = 2)
    }
    // within the bound, results are identical to the unguarded build
    val g = H3Graph.graphFromCellChain(df, "cell", "ord")
    assert(g.count() == 2 * (chainCells.length - 1))
  }

  test("multi-chain build partitions the window per chain (P13 scale path)") {
    // two disjoint chains under one frame; per-chain lag must not pair
    // cells across chains
    val c1 = chainCells.take(5)
    val a2 = H3Geo.latLngToCell(48.85, 2.35, 8)
    val g2 = H3Geo.cellToLatLng(a2)
    val c2 = H3Traversal.gridPathCells(a2, H3Geo.latLngToCell(g2.lat + 0.02, g2.lng, 8))
    val df = (c1.map((_, 1L)) ++ c2.map((_, 2L))).zipWithIndex
      .map { case ((cell, chain), i) => (cell, chain, i) }.toSeq
      .toDF("cell", "chain_id", "ord")
    val g = H3Graph.graphFromCellChain(df, "cell", "ord", chainCol = Some("chain_id"))
    assert(g.count() == 2 * ((c1.length - 1) + (c2.length - 1)))
    // no cross-chain edge: SF and Paris cells never pair
    val crossing = g.filter(
      (col("origin").isin(c1.toSeq: _*) && col("destination").isin(c2.toSeq: _*)) ||
      (col("origin").isin(c2.toSeq: _*) && col("destination").isin(c1.toSeq: _*))).count()
    assert(crossing == 0)
  }

  test("way-table ingestion: analyzer weight mapping + skip of unmapped classes (P13 e2e)") {
    val ways = Seq(
      (1L, Map("highway" -> "primary"), "LINESTRING (-122.45 37.70, -122.42 37.72)"),
      (2L, Map("highway" -> "sidewalk"), "LINESTRING (-122.45 37.70, -122.42 37.72)"))
      .toDF("way_id", "tags", "wkt")
    val g = H3Graph.graphFromWays(ways, col("way_id"), col("wkt"), 8,
      H3Graph.highwayClassWeight(col("tags")), H3Graph.highwayBidirectional(col("tags")))
      .collect()
    assert(g.nonEmpty)
    // the unmapped class is skipped, so every edge carries the primary weight
    g.foreach(r => assert(r.getDouble(3) == 3.0))
    // bidirectional default: both directions present
    val es = g.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(es.forall { case (a, b) => es.contains((b, a)) })
  }

  test("downsample re-anchors at parents, drops intra-cell edges (P4)") {
    val g = chainGraph
    val down = H3Graph.downsample(g, targetRes = 5, combine = "min").collect()
    down.foreach { r =>
      assert(H3Core.getResolution(r.getLong(0)) == 5)
      assert(r.getLong(0) != r.getLong(1))
    }
    // fewer (or equal) edges after coarsening
    assert(down.length <= g.count())
  }

  test("predecessor-broadcast row budget cannot overflow") {
    // default budget 4M rows. 2 × 2^61 × 4 = 2^65 wraps to 0 in Long
    // arithmetic, which the product form of the gate read as in budget
    val huge = 1L << 61
    assert(2L * huge * 4 <= 4000000L)
    def on(edges: Long, origins: Int) = H3Graph.predsHintOn(spark, clustered = false, edges, origins)
    assert(!on(huge, 4) && !on(Long.MaxValue, 1))
    // the boundary is unchanged: 2 × 500000 × 4 == budget; no origins counts as one
    assert(on(500000L, 4) && !on(500001L, 4))
    assert(on(2000000L, 0) && !on(2000001L, 0))
    assert(!H3Graph.predsHintOn(spark, clustered = true, 1L, 1))
  }

  test("round convergence predicates resolve their columns by name") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // fold schema in a different order than the loop builds it
    val improved = H3Graph.improvedRow(StructType(Seq(StructField("__old", DoubleType),
      StructField("src", LongType), StructField("cost", DoubleType), StructField("cell", LongType))))
    assert(improved(Row(null, 1L, 5.0, 2L)))   // first reach
    assert(improved(Row(6.0, 1L, 5.0, 2L)))    // strictly cheaper
    assert(!improved(Row(5.0, 1L, 5.0, 2L)) && !improved(Row(4.0, 1L, 5.0, 2L)))
    val active = H3Graph.walkActiveRow(StructType(Seq(StructField("cur", LongType),
      StructField("path", ArrayType(LongType)), StructField("src", LongType))))
    assert(active(Row(7L, Seq(7L), 3L)) && !active(Row(3L, Seq(7L, 3L), 3L)))
  }
}
