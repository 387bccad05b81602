package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Triangle counting and local clustering coefficients on a link graph —
 * the community-structure / spam-farm signal of crawl curation (a link
 * farm is a near-clique: anomalously high clustering at high degree).
 *
 * Algorithm: degree-ordered orientation (Latapy 2008 "compact-forward";
 * the NodeIterator++ MapReduce shape of Suri & Vassilvitskii, WWW'11).
 * Each undirected edge is directed from its lower-rank endpoint to its
 * higher-rank endpoint, rank = (degree, id). Wedges are then built only
 * at each triangle's LOWEST-rank apex — a self-join of the oriented
 * edge list on the source — and closed against the canonical edge set.
 *
 * Why this survives 100 TB: the naive wedge count is Σ deg(v)², which a
 * single celebrity node turns into 10¹⁴ candidates; after orientation
 * it is Σ outdeg(v)² with outdeg bounded by O(√m) on ANY graph (a node
 * of oriented out-degree d has d higher-rank neighbors, each of degree
 * ≥ d, so d² ≤ 2m) — the skew is structurally capped, no salting
 * needed. All three joins are hash-partitioned equi-joins on node ids;
 * nothing is broadcast, nothing is collected; each triangle is emitted
 * exactly once (at its apex, arms ordered by id).
 */
object Triangles {

  /** Canonical undirected edge set: `(u, v)` with `u < v`, loops
    * dropped, duplicates (either direction) collapsed. */
  def canonicalEdges(edges: DataFrame, src: Column, dst: Column): DataFrame =
    edges.select(least(src, dst).cast("long").as("u"),
        greatest(src, dst).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /**
   * Per-node triangle stats: `(node, degree, n_tri, lcc_e6)` — degree
   * in the simple undirected graph, the number of triangles through
   * the node, and the local clustering coefficient on the e6 integer
   * lattice, `(2·n_tri·1e6) div (degree·(degree−1))` (0 for degree<2).
   */
  def nodeTriangles(edges: DataFrame, src: Column, dst: Column): DataFrame = {
    // barriers: the canonical edge set feeds THREE consumers (degree
    // derivation, orientation, wedge closure) and the degree frame two;
    // without them every consumer re-derives the distinct from the raw
    // scan (measured 26 scans of the source in one plan)
    val e = graft.util.Barriers.statSafe(canonicalEdges(edges, src, dst))
    val deg = graft.util.Barriers.statSafe(
      e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg")))

    // orient low rank -> high rank, rank = (deg, id)
    val du = deg.select(col("n").as("u"), col("deg").as("du"))
    val dv = deg.select(col("n").as("v"), col("deg").as("dv"))
    val oriented = graft.util.Barriers.statSafe(
      e.join(du, Seq("u")).join(dv, Seq("v"))
        .select(
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("a"),
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("v"))
            .otherwise(col("u")).as("b")))

    // wedges at the apex: two oriented out-edges of a, arms id-ordered
    // so each unordered arm pair appears once
    val o1 = oriented.select(col("a"), col("b").as("b1"))
    val o2 = oriented.select(col("a"), col("b").as("b2"))
    val wedges = o1.join(o2, Seq("a")).filter(col("b1") < col("b2"))

    // close against the canonical edge set ({b1,b2} with b1 < b2 is
    // already in canonical form)
    val tris = wedges.join(e,
      wedges("b1") === e("u") && wedges("b2") === e("v"))
      .select(col("a"), col("b1"), col("b2"))

    val perNode = tris
      .select(explode(array(col("a"), col("b1"), col("b2"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("n_tri"))

    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("node"), col("deg").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("lcc_e6",
        when(col("degree") < 2, lit(0L))
          .otherwise(expr("(2 * n_tri * 1000000) div (degree * (degree - 1))")))
  }

  /** Global triangle count (each triangle once). */
  def globalTriangles(edges: DataFrame, src: Column, dst: Column): DataFrame =
    nodeTriangles(edges, src, dst)
      .agg((sum(col("n_tri")) / lit(3)).cast("long").as("n_triangles"),
        count(lit(1)).as("n_nodes"))

  /**
   * Link prediction by common neighbors: for every NON-edge pair with
   * ≥ `minCommon` shared neighbors, the common-neighbor count and the
   * Adamic–Adar score `Σ_w 1/ln(deg w)` (Adamic & Adar 2003) on the e6
   * integer lattice (each term floor-quantized before the sum, so the
   * aggregation order cannot change the result — the LM-score
   * discipline). The recommend-an-edge / find-missing-link op.
   *
   * Scale note: candidate pairs form at the wedge MIDDLE, so the cost
   * is Σ deg(w)² — inherent to common-neighbor scoring (every pair
   * scored IS a wedge). A celebrity hub contributes ~0 to Adamic–Adar
   * (1/ln(deg) → 0) while dominating the wedge count, so `maxDegree`
   * excludes hubs as wedge MIDDLES (they remain scoreable endpoints):
   * common-neighbor counts then count sub-cap shared neighbors only —
   * the standard production semantics, and it bounds the pair blowup
   * at nodes·cap² by construction (measured: uncapped, a 30×
   * user-multiplied probe graph OOMs a 128 GB JVM on the ~900×
   * wedge inflation; capped, the wedge frame grows with NODES).
   *
   * `maxDegree` has no default: the bounded-buffer guarantee below (a
   * middle's aggregation buffer holds at most maxDegree+1 ids, never
   * its true neighbor set) holds only for a finite cap. With
   * `Long.MaxValue`, capK saturates at Int.MaxValue and a celebrity
   * middle's full distinct neighbor set materializes in one boxed
   * TreeSet buffer — a per-task OOM cliff the old self-join shape did
   * not have (it blew up in wedge COUNT, not in a single group's
   * buffer). At corpus scale pass a finite cap (the declared queries
   * use 1000); uncapped is for exact small-graph law checks only.
   */
  def commonNeighborScores(edges: DataFrame, src: Column, dst: Column,
      minCommon: Long, maxDegree: Long): DataFrame = {
    val e = graft.util.Barriers.statSafe(canonicalEdges(edges, src, dst))
    // ONE bounded groupBy replaces the former degree aggregate + degree
    // join + adjacency self-join (4 exchanges -> 2): a middle's sorted
    // neighbor list IS its degree (canonical edges are distinct and
    // loop-free), and the Adamic–Adar term depends only on deg(w), so it
    // is one constant per group, not a per-adjacency-row column. The
    // bounded min-k aggregate keeps the cap's scale guarantee — a
    // celebrity middle's buffer holds maxDegree+1 ids, never its true
    // neighbor set, and map-side combine means the exchange carries at
    // most cap+1 ids per (map partition, middle) where the old shape
    // shuffled every adjacency row twice. Overflowing middles (size =
    // cap+1) are dropped exactly as the old deg-filter dropped them.
    val capK =
      if (maxDegree >= Int.MaxValue - 1) Int.MaxValue else (maxDegree + 1).toInt
    val grouped = e.select(col("u").as("w"), col("v").as("nb"))
      .unionAll(e.select(col("v").as("w"), col("u").as("nb")))
      .groupBy(col("w"))
      .agg(graft.functions.collect_min_k(col("nb"), capK).as("nbs"))
      .filter(size(col("nbs")) >= 2 &&
        size(col("nbs")).cast("long") <= lit(maxDegree))
      // per-term quantization: floor(1e6 / ln(deg) + 0.5); deg >= 2 here,
      // so ln never hits 0 (deg-1 middles form no pair and are skipped)
      .select(col("nbs"),
        floor(lit(1000000.0) / log(size(col("nbs")).cast("double")) + 0.5)
          .cast("long").as("aa_e6"))
    // two-level explode streams each middle's ordered pairs (u < v by the
    // aggregate's ascending sort) through codegen with O(cap) task memory
    // — the Dedup streamed-explode pattern, replacing the deg² join rows
    val wedges = grouped
      .select(col("nbs"), col("aa_e6"),
        posexplode(col("nbs")).as(Seq("__i", "u")))
      .select(col("u"),
        explode(slice(col("nbs"), col("__i") + lit(2), size(col("nbs"))))
          .as("v"),
        col("aa_e6"))
    wedges.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"), sum(col("aa_e6")).as("adamic_adar_e6"))
      .filter(col("n_common") >= minCommon)
      .join(e, Seq("u", "v"), "left_anti") // only NON-edges: predictions
  }
}
