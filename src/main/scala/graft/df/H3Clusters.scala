package graft.df

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.util.{Barriers, Checkpoints}

/**
 * C5: connected components of neighboring cells (reference
 * `h3_cell_clusters` / `h3_cell_clusters_eq_value`,
 * h3ron-polars/src/algorithm/chunkedarray/cell_clusters.rs:7-81; core
 * union-find h3ron/src/algorithm/cell_clusters.rs:12-151).
 *
 * The reference runs a single-machine union-find over grid-disk probes. At
 * scale that is iterative *label propagation*: every cell starts labeled by
 * itself, each round joins the frontier against the neighbor relation
 * (explode of grid-ring-1, so the join key is the cell id — an equi-join
 * Catalyst shuffles on cell) and adopts the minimum label seen; converged
 * when no label changes. Rounds = component diameter; each round is one
 * shuffle, AQE-sized. Cluster ids are the minimum member cell (stable and
 * deterministic, unlike the reference's arbitrary u32 ids — cluster
 * *membership* is what tests compare, cell_clusters.rs:10-13).
 */
object H3Clusters {

  /** cluster cells into connected components; when `valueCol` is set,
    * neighbors only connect if their values are equal (the `_eq_value`
    * variant). Output: original columns of `df` + `cluster` = min cell id
    * of the component.
    *
    * `fixedRounds = Some(n)` builds n propagation rounds as ONE declarative
    * plan (no driver actions, no checkpoints) — right when the component
    * diameter is known-bounded (each round propagates labels one hop, and
    * min-labels race ahead, so n >= diameter always suffices).
    * `fixedRounds = None` loops to convergence, materializing each round
    * (localCheckpoint) and stopping when no label changes. */
  def cellClusters(df: DataFrame, cellCol: String, valueCol: Option[String] = None,
      fixedRounds: Option[Int] = None, maxIterations: Int = 64,
      checkpointDir: Option[String] = None): DataFrame = {
    val keyCols: Seq[Column] = col(cellCol) +: valueCol.map(col).toSeq
    val keyNames: Seq[String] = cellCol +: valueCol.toSeq
    // null-safe equi-join on the key columns: a plain USING join drops
    // NULL-cell (or NULL-value) rows because NULL = NULL is not true; the
    // contract is that such rows stay as singleton clusters (cluster =
    // their own — possibly NULL — cell id), matching invalid-cell handling
    def joinOnKeys(left: DataFrame, right: DataFrame): DataFrame = {
      val l = left.alias("l"); val r = right.alias("r")
      val cond = keyNames.map(k => col(s"l.$k") <=> col(s"r.$k")).reduce(_ && _)
      l.join(r, cond).select(
        (left.columns.toSeq.map(c => col(s"l.$c")) ++
          right.columns.filterNot(keyNames.contains).map(c => col(s"r.$c"))): _*)
    }
    var labels = df.select(keyCols: _*).distinct()
      .withColumn("cluster", col(cellCol))

    // Message-passing round: every cell sends its label to its ring-1
    // neighbors AND to itself (the self-message preserves the label for
    // isolated cells and makes min(msgs) = least(own, neighbors)); the
    // receiver group key includes the receiver's value, so only
    // equal-value messages merge in the eq-value variant. Two shuffles per
    // round (groupBy + membership join) — the edges-join formulation
    // costs three; the convergence loop adds one more for the
    // pointer-halving self-join, buying O(log diameter) rounds.
    def propagate(current: DataFrame, carryPrev: Boolean = false): DataFrame = {
      // coalesce: an invalid cell's ring is NULL, and exploding NULL would
      // drop the row entirely — the empty-array fallback preserves the
      // self-message so invalid/isolated cells stay as singleton clusters
      val ring = coalesce(h3_grid_ring(col(cellCol), lit(1)),
        array().cast("array<bigint>"))
      val msgs = current.select(
        (explode(array_append(ring, col(cellCol))).as(cellCol) +:
          col("cluster") +: valueCol.map(col).toSeq): _*)
      val agg = msgs.groupBy(keyCols: _*).agg(min(col("cluster")).as("cluster"))
      // restrict to the actual cell set (ring messages spill outside it);
      // carryPrev threads each key's previous label alongside for the
      // zero-extra-action convergence check
      val left =
        if (carryPrev) current.select((keyCols :+ col("cluster").as("__prev")): _*)
        else current.select(keyCols: _*)
      joinOnKeys(left, agg)
    }

    fixedRounds match {
      case Some(n) =>
        (1 to n).foreach(_ => labels = propagate(labels))
        // materialize once: downstream consumers would otherwise re-plan
        // and re-execute the n-round join tree per action
        labels = labels.localCheckpoint(eager = true)
      case None =>
        // pointer halving: a label is itself a member cell's id, so hop
        // once through the representative's own label (value-matched in
        // the eq-value variant — a cluster only ever merges equal values,
        // so the rep row with that value is in the same cluster). Plain
        // propagation converges in O(diameter) rounds, which a snake-
        // shaped cluster (a coastline at fine resolution) can push past
        // any fixed budget; the compression step makes it O(log diameter).
        def compress(relaxed: DataFrame): DataFrame = {
          val reps = relaxed.select(
            (col(cellCol).as("__rep") +:
              valueCol.map(c => col(c).as("__repval")).toSeq :+
              col("cluster").as("__repcluster")): _*)
          val cond = valueCol.foldLeft(col("cluster") === col("__rep"))(
            (c, v) => c && (col(v) <=> col("__repval")))
          relaxed.join(reps, cond, "left")
            .select((keyCols ++ relaxed.columns.filter(_ == "__prev").map(col) :+
              coalesce(col("__repcluster"), col("cluster")).as("cluster")): _*)
        }
        var changed = true
        var iter = 0
        // the superseded label generation is released once the round's
        // action has materialized its successor (the final generation
        // stays — the result join below reads it)
        var labelsGen: Option[DataFrame] = None
        while (changed && iter < maxIterations) {
          // the slim relaxed frame is barrier'd BEFORE the compression
          // self-join: with propagate's join tree on both sides, Catalyst's
          // size-only stats estimation multiplies the unknown-size leaves
          // into astronomically wide BigInts (minutes of Toom-Cook per
          // round); as a leaf, the self-join costs nothing to plan
          val relaxed = Barriers.statSafe(
            propagate(labels, carryPrev = true))
          // checkpointDir upgrades every few rounds to a reliable
          // checkpoint (executor-loss-safe); see graft.util.Barriers.
          // Each key's previous label rides the frame, so change counting
          // shares the materializing job — one action per round where the
          // old exceptAll-vs-prev convergence check paid its own
          // two-shuffle job
          val comp = compress(relaxed)
          val ci = comp.columns.indexOf("cluster")
          val pi = comp.columns.indexOf("__prev")
          val (next, nChanged) = Barriers.roundBarrierCounting(
            comp, iter, checkpointDir)(r => r.get(ci) != r.get(pi))
          (relaxed +: labelsGen.toSeq).foreach(Checkpoints.release)
          labelsGen = Some(next)
          labels = next.drop("__prev")
          changed = nChanged > 0
          iter += 1
        }
        if (changed)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"cellClusters stopped after maxIterations=$maxIterations with labels " +
              "still changing: clusters may be split; raise maxIterations")
        Checkpoints.noteLoop("cellClusters", "none", iter)
    }
    joinOnKeys(df,
      labels.select((col(cellCol) +: valueCol.map(col).toSeq :+ col("cluster")): _*))
  }

  /** C8: aggregate bounding rect of all cells in a column — one row
    * (min_lat, min_lng, max_lat, max_lng) from the per-cell envelopes
    * (reference bounding_rect.rs:7-74). Pure built-in min/max aggregation.
    * `edges = true` treats the column as directed edges (envelope of the
    * edge boundary segment, the reference's edge impl). */
  def boundingRect(df: DataFrame, cellCol: String, edges: Boolean = false): DataFrame = {
    val b = if (edges) h3_edge_bbox(col(cellCol)) else h3_cell_bbox(col(cellCol))
    df.agg(
      min(b.getField("min_lat")).as("min_lat"),
      min(b.getField("min_lng")).as("min_lng"),
      max(b.getField("max_lat")).as("max_lat"),
      max(b.getField("max_lng")).as("max_lng"))
  }
}
