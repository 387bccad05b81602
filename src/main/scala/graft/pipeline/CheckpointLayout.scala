package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeSet
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

import graft.util.Checkpoints

/** Checkpoint a frame so that a `HashPartitioning(key)` + in-partition
  * sort survives into every downstream consumer — the layout a frame
  * needs when it is re-read many times clustered by the same key (an
  * iterative trainer's per-key window, an iterative loop's round joins,
  * a final per-key aggregate).
  *
  * Two Spark realities make this non-trivial:
  *
  *  1. Under AQE, `Dataset.localCheckpoint` captures the adaptive root's
  *     partitioning — `UnknownPartitioning` before the final plan exists —
  *     so the layout is lost. AQE is therefore suspended for just the
  *     checkpoint CAPTURE (checkpoints here are created lazily, so the
  *     window covers planning only, never job execution) — via a
  *     THROWAWAY SESSION CLONE whose conf has AQE off, with the captured
  *     plan re-rooted back onto the caller's session afterwards
  *     (`shims.cloneSessionWithConf`/`reRoot`/`rebindCheckpoint`; see
  *     `captureAqeOff` for why a thread-local SQLConf override cannot
  *     work on 4.1.2). No shared state is ever mutated, so downstream
  *     queries, concurrent threads, and the materializing jobs run with
  *     AQE untouched — pinned by CheckpointLayoutSpec's concurrent
  *     watcher.
  *  2. `LogicalRDD.fromDataset` copies the physical plan's
  *     outputPartitioning/outputOrdering VERBATIM — it rewrites origin
  *     statistics and constraints onto the new output attributes
  *     (`rewriteStatsAndConstraints`) but not the layout. When the
  *     optimizer collapses a redundant alias in the checkpointed subtree
  *     (`RemoveRedundantAliases`: e.g. `col("doc_id").cast("long")
  *     .as("doc_id")` over an already-long column — the cast dies to
  *     SimplifyCasts and the same-name alias dies with it), the physical
  *     output carries the ORIGINAL exprIds while the new LogicalRDD's
  *     output carries the analysis-time ones, so the captured
  *     partitioning references attributes that no longer exist and
  *     EnsureRequirements re-shuffles anyway — silently. Defused
  *     structurally: every column is re-aliased to an internal name
  *     before the repartition (a NAME-CHANGING alias is one
  *     RemoveRedundantAliases must keep) and renamed back above the
  *     checkpoint (ProjectExec is partitioning- and order-preserving
  *     through aliases). A probed double-checkpoint fallback guards
  *     shapes the rename shield cannot cover; it is expected never to
  *     run.
  */
object CheckpointLayout {

  /** Rows of the loop's SLIM evolving side (labels, ranks — one row per
    * node) above which an iterative loop's static frames are worth
    * clustering. Below it the slim side fits AQE's runtime broadcast, so
    * the big side already streams without exchanges and clustering would
    * only ADD a build shuffle and cost the rounds their adaptive plans
    * (measured: +40-70% on the sf0.1 graph-feature bench queries, whose
    * graphs are thousands of nodes). Above it the slim side no longer
    * broadcasts and every round starts re-shuffling the big frame — the
    * regime the layout exists for. 1M rows ≈ 16-24 MB of (id, value)
    * pairs, past the 10 MB default broadcast threshold with headroom;
    * same spirit as connectedComponents' driverEdgeLimit bound. Loops
    * whose slim-side size is unknowable upfront (SSSP's frontier, CC's
    * label set) gate on their big-frame row count as a proxy and say so.
    *
    * Skew trade the clustered regime accepts: the co-partitioned round
    * join loses AQE's runtime skew-splitting, so a celebrity key's
    * partition becomes one long task instead of being split. The
    * per-round AGGREGATES still collapse hot keys map-side before their
    * shuffle (the LPA/PR contract), bounding the damage to the join's
    * probe work; a workload where join skew outweighs the per-round
    * shuffle savings sets the conf high to stay adaptive.
    */
  val ClusterLayoutMinRows = 1000000L

  /** [[ClusterLayoutMinRows]], overridable per session via the
    * `graft.layout.clusterMinRows` conf (0 forces the clustered regime —
    * used by plan-shape specs; a huge value disables it). */
  private def clusterMinRows(spark: SparkSession): Long =
    spark.conf.get("graft.layout.clusterMinRows", ClusterLayoutMinRows.toString).toLong

  /** AQE off for the capture via a THROWAWAY SESSION CLONE, never by
    * mutating the shared session conf. `InsertAdaptiveSparkPlan` reads the
    * plan's OWN session's conf directly (bypassing `SQLConf.get`'s
    * thread-local hook — verified in the 4.1.2 bytecode), so re-rooting
    * the frame under a clone with AQE off compiles the capture
    * non-adaptive while queries planned concurrently by OTHER threads —
    * or later, downstream — keep their adaptive plans: zero shared state,
    * zero exposure window, no lock. `build` runs entirely under the
    * clone; the returned checkpoint's LogicalRDD leaf is re-bound to the
    * caller's session so nothing downstream ever plans against the
    * clone's suspended conf. Spec-pinned both ways (CheckpointLayoutSpec:
    * capture stays usable; a query planned on a second thread mid-window
    * stays adaptive and the session conf never changes). */
  private def captureAqeOff(spark: SparkSession, tagged: DataFrame)(
      build: DataFrame => (DataFrame, Seq[DataFrame])): (DataFrame, Seq[DataFrame]) = {
    val shims = org.apache.spark.sql.graft.shims
    val clone = shims.cloneSessionWithConf(spark, "spark.sql.adaptive.enabled" -> "false")
    val (ck, held) = build(shims.reRoot(tagged, clone))
    (shims.rebindCheckpoint(ck, spark), held)
  }

  private def tag(n: String) = "__ckl_" + n

  /** Core build: tag-shielded clustering checkpoint. Returns the
    * renamed-back frame plus EVERY checkpoint Dataset created (the
    * fallback's inner boundary is unreachable from the returned frame's
    * plan, so the scope must own it under the returned frame or its
    * blocks leak for the session). */
  private def clusteredByImpl(df: DataFrame, key: String,
      distinct: Boolean): (DataFrame, Seq[DataFrame]) = {
    val spark = df.sparkSession
    val names = df.columns.toSeq
    val tagged = df.select(names.map(n => col(n).as(tag(n))): _*)
    // `distinct` rides the clustering shuffle for free: dropDuplicates
    // over an input already hash-partitioned by `key` needs no further
    // exchange (equal full rows share the key, hence the partition).
    // Skew note: a hot key concentrates its rows in one partition here —
    // but any downstream per-key consumer has that profile anyway.
    def shape(base: DataFrame): DataFrame = {
      val clustered = base.repartition(col(tag(key)))
      val deduped = if (distinct) clustered.dropDuplicates() else clustered
      deduped.sortWithinPartitions(col(tag(key)))
    }
    val (ck, held) = captureAqeOff(spark, tagged) { cTagged =>
      val candidate = shape(cTagged).localCheckpoint(false)
      if (layoutIsUsable(candidate)) (candidate, Seq(candidate))
      else {
        // planning-only candidate abandoned (never materialized);
        // rebuild over an exprId-stable LogicalRDD leaf
        val inner = cTagged.localCheckpoint(false)
        val outer = shape(inner).localCheckpoint(false)
        (outer, Seq(outer, inner))
      }
    }
    (ck.select(names.map(n => col(tag(n)).as(n)): _*), held)
  }

  /** `df` checkpointed with `HashPartitioning(key)` + in-partition sort
    * by `key` guaranteed visible downstream. Lazy (materializes on first
    * action), like `localCheckpoint(eager = false)`. `distinct` dedups
    * on the same shuffle. */
  def clusteredBy(df: DataFrame, key: String, distinct: Boolean = false): DataFrame = {
    val (out, held) = clusteredByImpl(df, key, distinct)
    Checkpoints.ownLeaves(out, held)
  }

  /** [[clusteredBy]] for the STATIC frame of an iterative loop: the
    * layout-true checkpoint with its origin statistics DROPPED (the
    * `Barriers.statSafe` contract — an edges/pairs subtree routinely
    * estimates far smaller than it runs, and a tiny estimate makes the
    * static planner broadcast-build the big side of every round's join;
    * with no origin stats the LogicalRDD reports
    * `spark.sql.defaultSizeInBytes`, so only AQE's exact runtime sizes
    * can still elect a broadcast). The open scope owns ALL checkpoint
    * blocks created, the fallback's inner boundary included.
    *
    * The payoff at scale: a loop that joins a static big frame against a
    * slim evolving frame every round stops re-shuffling AND re-sorting
    * the big side per round in the non-broadcast regime — each round
    * exchanges only the slim side. One shuffle of the big frame at build
    * replaces O(rounds) of them.
    */
  def statSafeClusteredBy(df: DataFrame, key: String,
      distinct: Boolean = false): DataFrame = {
    val (out, held) = clusteredByImpl(df, key, distinct)
    Checkpoints.ownLeaves(org.apache.spark.sql.graft.shims.dropOriginStats(out), held)
  }

  /** The small/large decision of an iterative loop, made once from a
    * measured row count against [[clusterMinRows]]. In the clustered
    * regime the loop's static frames are re-laid-out by join key and its
    * joins stream co-partitioned; in the small regime they stay
    * fully adaptive. */
  final case class Regime(clustered: Boolean) {
    def name: String = if (clustered) "clustered" else "small"

    /** Broadcast hint for the side of a per-round join the small regime
      * MEASURED at or under [[ClusterLayoutMinRows]] (≤ 1M rows of 2-3
      * longs ≈ tens of MB — broadcast-safe by measurement): a loop's slim
      * evolving side (PR ranks, LPA labels, the k-core keep set) or
      * SSSP's static edge table. It removes the per-round big-side
      * exchange AQE would otherwise materialize before its own runtime
      * broadcast decision — the wall of a small-regime loop is stage
      * scheduling, not task work (A/B 1.03-1.17×, OPTIMIZATION_r16.md
      * §§1,4). In the clustered regime the hint would broadcast an
      * unbounded frame, so it is the identity and the join keeps its
      * co-partitioned streaming plan. CC stays unhinted by measurement
      * (see `Dedup.connectedComponents`). */
    def hint(df: DataFrame): DataFrame =
      if (clustered) df else org.apache.spark.sql.functions.broadcast(df)
  }

  /** The regime for a loop whose gating side measured `measured` rows.
    * Bound 0 FORCES the clustered regime (the documented conf contract
    * the plan-shape and parity specs rely on), even for an empty frame. */
  def regime(spark: SparkSession, measured: Long): Regime = {
    val bound = clusterMinRows(spark)
    Regime(clustered = bound <= 0 || measured > bound)
  }

  /** The dual-regime step every loop shares: keep the already-measured
    * statSafe frame when `measured` is in the small [[regime]]; past it,
    * re-lay the frame out clustered by `key` off its materialized blocks
    * (one shuffle, no recompute), materialize the copy, and release the
    * original. Returns the frame to loop over and the regime (the caller
    * keys its per-round barriers and hints off it). `measured` should be
    * the SLIM side's row count where the caller knows it (node count);
    * big-frame counts are an accepted proxy where it does not (SSSP
    * frontier, CC labels) — see [[ClusterLayoutMinRows]].
    */
  def statSafeReclusterIfOver(frame0: DataFrame, measured: Long, key: String,
      distinct: Boolean = false): (DataFrame, Regime) = {
    val r = regime(frame0.sparkSession, measured)
    if (!r.clustered) (frame0, r)
    else {
      val c = statSafeClusteredBy(frame0, key, distinct)
      materialize(c)
      Checkpoints.release(frame0)
      (c, r)
    }
  }

  /** Shuffle-free eager materialization: `Dataset.count()` would add a
    * partial-count + SinglePartition exchange job on top of the scan —
    * one pointless shuffle-writing stage PER ROUND in an iterative loop
    * (and noise in any stage-count plan pin). Counting the executed
    * plan's InternalRow RDD runs the captured plan and persists the
    * checkpoint blocks with no aggregation exchange at all. */
  private[pipeline] def materialize(ck: DataFrame): Unit = {
    ck.queryExecution.toRdd.count(); ()
  }

  /** Stat-safe lazy barrier that KEEPS whatever partitioning/ordering the
    * frame already has — no repartition of its own. For frames whose
    * build is already exchange-free over clustered inputs (a window over
    * a [[statSafeClusteredBy]] frame, an iterative round's co-partitioned
    * join output): a plain `Barriers.statSafe` would discard the layout
    * through its RDD re-wrap, and [[statSafeClusteredBy]] would insert a
    * pointless same-key re-shuffle. Same tag/rename exprId shield and
    * AQE-suspended (planning-only) capture as [[clusteredBy]]; no
    * usability probe — if the child has no layout the capture is
    * Unknown/RoundRobin and downstream simply pays its usual exchanges
    * (graceful degradation, never a wrong plan: an unusable captured
    * layout fails requirement checks and gets an exchange, it is never
    * trusted for co-location).
    *
    * CAVEAT the caller accepts: the frame's build plan is CAPTURED with
    * AQE off, so that one query executes non-adaptive when it later
    * materializes. Meant for slim or already-clustered intermediates
    * whose plans are exchange-free or single-aggregate — not for plans
    * that want AQE's runtime broadcast/skew decisions (checkpoint those
    * plainly first, then cluster off the leaf).
    */
  def statSafeKeepingLayout(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val names = df.columns.toSeq
    val tagged = df.select(names.map(n => col(n).as(tag(n))): _*)
    val (ck, _) = captureAqeOff(spark, tagged) { t =>
      val c = t.localCheckpoint(false); (c, Seq(c))
    }
    val out = ck.select(names.map(n => col(tag(n)).as(n)): _*)
    Checkpoints.ownLeaves(org.apache.spark.sql.graft.shims.dropOriginStats(out), Seq(ck))
  }

  /** EAGER layout-keeping round barrier for the clustered regime of an
    * iterative loop — [[statSafeKeepingLayout]] plus the
    * `Barriers.roundBarrier` durability contract: every
    * `Barriers.ReliableEvery`-th round writes a reliable checkpoint that
    * survives executor loss (a localCheckpoint-only chain cannot
    * recompute lost blocks — the CC lesson applied to rank/LPA), other
    * rounds stay on cheap local blocks. The checkpoint is CREATED lazily
    * inside the suspended-AQE window (planning only) and materialized by
    * an explicit count AFTER the conf is restored, so the round's job
    * never executes inside the window; eager-by-count so the PREVIOUS
    * generation can be released as soon as this returns (releasing a
    * reliable round frees nothing — its data lives in files).
    */
  def roundBarrierKeepingLayout(df: DataFrame, round: Int,
      checkpointDir: Option[String]): DataFrame = {
    val spark = df.sparkSession
    val names = df.columns.toSeq
    val tagged = df.select(names.map(n => col(n).as(tag(n))): _*)
    val reliable = checkpointDir.isDefined &&
      round % graft.util.Barriers.ReliableEvery == graft.util.Barriers.ReliableEvery - 1
    val (ck, _) = captureAqeOff(spark, tagged) { t =>
      val c =
        if (reliable) {
          graft.util.Barriers.ensureCheckpointDir(spark.sparkContext, checkpointDir.get)
          t.checkpoint(false)
        } else t.localCheckpoint(false)
      (c, Seq(c))
    }
    if (reliable) {
      // RDD.doCheckpoint re-RUNS the checkpoint-marked RDD after the
      // materializing action to write its files — without a persist the
      // round's full lineage executes twice (the
      // Barriers.roundBarrierCounting lesson). Cache the marked
      // RDD for the window between the two jobs, then drop the blocks:
      // reads afterwards come off the checkpoint files.
      val marked = ck.queryExecution.analyzed.collect {
        case lr: LogicalRDD => lr.rdd
      }
      marked.foreach(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      materialize(ck) // outside the window (the plan is already captured)
      marked.foreach(_.unpersist(blocking = false))
    } else materialize(ck)
    val out = ck.select(names.map(n => col(tag(n)).as(n)): _*)
    Checkpoints.ownLeaves(org.apache.spark.sql.graft.shims.dropOriginStats(out), Seq(ck))
  }

  /** The double-materialization fallback shape, exposed for the spec: an
    * inner lazy checkpoint whose LogicalRDD leaf gives the outer
    * clustering shape a subtree with no aliases to collapse, so the
    * capture is stable by construction. The open scope owns both
    * checkpoints, as on the production fallback path inside
    * [[clusteredBy]]. */
  private[pipeline] def stableBoundaryCheckpoint(df: DataFrame,
      shape: DataFrame => DataFrame): DataFrame = {
    val (ck, held) = captureAqeOff(df.sparkSession, df) { d =>
      val inner = d.localCheckpoint(false)
      val outer = shape(inner).localCheckpoint(false)
      (outer, Seq(outer, inner))
    }
    Checkpoints.ownLeaves(ck, held)
  }

  /** The checkpoint's captured layout references its own output (and is
    * a real partitioning, not Unknown/single-partition degenerate).
    */
  private def layoutIsUsable(ck: DataFrame): Boolean =
    ck.queryExecution.analyzed.collectFirst { case l: LogicalRDD =>
      val out = AttributeSet(l.output)
      val partRefs = l.outputPartitioning match {
        // HashPartitioning is an Expression; Unknown/SinglePartition are not
        case e: org.apache.spark.sql.catalyst.expressions.Expression => e.references
        case _ => AttributeSet.empty
      }
      partRefs.nonEmpty && partRefs.subsetOf(out) &&
        l.outputOrdering.forall(_.references.subsetOf(out))
    }.getOrElse(false)
}
