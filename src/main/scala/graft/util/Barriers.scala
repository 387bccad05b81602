package graft.util

import org.apache.spark.sql.{DataFrame, Row}

/** Lineage barriers for iterative DataFrame loops (distributed connected
  * components, label propagation, SSSP relaxation). Each round must cut
  * lineage or the plan doubles per iteration; `localCheckpoint` does that
  * but at executor-block durability only — an executor loss mid-iteration
  * invalidates its blocks AND the truncated lineage can no longer
  * recompute them, killing the job. On long 100-TB runs the loops
  * therefore accept an optional reliable-checkpoint directory (HDFS/S3):
  * every [[ReliableEvery]]-th round writes a reliable `checkpoint` that
  * survives executor death (Spark documents reliable checkpointing for
  * exactly this long-lineage iterative case); intermediate rounds stay on
  * the cheap local path, bounding re-computation after a failure to at
  * most [[ReliableEvery]] rounds. Without a directory every round uses
  * `localCheckpoint` — the fast single-box default. */
object Barriers {
  /** Cadence of reliable checkpoints within an iterative loop. */
  val ReliableEvery = 5

  /** Install `dir` as the session's reliable-checkpoint directory unless
    * it already points there. The previous only-if-empty policy silently
    * kept writing to whatever directory the FIRST loop of a long-lived
    * session installed — a later caller's explicit `checkpointDir` was
    * ignored. `getCheckpointDir` returns the installed path plus a random
    * UUID child, hence the containment test. */
  private[graft] def ensureCheckpointDir(sc: org.apache.spark.SparkContext, dir: String): Unit = {
    // the installed dir is `setCheckpointDir`'s argument plus a random
    // UUID child, so compare the PARENT of the current dir — a bare
    // prefix test would false-positive on siblings sharing a string
    // prefix (/data/ckpt vs /data/ckpt-old). Scheme/authority must match
    // too when the request specifies one (hdfs:// vs file:/ are
    // different filesystems at the same path).
    val want = new org.apache.hadoop.fs.Path(dir)
    val matches = sc.getCheckpointDir.exists { cur =>
      val parent = new org.apache.hadoop.fs.Path(cur).getParent
      parent != null &&
        parent.toUri.getPath == want.toUri.getPath &&
        (want.toUri.getScheme == null ||
          (want.toUri.getScheme == parent.toUri.getScheme &&
            want.toUri.getAuthority == parent.toUri.getAuthority))
    }
    if (!matches) sc.setCheckpointDir(dir)
  }

  /** The re-wrapped frame over checkpoint `cp`, owned by the open
    * [[Checkpoints]] scope.
    *
    * The checkpointed frame is re-wrapped from its RDD to RESET plan
    * statistics: `Dataset.checkpoint`/`localCheckpoint` rewrite the
    * origin plan's estimated stats onto the new `LogicalRDD` leaf, and
    * size-only estimation multiplies child sizes through every join — so
    * an iterative loop compounds sizeInBytes exponentially round over
    * round. The estimate is a BigInt: after ~20 rounds it carries
    * millions of bits and Catalyst burns MINUTES per round inside
    * BigInteger Toom-Cook multiplication (observed on a 120-cell snake
    * cluster). Rebuilding from the RDD gives the leaf the constant
    * `spark.sql.defaultSizeInBytes`, bounding planning cost for any
    * number of rounds; the blocks behind the RDD are untouched, and
    * these slim per-round label frames never want stats-driven broadcast
    * decisions anyway.
    *
    * A loop that supersedes a full-size frame every round (SSSP
    * best-cost table) hands the previous generation to
    * [[Checkpoints.release]] once the next one has materialized. */
  private def rewrap(cp: DataFrame): DataFrame =
    Checkpoints.ownLeaves(cp.sparkSession.createDataFrame(cp.rdd, cp.schema), Seq(cp))

  /** Lazy `localCheckpoint` that KEEPS the origin plan's statistics, owned
    * by the open [[Checkpoints]] scope: the staging barrier for a small
    * intermediate that feeds several consumers (each would otherwise
    * re-run its whole subtree). */
  def localCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = false)
    Checkpoints.ownLeaves(cp, Seq(cp))
  }

  /** Stat-safe lazy barrier: `localCheckpoint(eager = false)` + re-wrap
    * from the RDD. A plain lazy localCheckpoint KEEPS the origin plan's
    * estimated statistics — and a pairs/edges subtree (distinct over an
    * exploded band join) routinely estimates far SMALLER than it runs,
    * which lets the static planner elect a BroadcastHashJoin whose build
    * side is actually tens of millions of rows: measured as a
    * rebuilt-every-round 10M-row broadcast inside connected components
    * (248 s of p61's 30× probe) and an outright
    * `notEnoughMemoryToBuildAndBroadcastTable` failure on p62 at 30×. The
    * RDD re-wrap resets the leaf to `spark.sql.defaultSizeInBytes` (huge),
    * so only AQE's RUNTIME sizes — which are exact — can still choose a
    * broadcast. Use for any frame whose size estimate is untrustworthy
    * and that feeds a join. */
  def statSafe(df: DataFrame): DataFrame = rewrap(df.localCheckpoint(eager = false))

  /** EAGER [[statSafe]]: the blocks exist before this returns, so the
    * PREVIOUS generation can be released immediately after. For
    * foreachBatch loops that supersede a cumulative frame every epoch
    * (streaming triangle counting's accumulated graph) — without
    * releasing, every epoch's blocks survive for the stream's lifetime. */
  def generation(df: DataFrame): DataFrame = rewrap(df.localCheckpoint(eager = true))

  /** Cut lineage for `df` at iteration `round` (0-based), eagerly, and
    * count the rows matching `changed`. Every [[ReliableEvery]]-th round
    * writes a reliable checkpoint when `checkpointDir` is set (an existing
    * session checkpoint dir is respected; otherwise `checkpointDir` is
    * installed on first reliable use); other rounds use `localCheckpoint`,
    * owned by the open [[Checkpoints]] scope.
    *
    * The count rides the SAME job that materializes the checkpoint, via
    * an accumulator threaded through the row stream. A loop's convergence
    * check then costs zero extra actions per round (previously: one
    * materializing action + one count action; the count scan is cheap
    * but on slim label frames per-round job overhead IS the loop cost —
    * measured 5.6 s of p62's 7.4 s at sf0.1).
    *
    * Accumulator semantics under task retries are at-least-once, so the
    * count may OVER-state on a retried task — which only keeps the loop
    * iterating (safe); it can never under-state, and `0` is exact, so
    * convergence (`changed == 0`) is never declared early. The reliable-
    * checkpoint cadence pays its usual second job every
    * [[ReliableEvery]]-th round (RDD `checkpoint` re-runs lineage after
    * the action); intermediate rounds are exactly one job. */
  def roundBarrierCounting(df: DataFrame, round: Int,
      checkpointDir: Option[String])(changed: Row => Boolean): (DataFrame, Long) = {
    val spark = df.sparkSession
    val acc = spark.sparkContext.longAccumulator(s"graft.changed.r$round")
    val marked = df.rdd.map { r => if (changed(r)) acc.add(1L); r }
    checkpointDir match {
      case Some(dir) if round % ReliableEvery == ReliableEvery - 1 =>
        ensureCheckpointDir(spark.sparkContext, dir)
        // cache first so the post-action reliable-checkpoint job re-reads
        // blocks instead of re-running lineage (and double-counting acc)
        marked.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        marked.checkpoint()
        marked.count()
        marked.unpersist(blocking = false) // reads now come off checkpoint files
        (spark.createDataFrame(marked, df.schema), acc.value)
      case _ =>
        marked.localCheckpoint()
        marked.count()
        (Checkpoints.own(spark.createDataFrame(marked, df.schema), Seq(marked)), acc.value)
    }
  }
}
