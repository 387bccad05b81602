package graft.util

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of the checkpoint blocks that [[Barriers]] and
  * `CheckpointLayout` pin, by the loan pattern:
  *
  * {{{
  * Checkpoints {
  *   val ranks = Ranks.pageRank(edges, col("src"), col("dst"), iters = 20)
  *   ranks.write.parquet(out)
  * } // every block the call pinned is released here
  * }}}
  *
  * While a scope is open on the calling thread it owns every checkpoint
  * created on that thread and releases them all when it exits, normally
  * or not. A frame read after its scope exited is dead: its lineage is
  * truncated at the released blocks, so write it out or collect it
  * inside. With no scope open, checkpoints stay pinned for the session
  * (harnesses sweep them between queries).
  *
  * Either way, [[release]] frees one superseded generation early: an
  * iterative loop releases round N-1's frame once round N has
  * materialized, so the blocks held at any moment are one generation,
  * not one per round.
  *
  * Ownership is keyed on the frame a barrier RETURNED, not on `frame.rdd`:
  * the re-wrapped frame's RDD is a conversion over the persisted one. */
object Checkpoints {

  /** One iterative operator a scope saw: its name, the regime it ran in
    * (`small`, `clustered`, `driver`, or `none` for a loop with no regime
    * decision) and the rounds it ran. */
  final case class Loop(op: String, regime: String, rounds: Int)

  private final class Scope {
    val held = mutable.ArrayBuffer.empty[DataFrame]
    val loops = mutable.ArrayBuffer.empty[Loop]
  }

  private val scopes = ThreadLocal.withInitial[List[Scope]](() => Nil)

  // frame -> the persisted RDDs behind it. Weak keys: an unscoped frame
  // nobody releases takes its entry with it when it is collected.
  private val blocks = new java.util.WeakHashMap[DataFrame, Seq[RDD[_]]]()

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Runs `body` in a new scope and releases every checkpoint created on
    * this thread meanwhile when it exits. Scopes nest: the innermost owns. */
  def apply[T](body: => T): T = recording(body)._1

  /** [[apply]] that also returns the loops the scope saw, in order. */
  def recording[T](body: => T): (T, Seq[Loop]) = {
    val scope = new Scope
    scopes.set(scope :: scopes.get)
    try {
      val out = body
      (out, scope.loops.toList)
    } finally {
      scopes.set(scopes.get.tail)
      scope.held.foreach(release)
    }
  }

  /** Registers `frame` as the owner of `rdds` (the persisted RDDs behind
    * it) with the innermost open scope; returns `frame`. */
  private[graft] def own(frame: DataFrame, rdds: Seq[RDD[_]]): DataFrame = {
    blocks.synchronized(blocks.put(frame, rdds))
    scopes.get.headOption.foreach(_.held += frame)
    frame
  }

  /** [[own]] for checkpoint Datasets: the RDDs behind their `LogicalRDD`
    * leaves. */
  private[graft] def ownLeaves(frame: DataFrame, checkpoints: Seq[DataFrame]): DataFrame =
    own(frame, checkpoints.flatMap(_.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd
    }))

  /** Unpersists the blocks behind `frame` now. Call only once every
    * consumer of the frame has materialized: the lineage behind the blocks
    * is truncated, so a later read fails instead of recomputing. A frame
    * no barrier returned, or one already released, is a no-op. A failed
    * unpersist leaks the blocks and logs a warning; it never fails the
    * caller. */
  def release(frame: DataFrame): Unit =
    Option(blocks.synchronized(blocks.remove(frame))).getOrElse(Nil).foreach { rdd =>
      try rdd.unpersist(blocking = false)
      catch { case NonFatal(e) =>
        log.warn(s"checkpoint release leaked RDD ${rdd.id}: ${e.getClass.getName}: ${e.getMessage}")
      }
    }

  /** Records that `op` ran `rounds` rounds in `regime`, for the innermost
    * open scope (no-op without one). */
  private[graft] def noteLoop(op: String, regime: String, rounds: Int): Unit =
    scopes.get.headOption.foreach(_.loops += Loop(op, regime, rounds))
}
