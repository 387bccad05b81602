package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge for Spark 4.x, where the classic helpers are
  * `private[sql]`. This is the only file that lives inside the Spark
  * namespace; everything else is plain public API. */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def aggColumn(f: AggregateFunction): Column =
    ExpressionUtils.column(f.toAggregateExpression())
  def aggColumnDistinct(f: AggregateFunction): Column =
    ExpressionUtils.column(f.toAggregateExpression(isDistinct = true))

  /** Spark's `WRONG_NUM_ARGS` analysis error (`QueryCompilationErrors` is private[sql]). */
  def wrongNumArgs(name: String, expected: Int, actual: Int): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors.wrongNumArgsError(name, Seq(expected), actual)

  /** Codegen'd bloom probe: `BloomFilterMightContain` over a pre-built
    * sketch serialized into a foldable binary literal. Replaces the Scala
    * UDF probe (`udf(h => bf.mightContainLong(h))`), whose non-codegen
    * boundary split the whole-stage span around every bloom-gated filter:
    * the expression deserializes the sketch ONCE per codegen instance
    * (transient lazy on the expression object) and probes inline in
    * generated code. `hash` must be a 64-bit hash column (the expression
    * probes with `mightContainLong`; pair it with `xxhash64` exactly like
    * the UDF did). Needs this namespace only for uniformity — the
    * expression class itself is public catalyst API used by Spark's own
    * runtime row-level filtering. */
  def bloomMightContain(bf: org.apache.spark.util.sketch.BloomFilter, hash: Column): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(
        bos.toByteArray, org.apache.spark.sql.types.BinaryType),
      expression(hash)))
  }

  /** Drop the origin statistics (and constraints) carried by every
    * LogicalRDD in `df`'s plan while KEEPING the captured
    * outputPartitioning/outputOrdering — the stats-reset every iterative
    * loop needs (`Barriers.statSafe` semantics: with no origin stats the
    * leaf reports `spark.sql.defaultSizeInBytes`, so only AQE's exact
    * runtime sizes can elect a broadcast), without the public
    * `createDataFrame(rdd, schema)` re-wrap that discards the layout.
    * Needs this namespace for `Dataset.ofRows` (private[sql]). */
  def dropOriginStats(df: DataFrame): DataFrame = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // NOT a `transform`: a LogicalRDD differing only in its second
    // (curried) parameter list is case-EQUAL to the original, so
    // TreeNode's fastEquals change detection would silently keep the old
    // node. Rebuild the expected shapes (the leaf, optionally under
    // projections) by explicit construction; unexpected shapes pass
    // through unchanged (keeping their stats) rather than failing.
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        new org.apache.spark.sql.execution.LogicalRDD(
          l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
          l.isStreaming, l.stream)(session, None, None)
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
        pr.copy(child = strip(pr.child))
      case other => other
    }
    org.apache.spark.sql.classic.Dataset.ofRows(session, strip(df.queryExecution.analyzed))
  }

  /** A THROWAWAY clone of `spark` (same SparkContext, shared state, and
    * registered functions; independent copied conf) with `pairs` set —
    * the only way to plan ONE query under a conf override without
    * mutating anything shared. A thread-local `SQLConf.withExistingConf`
    * override does NOT work for the AQE gate: `InsertAdaptiveSparkPlan`
    * overrides `conf` to read `adaptiveExecutionContext.session
    * .sessionState.conf` DIRECTLY (verified in the 4.1.2 bytecode),
    * bypassing `SQLConf.get`'s thread-local hook. Planning a frame
    * re-rooted under the clone sees the override through that exact
    * path; the original session and every other thread are untouched.
    * Needs this namespace for `cloneSession` (private[sql]). */
  def cloneSessionWithConf(spark: SparkSession, pairs: (String, String)*): SparkSession = {
    val clone = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    pairs.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  /** `df`'s ANALYZED plan re-rooted under `target` (a
    * [[cloneSessionWithConf]] clone): subsequent planning/execution of the
    * returned frame reads the target's conf. The analyzed (not raw) plan
    * skips re-analysis, so resolution cannot drift between sessions. */
  def reRoot(df: DataFrame, target: SparkSession): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      target.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.analyzed)

  /** A checkpoint Dataset created under a throwaway clone, re-bound to
    * `target`: the LogicalRDD leaf is rebuilt with the target session and
    * the leaf's current stats carried over (origin constraints dropped —
    * none of the capture paths rely on them). Downstream queries rooted
    * at the result plan under `target`'s conf (AQE on), not the clone's.
    * Non-LogicalRDD-rooted plans would indicate a Spark behavior change:
    * fail fast rather than silently keep a frame whose downstream
    * planning reads the clone's suspended conf. */
  def rebindCheckpoint(ck: DataFrame, target: SparkSession): DataFrame = {
    val session = target.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plan = ck.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        new org.apache.spark.sql.execution.LogicalRDD(
          l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
          l.isStreaming, l.stream)(session, Some(l.stats), None)
      case other => throw new IllegalStateException(
        s"checkpoint plan is not a LogicalRDD leaf: ${other.getClass.getName}")
    }
    org.apache.spark.sql.classic.Dataset.ofRows(session, plan)
  }
}
