package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal accessor for the `private[sql]` Dataset constructor — the
  * standard pattern for libraries that introduce their own logical plan
  * nodes (a custom node has no public entry point into a DataFrame).
  * Everything else in graft uses only public API; this file exists solely
  * so graft.plans.AsofJoin and graft.plans.GraftMergeInto can hand their
  * custom logical plans to the session. */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-tag a computed batch DataFrame as a STREAMING one — the contract of
    * the v1 `Source.getBatch` API (the execution engine asserts
    * isStreaming; every in-tree v1 source builds its batches through the
    * same `internalCreateDataFrame(…, isStreaming = true)`). Used by
    * graft.sources.ReplicaChangeSource, whose batches are version-diff
    * computations rather than file scans. */
  def asStreaming(spark: SparkSession, df: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** Column ⇄ Expression for custom scalar expressions that need no
    * function-registry round-trip (graft.functions.PinnedKey). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Block until every listener event posted so far has been delivered
    * (`SparkContext.listenerBus` is `private[spark]`): task-metric
    * listeners then hold the totals of every finished job. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
