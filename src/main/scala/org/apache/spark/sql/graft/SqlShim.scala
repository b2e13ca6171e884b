package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.LogicalRDD

/** Narrow bridge into Spark's `private[sql]` classic API: Column ⇄ Expression
  * conversion and the session internals below. This is the supported way to
  * hand a custom Catalyst Expression to the DataFrame API in Spark 4 (the
  * old `new Column(expr)` constructor is gone); only the hooks below are
  * exposed, nothing else from the internal surface.
  */
object SqlShim {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Unload every loaded state-store provider NOW. Spark only evicts
    * providers lazily from the maintenance thread after the coordinator
    * deactivates a stopped query's instances, so a rapid sequence of
    * short-lived gate runs stacks each run's full state maps on the heap in
    * the meantime. Streaming queries that are still running are unaffected
    * beyond a state reload from their checkpoint on next access.
    */
  def unloadAllStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** Blocks until the listener bus has delivered every event posted so far
    * (Spark's own bound: 10 s). Observed metrics reach their `Observation`
    * through it after the action that made them returns.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Frees the blocks of the `localCheckpoint`s that `pinned` reads, once
    * nothing will read them again: they cannot be recomputed afterwards.
    * RDDs that `keep` reads too (a caller's input) are left alone. Without
    * this the blocks stay until the context cleaner collects the RDD, after
    * a garbage collection on the driver. Unlike `RDD.unpersist`, this logs
    * no warning for the deliberate release.
    */
  def releaseLocalCheckpoint(pinned: DataFrame, keep: DataFrame*): Unit = {
    def rdds(df: DataFrame) = df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
    val kept = keep.flatMap(rdds).map(_.id).toSet
    rdds(pinned).filterNot(r => kept(r.id))
      .foreach(r => r.sparkContext.unpersistRDD(r.id, blocking = false))
  }
}
