package org.apache.spark

/** Test access to Spark's internal listener bus, so a `SparkListener`'s
  * totals are complete before a spec asserts on them.
  */
object TestListenerBus {
  /** Blocks until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
