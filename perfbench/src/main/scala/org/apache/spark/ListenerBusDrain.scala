package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * `SparkListener`'s totals are complete when a traced run reads them. The
  * listener bus is Spark-internal; this is the one place the harness reaches
  * into it.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
