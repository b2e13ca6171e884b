package org.apache.spark.sql

/** Test access to the session's registry of cached relations, so a spec can
  * assert that an operation leaves nothing cached behind.
  */
object TestCacheManager {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
