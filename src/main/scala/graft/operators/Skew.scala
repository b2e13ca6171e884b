package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot keys.
  *
  * Spark's partial (map-side) aggregation already bounds skew for algebraic
  * aggregates, and AQE splits skewed shuffle-join partitions at runtime.
  * Exact distinct counts per key still need explicit salting: partials can't
  * combine, since the same value seen by two mappers must not count twice.
  */
object Skew {

  /** Exact per-key distinct count with bounded skew. Salting by hash(value)
    * keeps distinct-counts additive — a value lands in exactly one salt
    * bucket, so per-bucket exact distincts sum to the key's exact distinct.
    * The hot key's work spreads across `saltFactor` reducers.
    */
  def saltedDistinctCount(df: DataFrame, key: String, valueCol: String,
                          saltFactor: Int): DataFrame =
    df.withColumn("__salt", pmod(xxhash64(col(valueCol)), lit(saltFactor.toLong)))
      .groupBy(col(key), col("__salt"))
      .agg(countDistinct(col(valueCol)).as("__c"))
      .groupBy(col(key)).agg(sum(col("__c")).as("n_distinct"))
}
