package graft

import graft.operators._
import graft.queries.{QuerySpec, Sql}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7. The query surface is declared once,
  * as [[Registry.specs]]; `queries` and `oracleSql` are views of it.
  */
object SparkEntry {

  /** Flagship query on sf=0.001: the reference's "most volatile ticker" report
    * (reference `dags/financial_pipeline.py:59-66`). Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    Analytics.avgVolatilityPerTicker(MarketView.fact(spark, "/root/testdata/sf0.001")).limit(1)

  /** Every declared query by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.specs.map(s => s.name -> s.build).toMap

  /** The DuckDB oracle SQL of every query that has one, by query name: the
    * driver runs it on the same parquet tables for the hash-compare.
    */
  def oracleSql: Map[String, String] =
    Registry.specs.collect { case QuerySpec(name, _, Sql(text), _) => name -> text }.toMap
}
