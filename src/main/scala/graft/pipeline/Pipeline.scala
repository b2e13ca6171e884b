package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.operators.{Analytics, MarketView, Quality, Stars}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's 9-task Airflow DAG as one driver-side runner
  * (reference `dags/financial_pipeline.py:227`, task chain
  * setup_staging → locate_csv → load_staging → quality_checks → dims →
  * fact → volatility_view → report → log_summary).
  *
  * Airflow-isms map to engine primitives: XCom strings become plain return
  * values, PostgresOperator stages become DataFrame writes, TRUNCATE-reload
  * becomes SaveMode.Overwrite, the materialized view becomes a parquet-backed
  * derived table whose "REFRESH" is recomputation, and SQLCheckOperator is a
  * fail-fast `require` on a one-row aggregate. The fact table is written
  * `partitionBy(ano)` so time-ranged reads prune partitions — the 100 TB
  * layout lever the reference's Postgres heap tables don't have.
  *
  * Each task reads its input once: one aggregation over staging serves the
  * quality gate and the expectation suite; the dimensions are insert-only
  * (`INSERT … ON CONFLICT DO NOTHING`): a run appends the rows whose key is
  * absent and writes nothing when none is; and the report reads the
  * `volatility_weekly` view the run has just refreshed, as the reference's
  * `AVG(vol) FROM volatility_weekly` does. Every table the run writes and
  * reads again is read with the schema it was written with.
  */
final case class PipelineResult(
    stagingRows: Long, factRows: Long, weeklyRows: Long, report: String)

object Pipeline {

  /** End-to-end run: CSV in, warehouse parquet out, executive report back. */
  def run(spark: SparkSession, csvPath: String, warehouse: String,
          expectedRows: Option[Long] = None): PipelineResult = {

    // 1-2. setup_staging + locate_csv: fail fast before touching anything
    Tables.requireExists(csvPath)

    // 3. load_staging: declared schema, truncate-and-reload
    val stagingDf = Tables.overwriteAndRead(
      Tables.readStagingCsv(spark, csvPath), s"$warehouse/staging")

    // 4. run_data_quality_checks: SQLCheckOperator twin and the expectation
    // suite in one aggregation — fail-fast on its one row
    val gate = Analytics.qualityGate(stagingDf, Seq("ohlc_bounds" -> Quality.ohlcBounds)).head()
    val stagingRows = gate.getLong(0)
    require(gate.getLong(2) == 1L,
      s"quality gate failed: rows=$stagingRows null_criticals=${gate.get(1)}")
    expectedRows.foreach(n => require(stagingRows == n,
      s"row-count gate failed: expected $n, got $stagingRows"))
    // null_criticals counts the violations of critical_not_null
    Quality.enforce(Seq(
      Quality.result("critical_not_null", gate.getLong(1)),
      Quality.result("ohlc_bounds", gate.getLong(3))))

    // 5. create_dim_tables: distinct projections, insert-if-absent
    upsertDim(spark, s"$warehouse/dim_instrumento", Analytics.dimInstrument(stagingDf), "ticker")
    upsertDim(spark, s"$warehouse/dim_tempo", Analytics.dimTempo(stagingDf), "data_id")

    // 6. load_fact_table: LAG pct-change fact, partitioned by year
    val factDf = Tables.overwriteAndRead(
      MarketView.withPctChange(stagingDf).withColumn("ano", year(col("date"))),
      s"$warehouse/fact_movimentacao_diaria", Seq("ano"))

    // 7. calculate_volatility_view: materialized view = recompute + overwrite
    val weekly = Tables.overwriteAndRead(
      Analytics.weeklyVolatility(factDf), s"$warehouse/volatility_weekly")

    // 8. report_top_volatility: top-1 over the view (XCom analog)
    val top = Analytics.avgVolatilityFromWeekly(weekly).head()
    val report =
      f"Ticker mais volátil: ${top.getString(0)} (volatilidade média semanal ${top.getDouble(1)}%.4f%%)"

    // 9. log_execution_summary
    org.apache.log4j.Logger.getLogger(getClass).info(report)

    PipelineResult(stagingRows, factRows = factDf.count(), weeklyRows = weekly.count(), report)
  }

  /** A14 upsert against the persisted dimension: the first run writes
    * `incoming`; later runs append only the rows whose key is absent
    * (ON CONFLICT DO NOTHING semantics) and write nothing when none is.
    */
  private def upsertDim(spark: SparkSession, path: String, incoming: DataFrame,
                        key: String): Unit =
    if (!Files.exists(Paths.get(path))) Tables.overwrite(incoming, path)
    else {
      val existing = spark.read.schema(incoming.schema).parquet(path)
      val absent = Stars.absentRows(existing, incoming, key)
      if (!absent.isEmpty) absent.write.mode("append").parquet(path)
    }
}
