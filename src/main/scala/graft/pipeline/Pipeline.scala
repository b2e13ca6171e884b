package graft.pipeline

import java.nio.file.{Files, Paths}

import graft.operators.{Analytics, MarketView, Quality, Stars}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlShim

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
  * Each task reads its input once. The fact's LAG window runs once, and its
  * rows are pinned by a `localCheckpoint` before anything is written; the
  * pin observes the quality gate and the expectation suite (row count, null
  * criticals, repeated (symbol, date) keys as a LAG over the same window,
  * OHLC bounds), and the fact write, the weekly view and the fact row count
  * all read it. The dimensions are insert-only (`INSERT … ON CONFLICT DO
  * NOTHING`): a run appends the rows whose key is absent and writes nothing
  * when none is. The report reads the `volatility_weekly` view the run has
  * just refreshed, as the reference's `AVG(vol) FROM volatility_weekly`
  * does; the view's row count is observed by its write. The pin is
  * released before `run` returns, whether the gate passed or not.
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

    // 4. run_data_quality_checks, on the fact's LAG pass: the window runs
    // once, pinned before anything is written, and the gate (row count,
    // null criticals, repeated keys, OHLC bounds) is observed by the pin
    val (fact, gateRow) = pinnedFact(stagingDf)
    try {
      val gate = gateRow()
      val rows = gate.getLong(0)
      require(gate.getLong(2) == 1L,
        s"quality gate failed: rows=$rows null_criticals=${gate.get(1)}")
      expectedRows.foreach(n => require(rows == n,
        s"row-count gate failed: expected $n, got $rows"))
      // null_criticals counts the violations of critical_not_null
      Quality.enforce(Seq(
        Quality.result("critical_not_null", gate.getLong(1)),
        Quality.result("ohlc_bounds", gate.getLong(3))))

      // 5. create_dim_tables: distinct projections, insert-if-absent
      upsertDim(spark, s"$warehouse/dim_instrumento", Analytics.dimInstrument(stagingDf), "ticker")
      upsertDim(spark, s"$warehouse/dim_tempo", Analytics.dimTempo(stagingDf), "data_id")

      // 6. load_fact_table: the pinned LAG pct-change fact, partitioned by year
      Tables.overwrite(fact, s"$warehouse/fact_movimentacao_diaria", Seq("ano"))

      // 7. calculate_volatility_view: materialized view = recompute + overwrite
      val (view, weeklyRows) = Tables.observedCount(Analytics.weeklyVolatility(fact))
      val weekly = Tables.overwriteAndRead(view, s"$warehouse/volatility_weekly")

      // 8. report_top_volatility: top-1 over the view (XCom analog)
      val top = Analytics.avgVolatilityFromWeekly(weekly).head()
      val report =
        f"Ticker mais volátil: ${top.getString(0)} (volatilidade média semanal ${top.getDouble(1)}%.4f%%)"

      // 9. log_execution_summary
      org.apache.log4j.Logger.getLogger(getClass).info(report)

      PipelineResult(rows, rows, weeklyRows().getLong(0), report)
    } finally SqlShim.releaseLocalCheckpoint(fact)
  }

  /** The fact rows of `staging` (its columns, `prev_close`,
    * `variacao_diaria`, then `ano`), pinned by an eager `localCheckpoint`,
    * and the reader of the quality gate that pin observed: (total_rows,
    * null_criticals, passed, ohlc_bounds). The LAG window and the gate's key
    * check share one shuffle on `symbol`. The caller frees the pin with
    * `SqlShim.releaseLocalCheckpoint`.
    */
  private[graft] def pinnedFact(staging: DataFrame): (DataFrame, () => Row) = {
    val (windowed, gate) = Tables.observedCount(
      Analytics.withDupKey(MarketView.withPctChange(staging).withColumn("ano", year(col("date")))),
      Analytics.gateAggregates("ohlc_bounds" -> Quality.ohlcBounds): _*)
    (windowed.drop("dup_key").localCheckpoint(), gate)
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
