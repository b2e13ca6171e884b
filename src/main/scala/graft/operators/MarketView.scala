package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** Market view: re-hosts the reference's finance semantics onto the driver
  * testdata (SURVEY.md §7.1). `events` becomes a quote stream:
  * symbol := event_type, price := value, per-day share count := props.k.
  *
  * `dailyBars` rolls the intraday stream up to the reference's fact grain
  * (ticker, date) — OHLCV bars. `withPctChange` adds the reference's only
  * window computation, the LAG %-change (reference
  * `dags/financial_pipeline.py:185-194`).
  */
object MarketView {

  /** Raw quote stream projection. `k` (daily volume contribution) is parsed
    * from the JSON props with a regexp + try_cast so malformed rows degrade to
    * NULL instead of failing the job under ANSI mode.
    */
  def quotes(spark: SparkSession, dir: String): DataFrame = {
    val k = regexp_extract(col("props"), "\"k\":\\s*([0-9]+)", 1)
    Tables.events(spark, dir).select(
      col("event_type").as("symbol"),
      col("date"),
      col("value"),
      col("ts_ns"),
      col("event_id"),
      when(k === "", lit(null)).otherwise(k).cast("long").as("k")
    )
  }

  /** OHLCV daily bars, grain (symbol, date) — the Silver fact base.
    *
    * open/close are first/last intraday value under the (ts_ns, event_id)
    * total order, computed as min/max over (ts_ns, event_id, value) structs:
    * struct comparison is lexicographic, so the extremal struct carries the
    * first/last value. That makes the whole bar ONE hash aggregation with
    * map-side partial combine — no window, no per-group sort; at 100 TB the
    * shuffle carries only one partial state per (symbol, date) per mapper.
    */
  def dailyBars(spark: SparkSession, dir: String): DataFrame = {
    val ord = struct(col("ts_ns"), col("event_id"), col("value"))
    quotes(spark, dir)
      .groupBy("symbol", "date")
      .agg(
        min(ord).getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(ord).getField("value").as("close"),
        sum(col("k")).as("volume")
      )
  }

  /** The fact's LAG order: each ticker's bars by date. */
  private[graft] def tickerOrder: WindowSpec = Window.partitionBy("symbol").orderBy("date")

  /** W1/W2: previous close + daily %-change per ticker
    * (reference `dags/financial_pipeline.py:192-193`):
    * `(close - LAG(close)) / NULLIF(LAG(close), 0) * 100`.
    * First row per ticker and prev-close = 0 both yield NULL.
    */
  def withPctChange(bars: DataFrame): DataFrame = {
    val prev = lag(col("close"), 1).over(tickerOrder)
    bars
      .withColumn("prev_close", prev)
      .withColumn("variacao_diaria",
        (col("close") - col("prev_close")) /
          when(col("prev_close") === 0, lit(null)).otherwise(col("prev_close")) * 100)
  }

  /** The full Silver fact: daily bars + %-change (fact_movimentacao_diaria
    * analog, reference `dags/financial_pipeline.py:170-194`).
    */
  def fact(spark: SparkSession, dir: String): DataFrame =
    withPctChange(dailyBars(spark, dir))
}
