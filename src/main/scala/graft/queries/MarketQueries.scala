package graft.queries

import graft.functions.Fx._
import graft.operators._
import graft.pipeline.GraftSql
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The market view (daily bars, the LAG fact and the weekly volatility view)
  * re-hosted on `events`: the reference's DAG and report queries, their windowed
  * and statistical extensions, and the README's published analyst texts. */
object MarketQueries {

  /** Benford first-digit shares log10(1 + 1/d), d = 1..9 — computed ONCE on
    * the driver and shared with the q167 oracle as shortest-repr literals
    * (which round-trip to the same doubles), so no runtime libm call exists
    * on either engine's data path.
    */
  private val benfordShares: Seq[Double] = (1 to 9).map(d => math.log10(1 + 1.0 / d))

  /** The market view re-hosted on `events` as DuckDB CTE prefixes (SURVEY.md
    * §7.1): `BARS` ends in the daily OHLCV bars, `FACT` adds the LAG daily
    * change, `WEEKLY` the weekly volatility view. Deterministic intraday
    * order = (ts, event_id).
    */
  private val BARS = """WITH e AS (
  SELECT event_type AS symbol, CAST(ts AS DATE) AS date, value, ts, event_id,
         TRY_CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT) AS k
  FROM events
), re AS (
  SELECT *,
         row_number() OVER (PARTITION BY symbol, date ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY symbol, date ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM e
), bars AS (
  SELECT symbol, date,
         max(CASE WHEN rn_a = 1 THEN value END) AS open,
         max(value) AS high,
         min(value) AS low,
         max(CASE WHEN rn_d = 1 THEN value END) AS close,
         CAST(sum(k) AS BIGINT) AS volume
  FROM re GROUP BY symbol, date
)"""

  private val FACT = BARS + """, fact AS (
  SELECT symbol, date, open, high, low, close, volume,
         lag(close) OVER (PARTITION BY symbol ORDER BY date) AS prev_close,
         (close - lag(close) OVER (PARTITION BY symbol ORDER BY date))
           / nullif(lag(close) OVER (PARTITION BY symbol ORDER BY date), 0) * 100 AS variacao_diaria
  FROM bars
)"""

  private val WEEKLY = FACT + """, wv AS (
  SELECT symbol, CAST(date_trunc('week', date) AS DATE) AS semana,
         stddev_samp(variacao_diaria) AS vol
  FROM fact WHERE variacao_diaria IS NOT NULL
  GROUP BY 1, 2
)"""

  /** The dt-partitioned bars layout of `dir`, built once per fingerprint of
    * its events as store entry `bars_by_dt` (see [[Tables.materializedPath]]):
    * q58 exists to prove partition-pruned READS, so every call after the
    * first (bench warmup + both timed passes, later sessions and JVMs)
    * measures only the pruned scan.
    */
  private def partitionedBarsLayout(s: SparkSession, dir: String): String =
    Tables.materializedPath(java.nio.file.Paths.get(dir, "events.parquet"), "bars_by_dt")(tmp =>
      Tables.overwrite(
        MarketView.dailyBars(s, dir).withColumn("dt", col("date")).drop("date"),
        tmp.toString, Seq("dt"))).toString

  val specs: Seq[QuerySpec] = Seq(
    // -- market/finance parity (SURVEY §2.2–§2.6, §2.8) --
    QuerySpec("q01_daily_bars", (s, dir) =>
      MarketView.dailyBars(s, dir)
        .select(col("symbol"), dateStr(col("date")).as("date"),
          col("open"), col("high"), col("low"), col("close"), col("volume"))
        .orderBy("symbol", "date"),
      Sql(BARS + """
SELECT symbol, CAST(date AS VARCHAR) AS date, open, high, low, close, volume
FROM bars ORDER BY symbol, date""")),

    QuerySpec("q02_pct_change", (s, dir) =>
      MarketView.fact(s, dir)
        .select(col("symbol"), dateStr(col("date")).as("date"), col("close"),
          col("prev_close"), rd(col("variacao_diaria"), 6).as("variacao_diaria"))
        .orderBy("symbol", "date"),
      Sql(FACT + """
SELECT symbol, CAST(date AS VARCHAR) AS date, close, prev_close,
       round(variacao_diaria, 6) + 0 AS variacao_diaria
FROM fact ORDER BY symbol, date""")),

    QuerySpec("q03_weekly_volatility", (s, dir) =>
      Analytics.weeklyVolatility(MarketView.fact(s, dir))
        .select(col("symbol"), dateStr(col("semana")).as("semana"), rd(col("vol"), 6).as("vol"))
        .orderBy("symbol", "semana"),
      Sql(WEEKLY + """
SELECT symbol, CAST(semana AS VARCHAR) AS semana, round(vol, 6) + 0 AS vol
FROM wv ORDER BY symbol, semana""")),

    QuerySpec("q04_top_volatility", (s, dir) =>
      Analytics.avgVolatilityPerTicker(MarketView.fact(s, dir)).limit(1),
      Sql(WEEKLY + """
SELECT symbol, round(avg(vol), 4) + 0 AS avg_volatility
FROM wv GROUP BY symbol
ORDER BY avg_volatility DESC, symbol LIMIT 1""")),

    QuerySpec("q05_risk_profile", (s, dir) =>
      Analytics.riskProfile(MarketView.fact(s, dir)),
      Sql(FACT + """
SELECT symbol,
       round(stddev_samp(variacao_diaria), 6) + 0 AS volatilidade,
       round(avg(variacao_diaria), 6) + 0 AS variacao_media,
       round(max(variacao_diaria), 6) + 0 AS maior_alta,
       round(min(variacao_diaria), 6) + 0 AS maior_queda
FROM fact WHERE variacao_diaria IS NOT NULL
GROUP BY symbol ORDER BY volatilidade DESC, symbol""")),

    QuerySpec("q06_liquidity", (s, dir) =>
      Analytics.liquidity(MarketView.dailyBars(s, dir)),
      Sql(BARS + """
SELECT symbol,
       round(avg(volume), 4) + 0 AS volume_medio,
       CAST(sum(volume) AS BIGINT) AS volume_total
FROM bars GROUP BY symbol ORDER BY volume_total DESC, symbol""")),

    QuerySpec("q07_global_stats", (s, dir) =>
      Analytics.globalStats(MarketView.fact(s, dir)),
      Sql(FACT + """
SELECT count(*) AS n_rows,
       count(DISTINCT symbol) AS n_symbols,
       count(DISTINCT date) AS n_days,
       CAST(min(date) AS VARCHAR) AS first_date,
       CAST(max(date) AS VARCHAR) AS last_date,
       round(avg(close), 4) + 0 AS avg_close,
       round(stddev_samp(variacao_diaria), 4) + 0 AS std_variacao,
       round(avg(volume), 4) + 0 AS avg_volume
FROM fact""")),

    QuerySpec("q08_dim_instrument", (s, dir) =>
      Analytics.dimInstrument(MarketView.dailyBars(s, dir)),
      Sql(BARS + """
SELECT DISTINCT symbol AS ticker, 'Ativo ' || symbol AS nome
FROM bars ORDER BY ticker""")),

    QuerySpec("q09_dim_tempo", (s, dir) =>
      Analytics.dimTempo(MarketView.dailyBars(s, dir)),
      Sql(BARS + """
SELECT DISTINCT CAST(date AS VARCHAR) AS data_id,
       CAST(date_part('year', date) AS BIGINT) AS ano,
       CAST(date_part('month', date) AS BIGINT) AS mes,
       CAST(date_part('dow', date) AS BIGINT) AS dia_da_semana
FROM bars ORDER BY data_id""")),

    QuerySpec("q10_quality_gate", (s, dir) =>
      Analytics.qualityGate(MarketView.dailyBars(s, dir)),
      Sql(BARS + """
SELECT total_rows, null_criticals,
       CASE WHEN null_criticals = 0 AND n_keys = total_rows THEN 1 ELSE 0 END::BIGINT AS passed
FROM (
  SELECT count(*) AS total_rows,
         CAST(sum(CASE WHEN close IS NULL OR date IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_criticals,
         count(DISTINCT symbol || '|' || CAST(date AS VARCHAR)) AS n_keys
  FROM bars
)""")),

    QuerySpec("q11_weekly_vol_rounded", (s, dir) =>
      Analytics.weeklyVolatilityRounded(MarketView.fact(s, dir)),
      Sql(FACT + """
SELECT symbol AS ticker, CAST(CAST(date_trunc('week', date) AS DATE) AS VARCHAR) AS semana,
       round(stddev_samp(variacao_diaria), 2) + 0 AS vol
FROM fact WHERE variacao_diaria IS NOT NULL
GROUP BY 1, 2 ORDER BY ticker, semana""")),

    QuerySpec("q12_top_performance", (s, dir) =>
      Analytics.topPerformance(MarketView.fact(s, dir), 5),
      Sql(FACT + """
SELECT symbol, round(avg(variacao_diaria), 4) + 0 AS variacao_media
FROM fact WHERE variacao_diaria IS NOT NULL
GROUP BY symbol ORDER BY variacao_media DESC, symbol LIMIT 5""")),

    QuerySpec("q13_investor_scores", (s, dir) =>
      Analytics.investorScores(MarketView.fact(s, dir)),
      Sql(FACT + """, metrics AS (
  SELECT symbol, stddev_samp(variacao_diaria) AS vol, avg(variacao_diaria) AS vm,
         CAST(sum(volume) AS DOUBLE) AS vt
  FROM fact WHERE variacao_diaria IS NOT NULL GROUP BY symbol
), g AS (
  SELECT max(vol) AS vol_max, min(vm) AS vm_min, max(vm) AS vm_max,
         min(vt) AS vt_min, max(vt) AS vt_max
  FROM metrics
), sc AS (
  SELECT symbol,
         100.0 - vol / nullif(vol_max, 0) * 100 AS s_seg,
         (vm - vm_min) / nullif(vm_max - vm_min, 0) * 100 AS s_perf,
         (vt - vt_min) / nullif(vt_max - vt_min, 0) * 100 AS s_liq
  FROM metrics CROSS JOIN g
)
SELECT symbol,
       round(s_seg, 4) + 0 AS score_seguranca,
       round(s_perf, 4) + 0 AS score_performance,
       round(s_liq, 4) + 0 AS score_liquidez,
       round(s_seg * 0.5 + s_perf * 0.3 + s_liq * 0.2, 4) + 0 AS score_conservador,
       round(s_seg * 0.35 + s_perf * 0.35 + s_liq * 0.3, 4) + 0 AS score_moderado,
       round(s_seg * 0.2 + s_perf * 0.5 + s_liq * 0.3, 4) + 0 AS score_agressivo
FROM sc ORDER BY symbol""")),

    QuerySpec("q14_monthly_summary", (s, dir) =>
      Analytics.monthlySummary(MarketView.dailyBars(s, dir)),
      Sql(BARS + """
SELECT CAST(date_part('year', date) AS BIGINT) AS ano,
       CAST(date_part('month', date) AS BIGINT) AS mes,
       count(*) AS n_bars,
       round(avg(close), 4) + 0 AS avg_close,
       CAST(sum(volume) AS BIGINT) AS volume_total
FROM bars GROUP BY 1, 2 ORDER BY ano, mes""")),

    // -- A15: grand mean of per-ticker aggregates (notebook reference lines) --
    QuerySpec("q41_market_overview", (s, dir) => {
      val m = MarketView.fact(s, dir)
        .filter(col("variacao_diaria").isNotNull)
        .groupBy("symbol")
        .agg(stddev_samp(col("variacao_diaria")).as("vol"),
          avg(col("variacao_diaria")).as("vm"))
      m.agg(count(lit(1)).as("n_tickers"),
        rd(avg(col("vol")), 6).as("volatilidade_media"),
        rd(avg(col("vm")), 6).as("variacao_media"))
    },
      Sql(FACT + """, m AS (
  SELECT symbol, stddev_samp(variacao_diaria) AS vol, avg(variacao_diaria) AS vm
  FROM fact WHERE variacao_diaria IS NOT NULL GROUP BY symbol
)
SELECT count(*) AS n_tickers,
       round(avg(vol), 6) + 0 AS volatilidade_media,
       round(avg(vm), 6) + 0 AS variacao_media
FROM m""")),

    // -- as-of join: each event joined to the latest strictly-earlier daily close --
    QuerySpec("q42_asof_prev_close", (s, dir) => {
      val bars = MarketView.dailyBars(s, dir).select(col("symbol"), col("date"), col("close"))
      val ev = MarketView.quotes(s, dir)
        .select(col("symbol"), col("date"), col("event_id"), col("value"))
      AsOf.asofJoin(ev, bars, "symbol", "date", Seq("close"), strict = true)
        .select(col("event_id"), col("symbol"), dateStr(col("date")).as("date"),
          col("value"), col("asof_close").as("prev_close"))
        .orderBy("event_id")
    },
      Sql(BARS + """
SELECT e.event_id, e.symbol, CAST(e.date AS VARCHAR) AS date, e.value,
       b.close AS prev_close
FROM (SELECT event_type AS symbol, CAST(ts AS DATE) AS date, event_id, value
      FROM events) e
ASOF LEFT JOIN bars b ON e.symbol = b.symbol AND e.date > b.date
ORDER BY e.event_id""")),

    // -- published report metrics (reference relatório_volatilidade.ipynb) --
    QuerySpec("q43_cumulative_return", (s, dir) => {
      val ord = struct(col("date"), col("close"))
      MarketView.dailyBars(s, dir)
        .groupBy("symbol")
        .agg(min(ord).getField("close").as("first_close"),
          max(ord).getField("close").as("last_close"))
        .select(col("symbol"),
          rd((col("last_close") / col("first_close") - 1) * 100, 4).as("retorno_acumulado"))
        .orderBy(col("retorno_acumulado").desc, col("symbol").asc)
    },
      Sql(BARS + """, fl AS (
  SELECT symbol,
         arg_min(close, date) AS first_close,
         arg_max(close, date) AS last_close
  FROM bars GROUP BY symbol
)
SELECT symbol, round((last_close / first_close - 1) * 100, 4) + 0 AS retorno_acumulado
FROM fl ORDER BY retorno_acumulado DESC, symbol""")),

    QuerySpec("q44_global_weekly_vol", (s, dir) =>
      Analytics.weeklyVolatility(MarketView.fact(s, dir))
        .agg(rd(avg(col("vol")), 4).as("volatilidade_semanal_media"),
          count(lit(1)).as("n_weeks")),
      Sql(WEEKLY + """
SELECT round(avg(vol), 4) + 0 AS volatilidade_semanal_media,
       count(*) AS n_weeks
FROM wv""")),

    // -- partition-pruning proof: write the bars date-partitioned, read ONE
    // week back. The scan must show PartitionFilters (pinned by PlanSpec) —
    // at 100 TB this layout turns a time-ranged query from a full-corpus scan
    // into |days requested| partition reads. (All testdata lives in 2024-01,
    // so date is the partition key with real selectivity: 7 of 30 dirs.)
    QuerySpec("q58_partition_pruned_week", (s, dir) => {
      val out = partitionedBarsLayout(s, dir)
      val lo = lit("2024-01-08").cast(org.apache.spark.sql.types.DateType)
      val hi = lit("2024-01-14").cast(org.apache.spark.sql.types.DateType)
      s.read.parquet(out)
        .filter(col("dt") >= lo && col("dt") <= hi)
        .groupBy("symbol")
        .agg(count(lit(1)).as("n_days"),
          rd(avg(col("close")), 6).as("avg_close"),
          sum(col("volume")).as("volume_total"))
        .orderBy("symbol")
    },
      Sql(BARS + """
SELECT symbol, count(*) AS n_days,
       round(avg(close), 6) + 0 AS avg_close,
       CAST(sum(volume) AS BIGINT) AS volume_total
FROM bars
WHERE date BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
GROUP BY symbol ORDER BY symbol""")),

    // -- pairwise return correlation/covariance: the diversification matrix.
    // Self-join on date (30 daily rows per symbol after aggregation — the
    // join input is the AGGREGATED fact, never ticks), co-moment aggregates
    // per symbol pair --
    QuerySpec("q68_return_correlation", (s, dir) => {
      val r = MarketView.fact(s, dir)
        .filter(col("variacao_diaria").isNotNull)
        .select(col("date"), col("symbol"), col("variacao_diaria").as("r"))
      val a = r.select(col("date"), col("symbol").as("sym_a"), col("r").as("ra"))
      val b = r.select(col("date"), col("symbol").as("sym_b"), col("r").as("rb"))
      a.join(b, Seq("date")).filter(col("sym_a") < col("sym_b"))
        .groupBy("sym_a", "sym_b")
        .agg(
          rd(corr(col("ra"), col("rb")), 6).as("corr_returns"),
          rd(covar_samp(col("ra"), col("rb")), 6).as("covar_returns"),
          count(lit(1)).as("n_days"))
        .orderBy("sym_a", "sym_b")
    },
      Sql(FACT + """
SELECT a.symbol AS sym_a, b.symbol AS sym_b,
       round(corr(a.variacao_diaria, b.variacao_diaria), 6) + 0 AS corr_returns,
       round(covar_samp(a.variacao_diaria, b.variacao_diaria), 6) + 0 AS covar_returns,
       count(*) AS n_days
FROM fact a JOIN fact b ON a.date = b.date AND a.symbol < b.symbol
WHERE a.variacao_diaria IS NOT NULL AND b.variacao_diaria IS NOT NULL
GROUP BY 1, 2 ORDER BY sym_a, sym_b""")),

    // -- explicit GROUPING SETS via the SQL front door (rollup/cube cover
    // the lattice cases; this is the arbitrary-sets form) --
    QuerySpec("q69_grouping_sets", (s, dir) => {
      MarketView.dailyBars(s, dir).createOrReplaceTempView("bars_gs")
      s.sql("""
        SELECT symbol, CAST(month(date) AS BIGINT) AS mes,
               count(*) AS n_bars,
               CAST(sum(volume) AS BIGINT) AS volume_total,
               CAST(grouping_id() AS BIGINT) AS gid
        FROM bars_gs
        GROUP BY GROUPING SETS ((symbol), (month(date)), ())
        ORDER BY gid, symbol, mes""")
    },
      Sql(BARS + """
SELECT symbol, CAST(date_part('month', date) AS BIGINT) AS mes,
       count(*) AS n_bars,
       CAST(sum(volume) AS BIGINT) AS volume_total,
       CAST(grouping(symbol) * 2 + grouping(date_part('month', date)) AS BIGINT) AS gid
FROM bars
GROUP BY GROUPING SETS ((symbol), (date_part('month', date)), ())
ORDER BY gid, symbol, mes""")),

    // -- cross-sectional rank: symbols ranked by daily return within each
    // day (the relative-strength screen). Rank window partitions by date —
    // cardinality = symbols per day, shuffle carries daily rows only --
    QuerySpec("q67_daily_rank", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("date").orderBy(col("variacao_diaria").desc, col("symbol").asc)
      MarketView.fact(s, dir)
        .filter(col("variacao_diaria").isNotNull)
        .select(dateStr(col("date")).as("date"), col("symbol"),
          rd(col("variacao_diaria"), 6).as("variacao_diaria"),
          rank().over(w).cast("long").as("rk"))
        .orderBy("date", "rk", "symbol")
    },
      Sql(FACT + """
SELECT CAST(date AS VARCHAR) AS date, symbol,
       round(variacao_diaria, 6) + 0 AS variacao_diaria,
       CAST(rank() OVER (PARTITION BY date
                         ORDER BY variacao_diaria DESC, symbol) AS BIGINT) AS rk
FROM fact WHERE variacao_diaria IS NOT NULL
ORDER BY date, rk, symbol""")),

    // -- CUBE: all aggregation combinations of (symbol, year) --
    QuerySpec("q55_cube_symbol_year", (s, dir) =>
      MarketView.dailyBars(s, dir)
        .cube(col("symbol"), year(col("date")).cast("long").as("ano"))
        .agg(count(lit(1)).as("n_bars"),
          sum(col("volume")).as("volume_total"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("symbol"), col("ano")),
      Sql(BARS + """
SELECT symbol,
       CAST(date_part('year', date) AS BIGINT) AS ano,
       count(*) AS n_bars,
       CAST(sum(volume) AS BIGINT) AS volume_total,
       CAST(grouping(symbol) * 2 + grouping(date_part('year', date)) AS BIGINT) AS gid
FROM bars
GROUP BY CUBE (symbol, date_part('year', date))
ORDER BY gid, symbol, ano""")),

    // -- banded range join: ±3-day bar context per event --
    QuerySpec("q54_range_join_band", (s, dir) => {
      val epoch = lit("1970-01-01").cast(org.apache.spark.sql.types.DateType)
      val bars = MarketView.dailyBars(s, dir)
        .select(col("symbol"), datediff(col("date"), epoch).cast("long").as("d"), col("close"))
      val ev = MarketView.quotes(s, dir)
        .select(col("event_id"), col("symbol"), datediff(col("date"), epoch).cast("long").as("d"))
      RangeJoin.bandJoin(ev, bars, "symbol", "d", 3L, Seq("close"))
        .groupBy("event_id")
        .agg(rd(avg(col("r_close")), 6).as("band_avg_close"),
          count(lit(1)).as("n_bars"))
        .orderBy("event_id")
    },
      Sql(BARS + """
SELECT e.event_id,
       round(avg(b.close), 6) + 0 AS band_avg_close,
       count(*) AS n_bars
FROM (SELECT event_id, event_type AS symbol, CAST(ts AS DATE) AS date FROM events) e
JOIN bars b
  ON e.symbol = b.symbol AND abs(date_diff('day', b.date, e.date)) <= 3
GROUP BY e.event_id ORDER BY e.event_id""")),

    // -- approximate (sketch) statistics: the 100 TB-mode variants of A11 --
    // no oracle: HLL++/KLL sketch outputs are engine-specific; bounds are
    // spec-tested against the exact values instead. The quantile sketch is
    // projected to flat scalar columns (p50/p90/p99) — array-typed output
    // columns break row canonicalization in downstream harnesses
    QuerySpec("q53_approx_stats", (s, dir) =>
      Analytics.approxStats(MarketView.dailyBars(s, dir))
        .select(col("n_symbols_approx"), col("n_days_approx"),
          element_at(col("volume_quantiles_approx"), 1).cast("double").as("p50_approx"),
          element_at(col("volume_quantiles_approx"), 2).cast("double").as("p90_approx"),
          element_at(col("volume_quantiles_approx"), 3).cast("double").as("p99_approx")),
      NoOracle("HLL++/KLL sketch outputs are engine-specific; the bounds against the exact values are spec-tested")),

    // -- hierarchical rollup (year -> month -> grand total) --
    QuerySpec("q52_rollup_calendar", (s, dir) =>
      MarketView.dailyBars(s, dir)
        .rollup(year(col("date")).cast("long").as("ano"),
          month(col("date")).cast("long").as("mes"))
        .agg(count(lit(1)).as("n_bars"),
          sum(col("volume")).as("volume_total"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("ano"), col("mes")),
      Sql(BARS + """
SELECT CAST(date_part('year', date) AS BIGINT) AS ano,
       CAST(date_part('month', date) AS BIGINT) AS mes,
       count(*) AS n_bars,
       CAST(sum(volume) AS BIGINT) AS volume_total,
       CAST(grouping(date_part('year', date)) * 2 + grouping(date_part('month', date)) AS BIGINT) AS gid
FROM bars
GROUP BY ROLLUP (date_part('year', date), date_part('month', date))
ORDER BY gid, ano, mes""")),

    // -- windowed/statistical extensions over the bars --
    QuerySpec("q46_moving_avg", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol").orderBy("date").rowsBetween(-6, 0)
      MarketView.dailyBars(s, dir)
        .select(col("symbol"), dateStr(col("date")).as("date"),
          rd(avg(col("close")).over(w), 6).as("ma7"))
        .orderBy("symbol", "date")
    },
      Sql(BARS + """
SELECT symbol, CAST(date AS VARCHAR) AS date,
       round(avg(close) OVER (PARTITION BY symbol ORDER BY date
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) + 0 AS ma7
FROM bars ORDER BY symbol, date""")),

    QuerySpec("q47_volume_percentiles", (s, dir) =>
      MarketView.dailyBars(s, dir)
        .groupBy("symbol")
        .agg(
          rd(expr("percentile(volume, 0.5)"), 4).as("p50"),
          rd(expr("percentile(volume, 0.9)"), 4).as("p90"),
          rd(expr("percentile(volume, 0.99)"), 4).as("p99"))
        .orderBy("symbol"),
      Sql(BARS + """
SELECT symbol,
       round(quantile_cont(volume, 0.5), 4) + 0 AS p50,
       round(quantile_cont(volume, 0.9), 4) + 0 AS p90,
       round(quantile_cont(volume, 0.99), 4) + 0 AS p99
FROM bars GROUP BY symbol ORDER BY symbol""")),

    // Bollinger bands: 20-day moving mean ± 2×stddev per symbol — the same
    // one-exchange window shape as q46 (one shuffle on symbol, in-partition
    // frame scan; at 100 TB the shuffle carries daily bars, never ticks)
    QuerySpec("q61_bollinger", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol").orderBy("date").rowsBetween(-19, 0)
      MarketView.dailyBars(s, dir)
        .select(col("symbol"), dateStr(col("date")).as("date"),
          rd(avg(col("close")).over(w), 6).as("ma20"),
          rd(nanToNull(stddev_samp(col("close")).over(w)), 6).as("sd20"))
        .withColumn("upper", rd(col("ma20") + col("sd20") * 2, 6))
        .withColumn("lower", rd(col("ma20") - col("sd20") * 2, 6))
        .orderBy("symbol", "date")
    },
      Sql(BARS + """
SELECT symbol, CAST(date AS VARCHAR) AS date,
       round(ma20, 6) + 0 AS ma20,
       round(sd20, 6) + 0 AS sd20,
       round(round(ma20, 6) + 2 * round(sd20, 6), 6) + 0 AS upper,
       round(round(ma20, 6) - 2 * round(sd20, 6), 6) + 0 AS lower
FROM (
  SELECT symbol, date,
         avg(close) OVER w AS ma20,
         stddev_samp(close) OVER w AS sd20
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
ORDER BY symbol, date""")),

    // max drawdown per symbol: running peak (cummax window) then the worst
    // peak-to-trough ratio — a two-window single-exchange lineage
    QuerySpec("q62_max_drawdown", (s, dir) => {
      val run = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol").orderBy("date")
        .rowsBetween(Long.MinValue, 0)
      MarketView.dailyBars(s, dir)
        .select(col("symbol"), col("close"),
          max(col("close")).over(run).as("peak"))
        .groupBy("symbol")
        .agg(rd(min(col("close") / col("peak") - 1) * 100, 4).as("max_drawdown_pct"))
        .orderBy("symbol")
    },
      Sql(BARS + """
SELECT symbol,
       round(min(close / peak - 1) * 100, 4) + 0 AS max_drawdown_pct
FROM (
  SELECT symbol, close,
         max(close) OVER (PARTITION BY symbol ORDER BY date
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM bars
)
GROUP BY symbol ORDER BY symbol""")),

    QuerySpec("q45_liquidity_share", (s, dir) => {
      // global total as an unbounded window over the per-ticker aggregates:
      // one lineage, one scan (a separate total aggregate would fork the
      // plan and scan the events twice)
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
        .rowsBetween(Long.MinValue, Long.MaxValue)
      MarketView.dailyBars(s, dir)
        .groupBy("symbol").agg(sum(col("volume")).as("vt"))
        .withColumn("total", sum(col("vt")).over(w))
        .orderBy(col("vt").desc, col("symbol").asc).limit(5)
        .agg(rd(sum(col("vt")).cast("double") / max(col("total")) * 100, 4)
          .as("top5_share_pct"))
    },
      Sql(BARS + """, bt AS (
  SELECT symbol, sum(k_total) AS vt
  FROM (SELECT symbol, volume AS k_total FROM bars) GROUP BY symbol
), t5 AS (
  SELECT sum(vt) AS t5 FROM (SELECT vt FROM bt ORDER BY vt DESC, symbol LIMIT 5)
), tot AS (SELECT sum(vt) AS total FROM bt)
SELECT round(CAST(t5 AS DOUBLE) / total * 100, 4) + 0 AS top5_share_pct
FROM t5, tot""")),

    // -- the reference README's three PUBLISHED ad-hoc analyst queries, run
    // as literal text through GraftSql over the registered reference views
    // (README.md:64-71, 89-97, 109-115) — the "switch engines without
    // rewriting your SQL" contract as hash-oracled gate rows. The texts are
    // quoted in GraftSql; the runners strip only statement plumbing, apply
    // the one documented README date/data_id erratum (q121), and normalize
    // outside the text per the gate's standard conventions --
    QuerySpec("q121_readme_weekly_vol", (s, dir) => GraftSql.readmeWeeklyVol(s, dir),
      // -- q121–q123: the README's published ad-hoc texts. The readme CTE body
      // is the LITERAL README statement (DuckDB's STDDEV is sample stddev,
      // like Postgres'), with the same one-word date→data_id erratum applied
      // to q121 as on the Spark side; the outer SELECT is the standard gate
      // normalization (date→string, +0, deterministic order) --
      Sql(FACT + """, fact_movimentacao_diaria AS (
  SELECT symbol AS ticker, date AS data_id, open, high, low, close, volume, variacao_diaria FROM fact
), readme AS (
SELECT
    DATE_TRUNC('week', data_id)::date AS week_start,
    ticker,
    ROUND(STDDEV(variacao_diaria), 2) AS vol
FROM fact_movimentacao_diaria
GROUP BY DATE_TRUNC('week', data_id), ticker
)
SELECT CAST(week_start AS VARCHAR) AS week_start, ticker, vol + 0 AS vol
FROM readme ORDER BY ticker, week_start""")),
    QuerySpec("q122_readme_risk_profile", (s, dir) => GraftSql.readmeRiskProfile(s, dir),
      Sql(FACT + """, fact_movimentacao_diaria AS (
  SELECT symbol AS ticker, date AS data_id, open, high, low, close, volume, variacao_diaria FROM fact
), readme AS (
SELECT
    ticker,
    STDDEV(variacao_diaria) AS volatilidade,
    AVG(variacao_diaria) AS retorno_medio,
    MAX(variacao_diaria) AS variacao_maxima,
    MIN(variacao_diaria) AS variacao_minima
FROM fact_movimentacao_diaria
GROUP BY ticker
ORDER BY volatilidade DESC
)
SELECT ticker,
       round(volatilidade, 6) + 0 AS volatilidade,
       round(retorno_medio, 6) + 0 AS retorno_medio,
       round(variacao_maxima, 6) + 0 AS variacao_maxima,
       round(variacao_minima, 6) + 0 AS variacao_minima
FROM readme ORDER BY round(volatilidade, 6) DESC, ticker""")),
    QuerySpec("q123_readme_liquidity", (s, dir) => GraftSql.readmeLiquidity(s, dir),
      Sql(FACT + """, fact_movimentacao_diaria AS (
  SELECT symbol AS ticker, date AS data_id, open, high, low, close, volume, variacao_diaria FROM fact
), readme AS (
SELECT
    ticker,
    AVG(volume) AS volume_medio,
    SUM(volume) AS volume_total
FROM fact_movimentacao_diaria
GROUP BY ticker
ORDER BY volume_total DESC
)
SELECT ticker, round(volume_medio, 4) + 0 AS volume_medio,
       CAST(volume_total AS BIGINT) AS volume_total
FROM readme ORDER BY volume_total DESC, ticker""")),

    // -- statistical, indicator and forecasting extensions over the bars --
    // MAD-based robust outliers: median absolute deviation per symbol,
    // Iglewicz–Hoaglin modified z-score |0.6745·(x−med)/MAD| > 3.5 — the
    // outlier DETECTOR companion to q72's winsorization (which clips);
    // two tiny percentile relations broadcast back over one scan each
    QuerySpec("q77_mad_outliers", (s, dir) => {
      val r = MarketView.fact(s, dir).filter(col("variacao_diaria").isNotNull)
      val med = r.groupBy("symbol")
        .agg(expr("percentile(variacao_diaria, 0.5)").as("med"))
      val dev = r.join(broadcast(med), "symbol")
        .select(col("symbol"), col("variacao_diaria").as("x"), col("med"),
          abs(col("variacao_diaria") - col("med")).as("dev"))
      val mad = dev.groupBy("symbol").agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "symbol")
        .groupBy("symbol")
        .agg(
          rd(max(col("med")), 6).as("median_return"),
          rd(max(col("mad")), 6).as("mad"),
          sum(when(col("mad") > 0 &&
            abs(lit(0.6745) * (col("x") - col("med")) / col("mad")) > 3.5,
            1L).otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n_days"))
        .orderBy("symbol")
    },
      Sql(FACT + """, m AS (
  SELECT symbol, quantile_cont(variacao_diaria, 0.5) AS med
  FROM fact WHERE variacao_diaria IS NOT NULL GROUP BY symbol
), dv AS (
  SELECT f.symbol, f.variacao_diaria AS x, m.med,
         abs(f.variacao_diaria - m.med) AS dev
  FROM fact f JOIN m ON f.symbol = m.symbol
  WHERE f.variacao_diaria IS NOT NULL
), md AS (
  SELECT symbol, quantile_cont(dev, 0.5) AS mad FROM dv GROUP BY symbol
)
SELECT dv.symbol,
       round(max(dv.med), 6) + 0 AS median_return,
       round(max(md.mad), 6) + 0 AS mad,
       CAST(sum(CASE WHEN md.mad > 0 AND abs(0.6745 * (dv.x - dv.med) / md.mad) > 3.5
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       count(*) AS n_days
FROM dv JOIN md ON dv.symbol = md.symbol
GROUP BY dv.symbol ORDER BY dv.symbol""")),

    // winsorized robust stats: clip each symbol's daily returns to its own
    // [p05, p95] band, report raw vs clipped mean — outlier-robust
    // aggregation, one scan + one broadcast of the tiny percentile relation
    QuerySpec("q72_winsorized_returns", (s, dir) => {
      val r = MarketView.fact(s, dir).filter(col("variacao_diaria").isNotNull)
      val bounds = r.groupBy("symbol").agg(
        expr("percentile(variacao_diaria, 0.05)").as("lo"),
        expr("percentile(variacao_diaria, 0.95)").as("hi"))
      r.join(broadcast(bounds), "symbol")
        .groupBy("symbol")
        .agg(
          rd(avg(col("variacao_diaria")), 6).as("mean_raw"),
          rd(avg(greatest(col("lo"), least(col("hi"), col("variacao_diaria")))), 6)
            .as("mean_winsorized"),
          sum(when(col("variacao_diaria") < col("lo") ||
            col("variacao_diaria") > col("hi"), 1L).otherwise(0L)).as("n_clipped"))
        .orderBy("symbol")
    },
      Sql(FACT + """, r AS (
  SELECT symbol, variacao_diaria FROM fact WHERE variacao_diaria IS NOT NULL
), b AS (
  SELECT symbol,
         quantile_cont(variacao_diaria, 0.05) AS lo,
         quantile_cont(variacao_diaria, 0.95) AS hi
  FROM r GROUP BY symbol
)
SELECT r.symbol,
       round(avg(variacao_diaria), 6) + 0 AS mean_raw,
       round(avg(greatest(lo, least(hi, variacao_diaria))), 6) + 0 AS mean_winsorized,
       CAST(sum(CASE WHEN variacao_diaria < lo OR variacao_diaria > hi
                THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
FROM r JOIN b ON r.symbol = b.symbol
GROUP BY r.symbol ORDER BY r.symbol""")),
    // incremental MV maintenance contract: weekly stats REASSEMBLED from
    // daily sufficient-statistic partials; the oracle states the DIRECT
    // computation — hash-equality proves partial-merge ≡ direct
    QuerySpec("q100_partial_merge", (s, dir) =>
      Analytics.weeklyFromPartials(Analytics.dailyValuePartials(s, dir)),
      // the DIRECT weekly computation over raw quotes, from the SAME decimal
      // sufficient statistics (n, Σv, Σv²) the engine's daily partials carry:
      // decimal sums are exact and associative, so hash-equality through the
      // daily-partials route proves incremental merge ≡ direct with an
      // ORDER-INDEPENDENT contract (raw double avg/stddev accumulation would
      // make the parity depend on summation order — float-lucky)
      Sql("""
WITH e AS (
  SELECT event_type AS symbol, CAST(ts AS DATE) AS d, value FROM events
), w AS (
  SELECT symbol, strftime(date_trunc('week', d), '%Y-%m-%d') AS semana,
         count(*) AS n_quotes,
         count(DISTINCT d) AS n_days,
         CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS s,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS q
  FROM e GROUP BY 1, 2
)
SELECT symbol, semana, n_quotes, n_days,
       round(s / n_quotes, 6) + 0 AS mean_value,
       round(CASE WHEN n_quotes > 1 THEN
         sqrt(greatest((q - s * s / n_quotes) / (n_quotes - 1), 0.0))
       END, 6) + 0 AS std_value
FROM w ORDER BY symbol, semana""")),
    // rolling 30-day pairwise correlation: q68's static corr over a moving
    // frame — one window scan per symbol pair
    QuerySpec("q109_rolling_corr", (s, dir) => Analytics.rollingCorrelation(s, dir), Sql(FACT + """, r AS (
  SELECT symbol, date, variacao_diaria AS r FROM fact WHERE variacao_diaria IS NOT NULL
), p AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.date, a.r AS ra, b.r AS rb
  FROM r a JOIN r b ON a.date = b.date AND a.symbol < b.symbol
)
SELECT sym_a, sym_b, strftime(date, '%Y-%m-%d') AS date,
       round(corr(ra, rb) OVER (PARTITION BY sym_a, sym_b ORDER BY date
         ROWS BETWEEN 29 PRECEDING AND CURRENT ROW), 6) + 0 AS corr30
FROM p ORDER BY sym_a, sym_b, date""")),
    // the remaining window-function surface in one relation: lead, lag@2,
    // nth_value over an explicit running frame, cume_dist
    QuerySpec("q111_window_suite", (s, dir) =>
      Analytics.windowSuite(MarketView.dailyBars(s, dir)),
      Sql(BARS + """
SELECT symbol, CAST(date AS VARCHAR) AS date, close,
       lead(close, 1) OVER w AS next_close,
       lag(close, 2) OVER w AS prev2_close,
       nth_value(close, 2) OVER (PARTITION BY symbol ORDER BY date
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_close,
       round(cume_dist() OVER (PARTITION BY symbol ORDER BY close), 6) + 0 AS close_cume_dist
FROM bars
WINDOW w AS (PARTITION BY symbol ORDER BY date)
ORDER BY symbol, date""")),

    // WEEKLY OHLC RESAMPLE via ordered aggregates: min_by/max_by pick the
    // first open / last close in ONE map-side-combinable hash aggregate —
    // no window, no row_number, no second exchange. The 100 TB shape for
    // downsampling: a window-rank formulation would sort every partition;
    // this is a straight partial+final aggregate keyed (symbol, week).
    QuerySpec("q151_weekly_ohlc", (s, dir) =>
      MarketView.dailyBars(s, dir)
        .groupBy(col("symbol"), date_trunc("week", col("date"))
          .cast(org.apache.spark.sql.types.DateType).as("wk"))
        .agg(min_by(col("open"), col("date")).as("open"),
          max(col("high")).as("high"), min(col("low")).as("low"),
          max_by(col("close"), col("date")).as("close"),
          sum(col("volume")).as("volume"), count(lit(1)).as("n_days"))
        .select(col("symbol"), dateStr(col("wk")).as("semana"),
          col("open"), col("high"), col("low"), col("close"),
          col("volume"), col("n_days"))
        .orderBy("symbol", "semana"),
      // DuckDB min_by/max_by are the same ordered aggregates; daily dates are
      // unique within (symbol, week), so the pick is deterministic
      Sql(BARS + """
SELECT symbol, strftime(CAST(date_trunc('week', date) AS DATE), '%Y-%m-%d') AS semana,
       min_by(open, date) AS open, max(high) AS high, min(low) AS low,
       max_by(close, date) AS close, CAST(sum(volume) AS BIGINT) AS volume,
       CAST(count(*) AS BIGINT) AS n_days
FROM bars GROUP BY 1, 2 ORDER BY symbol, semana""")),

    // DAY-OF-WEEK SEASONAL ANOMALIES: per-(symbol, weekday) mean/std of
    // daily returns via decimal sufficient statistics (the q143 contract —
    // order-free, engine-exact), broadcast back over one scan; a return is
    // anomalous when its |z| > 2 against its own weekday's distribution.
    // sqrt is IEEE-correctly-rounded, so mu/sd/z are bit-identical across
    // engines; the threshold compares identical doubles. PG DOW shim: −1.
    QuerySpec("q153_seasonal_anomaly", (s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      val f = MarketView.fact(s, dir)
        .filter(col("variacao_diaria").isNotNull)
        .withColumn("dow", (dayofweek(col("date")) - 1).cast("long"))
      val sm = col("sm").cast("double") / col("n")
      val st = f.groupBy("symbol", "dow")
        .agg(count(lit(1)).as("n"),
          sum(round(col("variacao_diaria"), 9).cast(dec)).as("sm"),
          sum(round(col("variacao_diaria") * col("variacao_diaria"), 9).cast(dec)).as("ss"))
        .select(col("symbol"), col("dow"), rd(sm, 6).as("mu"),
          rd(sqrt(greatest(lit(0.0), col("ss").cast("double") / col("n") - sm * sm)), 6).as("sd"))
      f.join(broadcast(st), Seq("symbol", "dow"))
        .withColumn("z", rd((col("variacao_diaria") - col("mu")) / nullIfZero(col("sd")), 4))
        .filter(abs(col("z")) > 2)
        .select(col("symbol"), dateStr(col("date")).as("date"), col("dow"),
          rd(col("variacao_diaria"), 6).as("ret"), col("z"))
        .orderBy("symbol", "date")
    },
      // identical decimal sufficient statistics, identical rounded mu/sd, so
      // z and the |z| > 2 cut compare bit-identical doubles on both engines
      Sql(FACT + """
, f AS (
  SELECT symbol, date, dayofweek(date) AS dow, variacao_diaria AS ret
  FROM fact WHERE variacao_diaria IS NOT NULL
), st AS (
  SELECT symbol, dow, count(*) AS n,
         sum(CAST(round(ret, 9) AS DECIMAL(30,12))) AS sm,
         sum(CAST(round(ret * ret, 9) AS DECIMAL(30,12))) AS ss
  FROM f GROUP BY 1, 2
), ms AS (
  SELECT symbol, dow,
         round(CAST(sm AS DOUBLE) / n, 6) + 0 AS mu,
         round(sqrt(greatest(0, CAST(ss AS DOUBLE) / n
           - (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n))), 6) + 0 AS sd
  FROM st
)
SELECT f.symbol, CAST(f.date AS VARCHAR) AS date, CAST(f.dow AS BIGINT) AS dow,
       round(f.ret, 6) + 0 AS ret,
       round((f.ret - mu) / nullif(sd, 0), 4) + 0 AS z
FROM f JOIN ms ON f.symbol = ms.symbol AND f.dow = ms.dow
WHERE abs(round((f.ret - mu) / nullif(sd, 0), 4) + 0) > 2
ORDER BY f.symbol, f.date""")),

    // FAST/SLOW TRUNCATED EWMA + MACD per symbol: decays 0.5/0.75 whose
    // powers, normalizers, and per-term multiplies are EXACT doubles on
    // both engines (see Indicators scaladoc) — the per-row frame fold is
    // order-free decimal, so the indicator is bit-reproducible. One
    // exchange on symbol; the textbook decay^-rn window-sum trick is
    // rejected in-code (it overflows double within a year of bars).
    QuerySpec("q150_ema_macd", (s, dir) => Indicators.emaMacd(s, dir), Sql(Indicators.emaMacdOracleSql(BARS))),

    // PER-SYMBOL OLS TREND: closed-form regression of close on the day
    // index from ONE pass of distributive sufficient statistics (n, Σt,
    // Σx, Σtx, Σt²) under the decimal contract — the sums are exact and
    // order-free, so slope/intercept are single deterministic IEEE chains
    // on identical doubles. The map-side-combined aggregate shape is how
    // per-key regression runs at 100 TB (never a per-key collect or fit).
    QuerySpec("q162_symbol_trend", (s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      val t = unix_date(col("date")).cast("double")
      val a = MarketView.dailyBars(s, dir)
        .select(col("symbol"), t.as("t"), col("close").as("x"))
        .groupBy("symbol")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("t").cast(dec)).as("st"),
          sum(round(col("x"), 9).cast(dec)).as("sx"),
          sum(round(col("t") * col("x"), 9).cast(dec)).as("stx"),
          sum((col("t") * col("t")).cast(dec)).as("stt"))
      val (st, sx, stx, stt) = (col("st").cast("double"), col("sx").cast("double"),
        col("stx").cast("double"), col("stt").cast("double"))
      val slope = (col("n") * stx - st * sx) / (col("n") * stt - st * st)
      // intercept from the PUBLISHED (6-decimal) slope: the raw slope*st
      // product sits at ~1e6 scale where a 1-ulp slope difference crosses
      // the round-6 boundary; quantizing first makes the chain exact
      val slope6 = rd(slope, 6)
      a.select(col("symbol"), col("n").cast("long").as("n_days"),
          slope6.as("slope"),
          rd((sx - slope6 * st) / col("n"), 6).as("intercept"))
        .orderBy("symbol")
    },
      // identical sufficient statistics, identical IEEE combination order
      Sql(BARS + """, a AS (
  SELECT symbol, CAST(count(*) AS DOUBLE) AS n,
         sum(CAST((date - DATE '1970-01-01') AS DECIMAL(30,12))) AS st,
         sum(CAST(round(close, 9) AS DECIMAL(30,12))) AS sx,
         sum(CAST(round((date - DATE '1970-01-01') * close, 9) AS DECIMAL(30,12))) AS stx,
         sum(CAST((date - DATE '1970-01-01') * (date - DATE '1970-01-01') AS DECIMAL(30,12))) AS stt
  FROM bars GROUP BY symbol
)
SELECT symbol, CAST(n AS BIGINT) AS n_days,
       round((n * CAST(stx AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
           / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)), 6) + 0 AS slope,
       round((CAST(sx AS DOUBLE)
           - (round((n * CAST(stx AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
           / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)), 6) + 0)
           * CAST(st AS DOUBLE)) / n, 6) + 0 AS intercept
FROM a ORDER BY symbol""")),

    // RETURN HISTOGRAM: fixed-width 2%-bins of daily returns per symbol,
    // clamped to [-5, 5] — floor/least/greatest on identical doubles, so
    // the binning is engine-exact; one partial+final aggregate
    QuerySpec("q163_return_histogram", (s, dir) =>
      MarketView.fact(s, dir).filter(col("variacao_diaria").isNotNull)
        .withColumn("bin", least(greatest(floor(col("variacao_diaria") / 2.0),
          lit(-5.0)), lit(5.0)).cast("long"))
        .groupBy("symbol", "bin").agg(count(lit(1)).as("n"))
        .orderBy("symbol", "bin"),
      Sql(FACT + """
SELECT symbol,
       CAST(least(greatest(floor(variacao_diaria / 2.0), -5.0), 5.0) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n
FROM fact WHERE variacao_diaria IS NOT NULL
GROUP BY 1, 2 ORDER BY symbol, bin""")),

    // STREAMING RECURSIVE EMA: unbounded-history recursive indicator as
    // per-symbol keyed state (flatMapGroupsWithState), state quantized at
    // 6 decimals each step so streaming == sequential fold == the oracle's
    // RECURSIVE CTE, independent of micro-batch boundaries. The stateful
    // complement of q150's truncated-window EWMA.
    QuerySpec("q165_stream_ema", (s, dir) =>
      graft.streaming.StreamingOps.streamEmaParity(s, dir),
      // the same quantized recursion, replayed as a RECURSIVE CTE
      Sql("WITH RECURSIVE " + BARS.stripPrefix("WITH ") + """, b AS (
  SELECT symbol, date, close,
         row_number() OVER (PARTITION BY symbol ORDER BY date) AS rn
  FROM bars
), r AS (
  SELECT symbol, date, rn, round(close, 6) + 0 AS ema
  FROM b WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.date, b.rn, round(0.125 * b.close + 0.875 * r.ema, 6) + 0
  FROM b JOIN r ON b.symbol = r.symbol AND b.rn = r.rn + 1
)
SELECT symbol, strftime(date, '%Y-%m-%d') AS date, ema
FROM r ORDER BY symbol, date""")),

    // EQUAL-FREQUENCY DECILES: ntile(10) over the strict (return, date)
    // total order per symbol — the quantile-discretizer binning; per-decile
    // census with range bounds. Both engines implement ntile's positional
    // rule identically given the same strict order.
    QuerySpec("q170_return_deciles", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol").orderBy(col("variacao_diaria"), col("date"))
      MarketView.fact(s, dir).filter(col("variacao_diaria").isNotNull)
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy("symbol", "decile")
        .agg(count(lit(1)).as("n"),
          rd(min(col("variacao_diaria")), 6).as("lo"),
          rd(max(col("variacao_diaria")), 6).as("hi"))
        .orderBy("symbol", "decile")
    },
      Sql(FACT + """
, d AS (
  SELECT symbol, variacao_diaria,
         ntile(10) OVER (PARTITION BY symbol
                         ORDER BY variacao_diaria, date) AS decile
  FROM fact WHERE variacao_diaria IS NOT NULL
)
SELECT symbol, CAST(decile AS BIGINT) AS decile, CAST(count(*) AS BIGINT) AS n,
       round(min(variacao_diaria), 6) + 0 AS lo,
       round(max(variacao_diaria), 6) + 0 AS hi
FROM d GROUP BY 1, 2 ORDER BY symbol, decile""")),

    // BENFORD FIRST-DIGIT AUDIT: the fraud/data-quality screen — observed
    // first-digit distribution of volumes per symbol vs Benford's law,
    // with a chi-square statistic. First digit via STRING head (exact on
    // both engines — no log10 at runtime); expected shares are driver-
    // computed literals shared verbatim with the oracle; chi2 terms ride
    // the round-9/decimal window sum.
    QuerySpec("q167_benford", (s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      val p = benfordShares // digit d -> log10(1 + 1/d), as driver literals
      val expCol = (1 to 9).foldLeft(lit(0.0))((acc, d) =>
        when(col("digit") === d, lit(p(d - 1))).otherwise(acc))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("symbol")
      MarketView.dailyBars(s, dir)
        .filter(col("volume") > 0)
        .withColumn("digit",
          substring(col("volume").cast("string"), 1, 1).cast("long"))
        .groupBy("symbol", "digit").agg(count(lit(1)).as("n_obs"))
        .withColumn("n", sum(col("n_obs")).over(w))
        .withColumn("exp_n", col("n") * expCol)
        .withColumn("term",
          (col("n_obs") - col("exp_n")) * (col("n_obs") - col("exp_n")) / col("exp_n"))
        .withColumn("chi2",
          rd(sum(round(col("term"), 9).cast(dec)).over(w).cast("double"), 4))
        .select(col("symbol"), col("digit"), col("n_obs"),
          rd(col("exp_n"), 4).as("exp_n"), col("chi2"))
        .orderBy("symbol", "digit")
    },
      // identical literals, identical window decimal sums
      Sql(BARS + s""", o AS (
  SELECT symbol, CAST(substr(CAST(volume AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         count(*) AS n_obs
  FROM bars WHERE volume > 0 GROUP BY 1, 2
), p AS (SELECT * FROM (VALUES ${benfordShares.zipWithIndex
        .map { case (v, i) => s"(${i + 1}, CAST($v AS DOUBLE))" }.mkString(", ")}) t(digit, share)),
e2 AS (
  SELECT o.symbol, o.digit, o.n_obs,
         sum(o.n_obs) OVER (PARTITION BY o.symbol) AS n, p.share
  FROM o JOIN p ON p.digit = o.digit
)
SELECT symbol, digit, CAST(n_obs AS BIGINT) AS n_obs,
       round(n * share, 4) + 0 AS exp_n,
       round(CAST(sum(CAST(round((n_obs - n * share) * (n_obs - n * share)
             / (n * share), 9) AS DECIMAL(30,12)))
           OVER (PARTITION BY symbol) AS DOUBLE), 4) + 0 AS chi2
FROM e2 ORDER BY symbol, digit""")),

    // ROLLING EXACT MEDIAN (15-row frame) of daily volume per symbol: the
    // engine sorts each frame's collected values and interpolates even
    // counts exactly like DuckDB's windowed median (quantile_cont 0.5);
    // volumes are integers < 2^53, so the lower/upper average is one exact
    // IEEE op. One symbol-keyed exchange shared with the window sort.
    QuerySpec("q175_rolling_median", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol").orderBy("date").rowsBetween(-14, 0)
      MarketView.dailyBars(s, dir)
        .withColumn("vols", sort_array(collect_list(col("volume")).over(w)))
        .withColumn("n", size(col("vols")))
        .withColumn("med_15",
          when(col("n") === 0, lit(null).cast("double"))
            .when(col("n") % 2 === 1,
              element_at(col("vols"), ((col("n") + 1) / 2).cast("int")).cast("double"))
            .otherwise(
              (element_at(col("vols"), (col("n") / 2).cast("int")) +
                element_at(col("vols"), (col("n") / 2 + 1).cast("int"))) / 2.0))
        .select(col("symbol"), dateStr(col("date")).as("date"), col("volume"),
          rd(col("med_15"), 6).as("med_15"), col("n").cast("long").as("n_frame"))
        .orderBy("symbol", "date")
    },
      // DuckDB's windowed median IS quantile_cont(0.5) over the frame —
      // identical interpolation; count(volume) mirrors collect_list's
      // null-skipping
      Sql(BARS + """
SELECT symbol, CAST(date AS VARCHAR) AS date, volume,
       round(median(volume) OVER w, 6) + 0 AS med_15,
       CAST(count(volume) OVER w AS BIGINT) AS n_frame
FROM bars
WINDOW w AS (PARTITION BY symbol ORDER BY date
             ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
ORDER BY symbol, date""")),

    // SAMPLE AUTOCORRELATION at lags 1..5 per symbol — the Box–Jenkins
    // model-identification diagnostic. Two-pass mean-centering under the
    // q179 decimal contract; the k lag columns ride ONE symbol-keyed window
    // scan, and the unpivot explodes the symbols-sized aggregate, never the
    // bar stream.
    QuerySpec("q176_acf", (s, dir) => Indicators.acf(MarketView.fact(s, dir), 5),
      // two-pass mean-centering + lag products under the q179 decimal
      // contract; the unpivot is a UNION ALL over the symbols-sized aggregate
      Sql(Indicators.acfOracleSql(FACT, 5))),

    // ANCHORED VWAP re-anchored monthly: typical price (H+L+C)/3 weighted
    // by integer daily volume; running numerator is an order-free decimal
    // window sum, so the running ratio is exact-operand IEEE on both
    // engines. One symbol exchange, no join.
    QuerySpec("q177_vwap", (s, dir) => Indicators.anchoredVwap(MarketView.dailyBars(s, dir)),
      // month-anchored running decimal window sums; the ratio divides exact
      // operands
      Sql(Indicators.anchoredVwapOracleSql(BARS))),

    // CUSUM CHANGE-POINT detection, window-reduced: the recursive
    // S_t = max(0, S_{t-1} + z_t - k) folds to P_t - min(0, running-min P)
    // where P is the prefix sum of (z - k) — so the sequential control
    // chart becomes two plain windows over one symbol exchange. All state
    // is DECIMAL (z quantized at 6, increments at 9): the running sums,
    // mins, and the h-threshold compare are exact on both engines.
    QuerySpec("q179_cusum", (s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      val f = MarketView.fact(s, dir)
        .filter(col("variacao_diaria").isNotNull)
      val sm = col("sm").cast("double") / col("n")
      val st = f.groupBy("symbol")
        .agg(count(lit(1)).as("n"),
          sum(round(col("variacao_diaria"), 9).cast(dec)).as("sm"),
          sum(round(col("variacao_diaria") * col("variacao_diaria"), 9).cast(dec)).as("ss"))
        .select(col("symbol"), rd(sm, 6).as("mu"),
          rd(sqrt(greatest(lit(0.0), col("ss").cast("double") / col("n") - sm * sm)), 6).as("sd"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol").orderBy("date")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val z = f.join(broadcast(st), "symbol")
        .withColumn("z", rd((col("variacao_diaria") - col("mu")) / nullIfZero(col("sd")), 6))
        .filter(col("z").isNotNull)
      val zero = lit(0).cast(dec)
      val withP = z
        .withColumn("p", sum(round(col("z") - lit(0.5), 9).cast(dec)).over(w))
        .withColumn("q", sum(round(-col("z") - lit(0.5), 9).cast(dec)).over(w))
        .withColumn("s_pos", col("p") - least(min(col("p")).over(w), zero))
        .withColumn("s_neg", col("q") - least(min(col("q")).over(w), zero))
      withP.select(col("symbol"), dateStr(col("date")).as("date"), col("z"),
          rd(col("s_pos").cast("double"), 6).as("s_pos"),
          rd(col("s_neg").cast("double"), 6).as("s_neg"),
          (col("s_pos") > 4 || col("s_neg") > 4).cast("long").as("alarm"))
        .orderBy("symbol", "date")
    },
      // the same window reduction stated in SQL: P - min(0, running-min P),
      // everything DECIMAL until the final rounded cast
      Sql(FACT + """
, f AS (
  SELECT symbol, date, variacao_diaria AS ret
  FROM fact WHERE variacao_diaria IS NOT NULL
), st AS (
  SELECT symbol, count(*) AS n,
         sum(CAST(round(ret, 9) AS DECIMAL(30,12))) AS sm,
         sum(CAST(round(ret * ret, 9) AS DECIMAL(30,12))) AS ss
  FROM f GROUP BY 1
), ms AS (
  SELECT symbol,
         round(CAST(sm AS DOUBLE) / n, 6) + 0 AS mu,
         round(sqrt(greatest(0, CAST(ss AS DOUBLE) / n
           - (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n))), 6) + 0 AS sd
  FROM st
), z AS (
  SELECT f.symbol, f.date,
         round((f.ret - mu) / nullif(sd, 0), 6) + 0 AS z
  FROM f JOIN ms ON f.symbol = ms.symbol
  WHERE round((f.ret - mu) / nullif(sd, 0), 6) IS NOT NULL
), p0 AS (
  SELECT symbol, date, z,
         sum(CAST(round(z - 0.5, 9) AS DECIMAL(30,12))) OVER w AS p,
         sum(CAST(round(-z - 0.5, 9) AS DECIMAL(30,12))) OVER w AS q
  FROM z
  WINDOW w AS (PARTITION BY symbol ORDER BY date ROWS UNBOUNDED PRECEDING)
), pq AS (
  SELECT symbol, date, z, p, q,
         min(p) OVER w AS minp, min(q) OVER w AS minq
  FROM p0
  WINDOW w AS (PARTITION BY symbol ORDER BY date ROWS UNBOUNDED PRECEDING)
)
SELECT symbol, CAST(date AS VARCHAR) AS date, z,
       round(CAST(p - least(minp, 0) AS DOUBLE), 6) + 0 AS s_pos,
       round(CAST(q - least(minq, 0) AS DOUBLE), 6) + 0 AS s_neg,
       CAST(CASE WHEN p - least(minp, 0) > 4 OR q - least(minq, 0) > 4
            THEN 1 ELSE 0 END AS BIGINT) AS alarm
FROM pq ORDER BY symbol, date""")),

    // TWO-SAMPLE KOLMOGOROV–SMIRNOV per symbol vs the pooled rest: exact
    // ECDF max-gap over the 6-decimal return grid — integer counting, one
    // scan, rest-ECDF derived by subtraction (no second pass)
    QuerySpec("q180_ks_test", (s, dir) => Stats.ksPerSymbol(MarketView.fact(s, dir)),
      // exact ECDF max-gap on the 6-decimal return grid; all ratios divide
      // integer-valued doubles
      Sql(Stats.ksOracleSql(FACT))),

    // SEASONAL-NAIVE BACKTEST: close(d-7) forecast + MAE/bias/RMSE/MAPE —
    // the baseline every forecaster must beat; calendar self-join, no
    // window sort, decimal metric folds
    QuerySpec("q190_forecast_backtest", (s, dir) =>
      Indicators.seasonalNaiveBacktest(MarketView.dailyBars(s, dir)),
      // the same calendar join + decimal metric folds
      Sql(Indicators.seasonalNaiveBacktestOracleSql(BARS))),

    // THEIL–SEN robust slope: median of all pairwise slopes per symbol —
    // pair fan-out bounded by the CALENDAR (trading days), not row scale
    QuerySpec("q191_theil_sen", (s, dir) => Stats.theilSen(MarketView.dailyBars(s, dir)),
      // the literal pairwise-slope median (435 slopes per symbol — odd count,
      // so both engines take the exact middle element)
      Sql(Stats.theilSenOracleSql(BARS))),

    // LONGEST WIN-STREAK per symbol: gaps-and-islands run census with
    // earliest-start tie-break — integer counting + calendar dates only
    QuerySpec("q198_win_streaks", (s, dir) => Indicators.winStreaks(MarketView.fact(s, dir)),
      // identical run-id window over the shared fact CTE
      Sql(Indicators.winStreaksOracleSql(FACT))),

    // HOLT LINEAR SMOOTHING + HOLDOUT BACKTEST: the level+trend recursion
    // as a per-symbol aggregate-HOF fold (q165's quantized contract in
    // batch), judged against the q190 seasonal-naive baseline on exact
    // decimal error sums
    QuerySpec("q208_holt_backtest", (s, dir) =>
      Indicators.holtBacktest(MarketView.dailyBars(s, dir)),
      // the identical recursion as a RECURSIVE CTE
      Sql(Indicators.holtBacktestOracleSql(BARS))),

    // DETERMINISTIC POISSON BOOTSTRAP CI: per-row Binomial(8,1/8)
    // multiplicities from md5 — both engines draw identical resamples;
    // positional 5/95 order statistics over the B resample means
    QuerySpec("q209_bootstrap_ci", (s, dir) => Stats.bootstrapCi(MarketView.fact(s, dir)),
      // identical hash draws, means, and order statistics
      Sql(Stats.bootstrapCiOracleSql(FACT)))
  )
}
