package graft.operators

import graft.functions.Fx._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType}

/** Gold-layer analytics over the market fact (SURVEY.md §2.4–§2.6, §2.8).
  *
  * All aggregations are hash aggregations with map-side partial combine; key
  * cardinality is tiny relative to input (tickers, weeks), which is exactly
  * the shape that scales: at 100 TB the shuffle carries only the partial
  * aggregates, never the fact rows.
  */
object Analytics {

  /** A1: weekly volatility — `STDDEV_SAMP(variacao) GROUP BY ticker, week`
    * (reference `dags/financial_pipeline.py:203-209`). Week buckets are
    * Monday-start via date_trunc. Returns (symbol, semana: date, vol).
    */
  def weeklyVolatility(fact: DataFrame): DataFrame =
    fact.filter(col("variacao_diaria").isNotNull)
      .groupBy(col("symbol"), date_trunc("week", col("date")).cast(DateType).as("semana"))
      .agg(nanToNull(stddev_samp(col("variacao_diaria"))).as("vol"))

  /** A4 + T1/T2: mean weekly volatility per ticker, most-volatile first —
    * the reference's flagship report query (`dags/financial_pipeline.py:59-66`).
    * Two-level aggregation: partial/final weekly stddev, then re-agg per ticker.
    */
  def avgVolatilityPerTicker(fact: DataFrame): DataFrame =
    avgVolatilityFromWeekly(weeklyVolatility(fact))

  /** A4 read from the materialized weekly view, as the reference's report
    * does (`AVG(vol) FROM volatility_weekly`): `weekly` has the columns of
    * `weeklyVolatility`.
    */
  def avgVolatilityFromWeekly(weekly: DataFrame): DataFrame =
    weekly
      .groupBy("symbol")
      .agg(rd(avg(col("vol")), 4).as("avg_volatility"))
      .orderBy(col("avg_volatility").desc, col("symbol").asc)

  /** A2: per-ticker risk profile (reference `README.md:88-97`). */
  def riskProfile(fact: DataFrame): DataFrame =
    fact.filter(col("variacao_diaria").isNotNull)
      .groupBy("symbol")
      .agg(
        rd(nanToNull(stddev_samp(col("variacao_diaria"))), 6).as("volatilidade"),
        rd(avg(col("variacao_diaria")), 6).as("variacao_media"),
        rd(max(col("variacao_diaria")), 6).as("maior_alta"),
        rd(min(col("variacao_diaria")), 6).as("maior_queda"))
      .orderBy(col("volatilidade").desc, col("symbol").asc)

  /** A3: per-ticker liquidity (reference `README.md:108-115`). */
  def liquidity(bars: DataFrame): DataFrame =
    bars.groupBy("symbol")
      .agg(
        rd(avg(col("volume")), 4).as("volume_medio"),
        sum(col("volume")).as("volume_total"))
      .orderBy(col("volume_total").desc, col("symbol").asc)

  /** A9–A12: grand aggregates over the fact (notebook cells 98-100, 426-428). */
  def globalStats(fact: DataFrame): DataFrame =
    fact.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("symbol")).as("n_symbols"),
      countDistinct(col("date")).as("n_days"),
      dateStr(min(col("date"))).as("first_date"),
      dateStr(max(col("date"))).as("last_date"),
      rd(avg(col("close")), 4).as("avg_close"),
      rd(nanToNull(stddev_samp(col("variacao_diaria"))), 4).as("std_variacao"),
      rd(avg(col("volume")), 4).as("avg_volume"))

  /** A13 + F1: instrument dimension — distinct tickers with display name
    * (reference `dags/financial_pipeline.py:149`).
    */
  def dimInstrument(bars: DataFrame): DataFrame =
    bars.select(col("symbol").as("ticker")).distinct()
      .withColumn("nome", concat(lit("Ativo "), col("ticker")))
      .orderBy("ticker")

  /** A13 + F2–F4: time dimension with PG DOW convention 0=Sunday…6=Saturday
    * (reference `dags/financial_pipeline.py:153-161`; Spark dayofweek is
    * 1=Sunday, hence the -1).
    */
  def dimTempo(bars: DataFrame): DataFrame =
    bars.select(col("date")).distinct()
      .select(
        dateStr(col("date")).as("data_id"),
        year(col("date")).cast("long").as("ano"),
        month(col("date")).cast("long").as("mes"),
        (dayofweek(col("date")) - 1).cast("long").as("dia_da_semana"))
      .orderBy("data_id")

  /** P4/P5/O3: the data-quality gate (reference `dags/financial_pipeline.py:126-136`)
    * — row count, critical-null count, and key uniqueness in one pass.
    */
  def qualityGate(bars: DataFrame): DataFrame = qualityGate(bars, Nil)

  /** The gate with row-level `checks` evaluated in the same pass: after
    * (total_rows, null_criticals, passed) comes one violation count per
    * check, named after it.
    */
  def qualityGate(bars: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    val gate = Seq(
      count(lit(1)).as("total_rows"),
      Quality.violations(Quality.criticalNotNull).as("null_criticals"),
      countDistinct(concat_ws("|", col("symbol"), dateStr(col("date")))).as("n_keys"))
    val violations = checks.map { case (name, pred) => Quality.violations(pred).as(name) }
    bars.agg(gate.head, gate.tail ++ violations: _*)
      .select(Seq(col("total_rows"), col("null_criticals"),
        when(col("null_criticals") === 0 && col("n_keys") === col("total_rows"), 1L)
          .otherwise(0L).as("passed")) ++ checks.map { case (name, _) => col(name) }: _*)
  }

  /** A5/F5/F7: README's rounded weekly volatility variant (`README.md:64-71`). */
  def weeklyVolatilityRounded(fact: DataFrame): DataFrame =
    fact.filter(col("variacao_diaria").isNotNull)
      .groupBy(col("symbol").as("ticker"),
        date_trunc("week", col("date")).cast(DateType).as("semana"))
      .agg(rd(nanToNull(stddev_samp(col("variacao_diaria"))), 2).as("vol"))
      .select(col("ticker"), dateStr(col("semana")).as("semana"), col("vol"))
      .orderBy("ticker", "semana")

  /** F11/F12: min-max normalized scores + weighted investor profiles
    * (notebook cells 468-507; weights 0.5/0.3/0.2, 0.35/0.35/0.3, 0.2/0.5/0.3).
    * The grand min/max row is broadcast-crossed into the 1-row-per-ticker
    * metrics — a single action, no driver-side loop.
    */
  def investorScores(fact: DataFrame): DataFrame = {
    val metrics = fact.filter(col("variacao_diaria").isNotNull)
      .groupBy("symbol")
      .agg(
        nanToNull(stddev_samp(col("variacao_diaria"))).as("vol"),
        avg(col("variacao_diaria")).as("vm"),
        sum(col("volume")).cast("double").as("vt"))
    // grand min/max as a global window over the ALREADY-AGGREGATED metrics
    // (ticker-cardinality rows): one lineage, one fact scan — the separate
    // agg + crossJoin(broadcast) formulation forked the plan and scanned the
    // fact twice, which at 100 TB doubles the dominant cost
    val g = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withG = metrics
      .withColumn("vol_max", max(col("vol")).over(g))
      .withColumn("vm_min", min(col("vm")).over(g))
      .withColumn("vm_max", max(col("vm")).over(g))
      .withColumn("vt_min", min(col("vt")).over(g))
      .withColumn("vt_max", max(col("vt")).over(g))
    val sSeg = lit(100.0) - col("vol") / nullIfZero(col("vol_max")) * 100
    val sPerf = (col("vm") - col("vm_min")) / nullIfZero(col("vm_max") - col("vm_min")) * 100
    val sLiq = (col("vt") - col("vt_min")) / nullIfZero(col("vt_max") - col("vt_min")) * 100
    withG
      .select(col("symbol"),
        sSeg.as("s_seg"), sPerf.as("s_perf"), sLiq.as("s_liq"))
      .select(col("symbol"),
        rd(col("s_seg"), 4).as("score_seguranca"),
        rd(col("s_perf"), 4).as("score_performance"),
        rd(col("s_liq"), 4).as("score_liquidez"),
        rd(col("s_seg") * 0.5 + col("s_perf") * 0.3 + col("s_liq") * 0.2, 4).as("score_conservador"),
        rd(col("s_seg") * 0.35 + col("s_perf") * 0.35 + col("s_liq") * 0.3, 4).as("score_moderado"),
        rd(col("s_seg") * 0.2 + col("s_perf") * 0.5 + col("s_liq") * 0.3, 4).as("score_agressivo"))
      .orderBy("symbol")
  }

  /** A11 scale variants: sketch-based approximations for the statistics whose
    * exact forms hold per-key state proportional to cardinality. At 100 TB
    * `countDistinct` shuffles every distinct value; HLL++ and KLL-style
    * sketches shuffle fixed-size state per partition.
    */
  def approxStats(fact: DataFrame): DataFrame =
    fact.agg(
      approx_count_distinct(col("symbol")).as("n_symbols_approx"),
      approx_count_distinct(col("date")).as("n_days_approx"),
      expr("approx_percentile(volume, array(0.5, 0.9, 0.99))").as("volume_quantiles_approx"))

  /** T3: top-k tickers by mean daily variation (notebook `nlargest(5)` with a
    * deterministic ticker tie-break).
    */
  def topPerformance(fact: DataFrame, k: Int): DataFrame =
    fact.filter(col("variacao_diaria").isNotNull)
      .groupBy("symbol")
      .agg(rd(avg(col("variacao_diaria")), 4).as("variacao_media"))
      .orderBy(col("variacao_media").desc, col("symbol").asc)
      .limit(k)

  /** F2/F3 + A7/A8: calendar rollup by (year, month). */
  def monthlySummary(bars: DataFrame): DataFrame =
    bars.groupBy(
        year(col("date")).cast("long").as("ano"),
        month(col("date")).cast("long").as("mes"))
      .agg(
        count(lit(1)).as("n_bars"),
        rd(avg(col("close")), 4).as("avg_close"),
        sum(col("volume")).as("volume_total"))
      .orderBy("ano", "mes")

  /** Calendar gap-fill + forward-fill over a sparse daily series — the
    * resampling step every time-series consumer needs (a supplier ships on
    * ~20% of days; downstream models want a dense daily panel with the last
    * observed price carried forward).
    *
    * Shape: (1) aggregate to the observed (suppkey, day) grain with an EXACT
    * decimal sum (so the carried value is bit-identical cross-engine);
    * (2) build the calendar spine as a per-key `explode(sequence(...))` —
    * 365 rows per supplier, generated distributed, never a driver loop;
    * (3) left-join observations onto the spine (keyed shuffle);
    * (4) forward-fill with `last(ignoreNulls)` over a per-supplier ordered
    * window — state shards by supplier, each partition sorts only its own
    * series. Days before a supplier's first 1998 sale stay NULL (nothing to
    * carry). `is_filled` marks synthesized rows.
    */
  def gapFillDailySupplier(spark: org.apache.spark.sql.SparkSession,
                           dir: String): DataFrame = {
    val daily = graft.sources.Tables.lineitem(spark, dir)
      // range form, not year(l_shipdate) = 1998: a function over the column
      // defeats parquet predicate pushdown; the range reaches the scan as
      // PushedFilters min/max bounds
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1999-01-01").cast("timestamp_ntz"))
      .select(col("l_suppkey").as("suppkey"),
        col("l_shipdate").cast(DateType).as("day"),
        col("l_extendedprice"))
      .groupBy("suppkey", "day")
      .agg(count(lit(1)).as("n_items"),
        (exactSum(col("l_extendedprice")) / count(lit(1))).as("avg_price"))
    val spine = daily.select("suppkey").distinct()
      .select(col("suppkey"),
        explode(sequence(
          lit(java.sql.Date.valueOf("1998-01-01")),
          lit(java.sql.Date.valueOf("1998-12-31")))).as("day"))
    val w = Window.partitionBy("suppkey").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("suppkey", "day"), "left")
      .select(col("suppkey"), dateStr(col("day")).as("day"),
        coalesce(col("n_items"), lit(0L)).as("n_items"),
        rd(last(col("avg_price"), ignoreNulls = true).over(w), 6).as("price_filled"),
        col("n_items").isNull.cast("long").as("is_filled"))
      .orderBy("suppkey", "day")
  }

  /** Rolling pairwise correlation — q68's static corr re-expressed over a
    * moving 30-row frame per symbol pair: the time-varying co-movement
    * signal a risk monitor tracks. One date-keyed self-join pairs the
    * (already aggregated, symbols × days) return series — fan-out is
    * symbols² per date, fine for ticker-cardinality keys — then ONE window
    * scan per pair computes the frame correlation; state shards by pair.
    * Frames with fewer than 2 points (or zero variance) yield NULL via the
    * NaN shim, matching SQL semantics.
    */
  def rollingCorrelation(spark: org.apache.spark.sql.SparkSession, dir: String,
                         frameDays: Int = 30): DataFrame =
    rollingCorrelationFrom(MarketView.fact(spark, dir), frameDays)

  def rollingCorrelationFrom(factDf: DataFrame, frameDays: Int): DataFrame = {
    val fact = factDf
      .filter(col("variacao_diaria").isNotNull)
      .select(col("symbol"), col("date"), col("variacao_diaria").as("r"))
    val a = fact.toDF("sym_a", "date", "ra")
    val b = fact.toDF("sym_b", "date", "rb")
    val w = Window.partitionBy("sym_a", "sym_b").orderBy("date")
      .rowsBetween(-(frameDays - 1), Window.currentRow)
    a.join(b, Seq("date")).filter(col("sym_a") < col("sym_b"))
      .withColumn("corr30", rd(nanToNull(corr(col("ra"), col("rb")).over(w)), 6))
      .select(col("sym_a"), col("sym_b"), dateStr(col("date")).as("date"), col("corr30"))
      .orderBy("sym_a", "sym_b", "date")
  }

  /** Window-function suite over the daily bars — the remaining §2.8 window
    * surface in one relation: lead (next close), lag at offset 2, nth_value
    * over the running frame (second close seen), and cume_dist over the
    * close distribution within each symbol. All windows PARTITION BY symbol,
    * so state shards by ticker; frames are stated explicitly on both engine
    * and oracle sides (nth_value's default frame differs between engines).
    */
  def windowSuite(bars: DataFrame): DataFrame = {
    val wDate = Window.partitionBy("symbol").orderBy("date")
    val wFrame = wDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wClose = Window.partitionBy("symbol").orderBy("close")
    bars.select(col("symbol"), col("date"), col("close"))
      .withColumn("next_close", lead(col("close"), 1).over(wDate))
      .withColumn("prev2_close", lag(col("close"), 2).over(wDate))
      .withColumn("second_close", nth_value(col("close"), 2).over(wFrame))
      .withColumn("close_cume_dist", rd(cume_dist().over(wClose), 6))
      .select(col("symbol"), dateStr(col("date")).as("date"), col("close"),
        col("next_close"), col("prev2_close"), col("second_close"),
        col("close_cume_dist"))
      .orderBy("symbol", "date")
  }

  /** Daily partial aggregates of the quote stream — the Bronze relation an
    * INCREMENTAL weekly materialized view merges instead of rescanning raw
    * history: per (symbol, date) the sufficient statistics (n, Σv, Σv²).
    * At 100 TB only the arriving day's partition is aggregated; the weekly
    * roll-up below touches partials (days × symbols rows), not quotes.
    *
    * Σv and Σv² accumulate as DECIMAL (the exactSum convention): decimal
    * addition is associative, so the daily→weekly merge is bit-identical to
    * a direct weekly sum REGARDLESS of accumulation order — raw double sums
    * would make the partial-merge parity order-dependent and float-lucky.
    */
  def dailyValuePartials(spark: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame =
    MarketView.quotes(spark, dir)
      .groupBy("symbol", "date")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 6))).as("s"),
        sum((col("value") * col("value")).cast(DecimalType(38, 12))).as("q"))

  /** Weekly stats REASSEMBLED from the daily partials — mean and sample
    * stddev via the merged sufficient statistics
    * (var = (Σv² − (Σv)²/n)/(n−1)), proving the incremental route is
    * value-identical to aggregating raw quotes directly (the oracle states
    * the DIRECT computation from the SAME decimal sufficient statistics;
    * hash-equality is the proof). Because the sums are exact decimals, the
    * merge is order-independent — the final double formula is a pure
    * function of (n, Σv, Σv²), identical on both engines. The variance is
    * clamped at 0: catastrophic cancellation on a near-constant series can
    * produce a tiny negative double, and sqrt(negative) semantics differ
    * between engines. This is the partial-aggregate reuse contract that
    * makes a daily-refresh pipeline O(new data) instead of O(history).
    */
  def weeklyFromPartials(partials: DataFrame): DataFrame = {
    val n = col("n_quotes").cast("double")
    val s = col("s_sum").cast("double")
    val q = col("q_sum").cast("double")
    val variance = greatest((q - s * s / n) / (n - 1.0), lit(0.0))
    partials
      .groupBy(col("symbol"),
        date_trunc("week", col("date")).cast(DateType).as("semana"))
      .agg(sum("n").as("n_quotes"), count(lit(1)).as("n_days"),
        sum("s").as("s_sum"), sum("q").as("q_sum"))
      .select(col("symbol"), dateStr(col("semana")).as("semana"),
        col("n_quotes"), col("n_days"),
        rd(s / n, 6).as("mean_value"),
        rd(when(col("n_quotes") > 1, sqrt(variance)).otherwise(lit(null)), 6)
          .as("std_value"))
      .orderBy("symbol", "semana")
  }

  /** Exact penny allocation (q188) — largest-remainder proration: each
    * order's total (integer cents) is distributed across its line items
    * proportionally to quantity, with the rounding remainder assigned one
    * cent at a time to the largest fractional parts (ties to the lowest
    * line number). Per-order cents sum EXACTLY to the order total — the
    * invariant every revenue-recognition / cost-attribution pipeline needs
    * and naive `round(share)` violates.
    *
    * All-integer arithmetic (tc * qty <= cents * 50 stays far under 2^63),
    * so both engines agree bit-for-bit. The gate publishes per-priority
    * audit rows whose alloc_cents == order_cents equality and the
    * line-number-weighted checksum pin every row-level allocation without
    * a row-sized result.
    *
    * Scale shape: two hash aggregates + one per-order window rank, all
    * keyed by order key — one shuffle partitioning reused end to end; the
    * remainder rank never leaves its order group.
    */
  /** Row-level largest-remainder allocation (the q188 engine; see
    * [[pennyAllocation]] for the contract). One row per line item with the
    * exact integer cent allocation.
    */
  def pennyAllocationRows(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey").as("ok"),
      col("l_linenumber").cast("long").as("ln"),
      col("l_quantity").cast("long").as("qty"))
    val ord = orders.select(col("o_orderkey").as("ok"),
      col("o_orderpriority").as("priority"),
      round(col("o_totalprice") * 100, 0).cast("long").as("tc"))
    val qsum = li.groupBy("ok").agg(sum(col("qty")).as("qt"))
    val j = li.join(qsum, "ok").join(ord, "ok")
      .withColumn("base", expr("(tc * qty) div qt"))
      .withColumn("frac", expr("(tc * qty) % qt"))
    val basesum = j.groupBy("ok").agg(sum(col("base")).as("sbase"))
    val w = Window.partitionBy("ok").orderBy(col("frac").desc, col("ln"))
    j.join(basesum, "ok")
      .withColumn("r", col("tc") - col("sbase"))
      .withColumn("rk", row_number().over(w))
      .withColumn("bumped", when(col("rk") <= col("r"), 1L).otherwise(0L))
      .withColumn("alloc", col("base") + col("bumped"))
  }

  def pennyAllocation(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val alloc = pennyAllocationRows(lineitem, orders)
    alloc.groupBy("ok", "priority", "tc")
      .agg(sum(col("alloc")).as("alloc_sum"), count(lit(1)).as("n_items"),
        sum(col("bumped")).as("n_bumped"),
        sum(col("alloc") * col("ln")).as("checksum"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_orders"), sum(col("n_items")).as("n_items"),
        sum(col("alloc_sum")).as("alloc_cents"), sum(col("tc")).as("order_cents"),
        sum(col("n_bumped")).as("n_bumped"), sum(col("checksum")).as("checksum"))
      .orderBy("priority")
  }

  /** The q188 oracle: the same integer proration in DuckDB. */
  def pennyAllocationOracleSql: String = """
WITH li AS (
  SELECT l_orderkey AS ok, CAST(l_linenumber AS BIGINT) AS ln,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
), ord AS (
  SELECT o_orderkey AS ok, o_orderpriority AS priority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS tc
  FROM orders
), qsum AS (SELECT ok, sum(qty) AS qt FROM li GROUP BY 1),
j AS (
  SELECT li.ok, li.ln, o.priority, o.tc,
         (o.tc * li.qty) // q.qt AS base, (o.tc * li.qty) % q.qt AS frac
  FROM li JOIN qsum q ON li.ok = q.ok JOIN ord o ON li.ok = o.ok
), bs AS (SELECT ok, sum(base) AS sbase FROM j GROUP BY 1),
a AS (
  SELECT j.*, j.tc - bs.sbase AS r,
         row_number() OVER (PARTITION BY j.ok ORDER BY j.frac DESC, j.ln) AS rk
  FROM j JOIN bs ON j.ok = bs.ok
), al AS (
  SELECT ok, priority, tc, ln,
         base + CASE WHEN rk <= r THEN 1 ELSE 0 END AS alloc,
         CASE WHEN rk <= r THEN 1 ELSE 0 END AS bumped
  FROM a
), po AS (
  SELECT ok, priority, max(tc) AS tc, sum(alloc) AS alloc_sum,
         count(*) AS n_items, sum(bumped) AS n_bumped,
         sum(alloc * ln) AS checksum
  FROM al GROUP BY 1, 2
)
SELECT priority, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(n_items) AS BIGINT) AS n_items,
       CAST(sum(alloc_sum) AS BIGINT) AS alloc_cents,
       CAST(sum(tc) AS BIGINT) AS order_cents,
       CAST(sum(n_bumped) AS BIGINT) AS n_bumped,
       CAST(sum(checksum) AS BIGINT) AS checksum
FROM po GROUP BY 1 ORDER BY priority"""

  /** ABC / Pareto contribution classification (q197): parts ranked by
    * revenue; class A = the head covering ≤80% of cumulative revenue,
    * B = to 95%, C = the tail — the standard inventory/assortment census.
    *
    * The sequential-looking step is the GLOBAL cumulative sum over the
    * revenue-descending part order. Implemented with the q152 bucketed-
    * sweep shape instead of a single-partition window: parts bucket by a
    * fixed revenue band (bucket order agrees with the global order because
    * every part in a higher band out-ranks every part in a lower one), the
    * running sum is a window WITHIN each bucket, and the cross-bucket
    * offsets are a prefix over the tiny per-bucket-total relation,
    * broadcast back. All money is integer cents and the A/B/C cuts are
    * integer cross-multiplications (`cum·100 ≤ total·80`), so the
    * classification is exact — no FP share ever decides a class.
    *
    * Scale shape: one fact-scan aggregate keyed by part, then windows
    * partitioned by band over the catalog-bounded part relation; the only
    * unpartitioned object is the per-band total list (value-range/band
    * rows). Nothing is single-partition at any corpus size.
    */
  def abcClassification(lineitem: DataFrame, bandCents: Long = 100000L): DataFrame = {
    val rev = lineitem
      .select(col("l_partkey").as("pk"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long").as("cents"))
      .groupBy("pk").agg(sum(col("cents")).as("rev"))
      .withColumn("b", floor(col("rev") / bandCents))
    val wIn = Window.partitionBy("b").orderBy(col("rev").desc, col("pk"))
    val inBucket = rev.withColumn("cum_in", sum(col("rev")).over(wIn))
    val bandTotals = rev.groupBy("b").agg(sum(col("rev")).as("bt"))
    val wB = Window.orderBy(col("b").desc)
    val offsets = bandTotals
      .withColumn("above", sum(col("bt")).over(wB) - col("bt"))
      .withColumn("total", sum(col("bt")).over(Window.partitionBy(lit(1))))
    inBucket.join(broadcast(offsets.select("b", "above", "total")), "b")
      .withColumn("cum", col("above") + col("cum_in"))
      .withColumn("abc_class",
        when(col("cum") * 100 <= col("total") * 80, "A")
          .when(col("cum") * 100 <= col("total") * 95, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev")).as("revenue_cents"),
        sum(col("pk")).as("part_checksum"),
        rd(sum(col("rev")).cast("double") / max(col("total")) * 100, 6)
          .as("share_pct"))
      .orderBy("abc_class")
  }

  /** The q197 oracle: the DEFINITIONAL single cumulative window — hash
    * equality proves the bucketed sweep computes the same classification.
    */
  def abcClassificationOracleSql: String = """
WITH rev AS (
  SELECT l_partkey AS pk,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS rev
  FROM lineitem GROUP BY 1
), c AS (
  SELECT pk, rev,
         sum(rev) OVER (ORDER BY rev DESC, pk ROWS UNBOUNDED PRECEDING) AS cum,
         sum(rev) OVER () AS total
  FROM rev
)
SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
            WHEN cum * 100 <= total * 95 THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev) AS BIGINT) AS revenue_cents,
       CAST(sum(pk) AS BIGINT) AS part_checksum,
       round(CAST(sum(rev) AS DOUBLE) / CAST(max(total) AS DOUBLE) * 100, 6) + 0
         AS share_pct
FROM c GROUP BY 1 ORDER BY abc_class"""

  /** Distributed ntile: assign `k` equal-frequency tiles over the strict
    * (ord, tie) total order WITHOUT a single global sort window. Global
    * rank = cross-band prefix count (tiny per-band-total relation,
    * broadcast) + in-band row_number (window keyed by band — bands are
    * value ranges, so band order agrees with the global order). The tile
    * then falls out of the positional ntile rule applied to (rank, n):
    * first n%k tiles hold n/k+1 rows — exactly SQL ntile's contract, which
    * the oracles state with the plain window function.
    */
  private[graft] def ntileTiles(df: DataFrame, ord: Column, tie: Column,
      k: Int, band: Long, out: String): DataFrame = {
    val base = df.withColumn("__ord", ord)
      .withColumn("__b", floor(col("__ord") / band))
    val wIn = Window.partitionBy("__b").orderBy(col("__ord"), tie)
    val inb = base.withColumn("__rn", row_number().over(wIn).cast("long"))
    val wB = Window.orderBy(col("__b"))
    val off = base.groupBy("__b").agg(count(lit(1)).as("__bc"))
      .withColumn("__off", coalesce(
        sum(col("__bc")).over(wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum(col("__bc")).over(Window.partitionBy(lit(1))))
    // SQL ntile's positional rule on (rank, n): base tile size q = n div k,
    // the first r = n % k tiles hold q+1. `greatest(q, 1)` only guards the
    // ANSI division when n < k (every row then sits in the first branch).
    inb.join(broadcast(off.select("__b", "__off", "__n")), "__b")
      .withColumn("__i", col("__off") + col("__rn"))
      .withColumn(out, {
        val q = expr(s"__n div $k")
        val r = expr(s"__n % $k")
        when(col("__i") <= (q + 1) * r,
          expr(s"(__i - 1) div (__n div $k + 1)") + 1)
          .otherwise(r + expr(s"(__i - (__n div $k + 1) * (__n % $k) - 1) div greatest(__n div $k, 1)") + 1)
      })
      .drop("__ord", "__b", "__rn", "__off", "__n", "__i")
  }

  /** RFM segmentation (q202): recency / frequency / monetary quintiles per
    * customer, combined into the 5×5×5 marketing segment census. Scores
    * follow the "5 = best" convention (most recent, most frequent, highest
    * spend). Quintiles are SQL ntile over strict total orders (ties broken
    * by customer key), computed with the distributed banded rank — no
    * customer-global sort window; all metrics are integer days / counts /
    * cents.
    */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val maxD = orders.agg(max(col("o_orderdate").cast("date")).as("mxd"))
    val cust = orders.groupBy(col("o_custkey").as("ck"))
      .agg(max(col("o_orderdate").cast("date")).as("last_d"),
        count(lit(1)).as("freq"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
      .crossJoin(broadcast(maxD))
      .withColumn("recency", datediff(col("mxd"), col("last_d")).cast("long"))
    val scored = Seq(
      (("r_score", 30L), -col("recency")),
      (("f_score", 8L), col("freq")),
      (("m_score", 1000000L), col("cents"))
    ).foldLeft(cust) { case (d, ((name, band), ord)) =>
      ntileTiles(d, ord, col("ck"), 5, band, name)
    }
    scored.groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("cents"),
        sum(col("ck")).as("ck_checksum"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** The q202 oracle: plain ntile windows over the identical strict orders. */
  def rfmSegmentsOracleSql: String = """
WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
c AS (
  SELECT o_custkey AS ck,
         date_diff('day', max(CAST(o_orderdate AS DATE)), (SELECT mxd FROM mx)) AS recency,
         count(*) AS freq,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), t AS (
  SELECT ck, cents,
         ntile(5) OVER (ORDER BY -recency, ck) AS r_score,
         ntile(5) OVER (ORDER BY freq, ck) AS f_score,
         ntile(5) OVER (ORDER BY cents, ck) AS m_score
  FROM c
)
SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS cents,
       CAST(sum(ck) AS BIGINT) AS ck_checksum
FROM t GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score"""
}
