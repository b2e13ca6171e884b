package graft.operators

import graft.functions.Fx._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** Event-stream operators in batch form (SURVEY.md §2.9): the reference's
  * weekly `DATE_TRUNC` aggregation is the batch twin of a 7-day tumbling
  * window; sessionization is the gap-window twin. The streaming flavors live
  * in graft.streaming.StreamingOps over the same schema.
  */
object EventOps {

  /** Tumbling weekly window per event type — batch equivalent of
    * `events.withWatermark("ts","...").groupBy(window($"ts","7 days"), $"event_type")`.
    */
  def weeklyTumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("week", col("date")).cast(DateType).as("semana"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        exactSum(col("value")).as("sum_value"))
      .orderBy("event_type", "semana")

  /** Gap-based sessionization over any (user_id, ts_ns, event_id) relation:
    * a new session starts after more than `gapMinutes` of user inactivity.
    * Computed on the raw nanosecond longs — exact, no precision loss. One
    * shuffle (partition by user), then a window scan.
    */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapNs = gapMinutes.toLong * 60L * 1000000000L
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns").asc, col("event_id").asc)
    events
      .withColumn("prev_ns", lag(col("ts_ns"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ns").isNull || col("ts_ns") - col("prev_ns") > gapNs, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Last-touch attribution: every purchase is attributed to the user's most
    * recent view/click at-or-before the purchase, provided it happened within
    * `windowMinutes`; purchases with no touch in the window land in the
    * 'none' bucket. The classic marketing-attribution join, expressed as the
    * engine's as-of operator ([[AsOf.asofJoin]] — one shuffle on user_id +
    * one running-frame window, never a per-purchase range scan).
    *
    * Determinism: touches are pre-deduplicated per (user, ts_ns) with a
    * max_by(event_id) tie-break so the carried touch is a pure function of
    * the data even if two touches share a nanosecond. All time arithmetic is
    * on the raw nanosecond longs.
    */
  def lastTouchAttributionFrom(ev: DataFrame, windowMinutes: Long): DataFrame = {
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ns"), col("event_id"))
    val touches = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
      .groupBy("user_id", "ts_ns")
      .agg(max(struct(col("event_id"), col("event_type")))
        .getField("event_type").as("touch_type"))
      // the as-of carries value columns only; the attribution window needs
      // the touch's own timestamp too, so it rides as a second value column
      .withColumn("touch_ts", col("ts_ns"))
    val winNs = windowMinutes * 60L * 1000000000L
    AsOf.asofJoin(purchases, touches, "user_id", "ts_ns",
        Seq("touch_type", "touch_ts"))
      .withColumn("attributed",
        when(col("asof_touch_ts").isNull ||
          col("ts_ns") - col("asof_touch_ts") > winNs, "none")
          .otherwise(col("asof_touch_type")))
      .groupBy("attributed")
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("attributed")
  }

  /** F-ext: JSON props parsing + rollup (`get_json_object`-shaped access on
    * the `props` column, SURVEY.md §2.8 note).
    */
  def propsRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      // try_cast: malformed props degrade to NULL instead of failing the job
      // under ANSI mode (matches the oracle's TRY_CAST)
      .withColumn("k", get_json_object(col("props"), "$.k").try_cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        rd(avg(col("k")), 4).as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** Session INTERVALS (user, session start/end ns) — the gaps-and-islands
    * expansion of [[sessionize]]: same new-session flag, then a running sum
    * assigns the island id and one aggregate collapses each island to its
    * [min, max] nanosecond bounds. One shuffle keyed user_id.
    */
  def sessionIntervals(events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapNs = gapMinutes.toLong * 60L * 1000000000L
    val w = Window.partitionBy("user_id").orderBy(col("ts_ns").asc, col("event_id").asc)
    events
      .select(col("user_id"), col("ts_ns"), col("event_id"))
      .withColumn("prev_ns", lag(col("ts_ns"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ns").isNull || col("ts_ns") - col("prev_ns") > gapNs, 1L).otherwise(0L))
      .withColumn("sess", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess")
      .agg(min(col("ts_ns")).as("start_ns"), max(col("ts_ns")).as("end_ns"))
  }

  /** PEAK CONCURRENCY per day — the interval sweep line (q173): how many
    * sessions are simultaneously open, reported as each day's maximum.
    *
    * Shape: every session interval becomes two integer deltas (+1 at
    * start_ns, −1 at end_ns + 1 — half-open, so a one-event session still
    * counts at its instant), deltas COLLAPSE per exact nanosecond first
    * (removing any same-timestamp ordering ambiguity — the running sum is
    * then a pure function of the data), and the global running sum is
    * decomposed as per-day running sums plus a cross-day carry:
    *
    *   - per-day: window partitioned by the integer UTC day index — at most
    *     one day's deltas sort together, never the full history;
    *   - carry-in: per-day delta totals (a tiny dates-sized relation)
    *     prefix-summed on the driver-sized window.
    *
    * A day's peak is max(carry + running) over its delta points, floored at
    * the carry itself (the level standing at midnight). All arithmetic is
    * int64 on raw nanoseconds — hash-exact cross-engine with no float path.
    */
  def peakConcurrencyFrom(events: DataFrame, gapMinutes: Int): DataFrame = {
    val nsPerDay = 86400000000000L
    val iv = sessionIntervals(events, gapMinutes)
    val deltas = iv.select(col("start_ns").as("ts_ns"), lit(1L).as("d"))
      .unionAll(iv.select((col("end_ns") + 1L).as("ts_ns"), lit(-1L).as("d")))
      .groupBy("ts_ns").agg(sum(col("d")).as("d"))
      .withColumn("day", (col("ts_ns") / lit(nsPerDay)).cast("long"))
    val dayW = Window.partitionBy("day").orderBy("ts_ns")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = deltas.withColumn("run", sum(col("d")).over(dayW))
    val carryW = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    val carry = deltas.groupBy("day").agg(sum(col("d")).as("tot"))
      .withColumn("carry", coalesce(sum(col("tot")).over(carryW), lit(0L)))
    run.groupBy("day")
      .agg(max(col("run")).as("mx"), count(lit(1)).as("n_points"))
      .join(carry.select("day", "carry"), Seq("day"))
      .select(
        dateStr(date_add(lit("1970-01-01").cast(DateType), col("day").cast("int"))).as("date"),
        col("carry").as("carry_in"),
        greatest(col("carry"), col("carry") + col("mx")).as("peak"),
        col("n_points"))
      .orderBy("date")
  }

  /** Rolling active-user stickiness (q203): DAU, trailing-7-day WAU, and
    * the DAU/WAU ratio per day — the product-analytics engagement metric.
    *
    * The expensive part at scale is "distinct users over a sliding window":
    * a distinct-over-RANGE window is unimplementable without holding the
    * user set. The classic reformulation: collapse to (user, day) once,
    * then each user-day contributes to the ≤7 window-ends it falls in —
    * a CONSTANT fan-out explode — and WAU is a plain distinct count per
    * window end. Both distincts are keyed hash aggregates; nothing holds a
    * set larger than one group's.
    *
    * Window ends clamp to the observed calendar; the leading ≤6 days are
    * genuine partial windows (documented, matching the oracle).
    */
  def stickiness(events: DataFrame): DataFrame = {
    val userDays = events.select(col("user_id"), col("date")).distinct()
    val dau = userDays.groupBy("date").agg(count(lit(1)).as("dau"))
    val maxDay = userDays.agg(max(col("date")).as("mx"))
    val wau = userDays
      .withColumn("wend", explode(sequence(col("date"), date_add(col("date"), 6))))
      .crossJoin(broadcast(maxDay))
      .filter(col("wend") <= col("mx"))
      .select(col("user_id"), col("wend")).distinct()
      .groupBy(col("wend").as("date")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "date")
      .select(dateStr(col("date")).as("date"), col("dau"), col("wau"),
        rd(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
      .orderBy("date")
  }

  /** The q203 oracle: the same constant fan-out reformulation. */
  def stickinessOracleSql: String = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), dau AS (
  SELECT d, count(*) AS dau FROM ud GROUP BY 1
), mx AS (SELECT max(d) AS mx FROM ud),
uw AS (
  SELECT DISTINCT ud.user_id, ud.d + CAST(off.o AS INTEGER) AS wend
  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS o) off, mx
  WHERE ud.d + CAST(off.o AS INTEGER) <= mx.mx
), wau AS (
  SELECT wend AS d, count(*) AS wau FROM uw GROUP BY 1
)
SELECT strftime(dau.d, '%Y-%m-%d') AS date,
       CAST(dau.dau AS BIGINT) AS dau, CAST(wau.wau AS BIGINT) AS wau,
       round(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 6) + 0
         AS stickiness
FROM dau JOIN wau ON wau.d = dau.d ORDER BY date"""

  /** T+2 settlement-date assignment (q204): each purchase settles two
    * TRADING days after its trade date, where the trading calendar is the
    * observed event calendar minus weekends — real settlement-cycle logic
    * (weekend trades roll forward to the next trading day first, then
    * count two more).
    *
    * The calendar is calendar-bounded (dates, not rows): broadcast twice —
    * once as an as-of floor to the next trading day (constant ≤7-day probe
    * via a banded join on the day), once as an index lookup rn → rn+2.
    * Trades whose settlement would fall past the observed calendar are
    * reported unsettled (settle_date NULL) — the honest end-of-corpus cut.
    * Everything is integer dates and cents.
    */
  def settlementT2(events: DataFrame): DataFrame = {
    val cal = events.select(col("date")).distinct()
      .filter(weekday(col("date")) < 5)
    val rn = Window.orderBy("date") // trading-calendar relation: tiny
    val calIdx = cal.withColumn("rn", row_number().over(rn))
    val trades = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("date").as("trade_date"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    // next trading day >= trade date: probe the ≤7 following days against
    // the broadcast calendar, keep the earliest hit; a trade past the
    // observed calendar's end finds none and stays NULL → UNSETTLED
    val probed = trades
      .withColumn("cand", explode(sequence(col("trade_date"), date_add(col("trade_date"), 6))))
      .join(broadcast(calIdx), col("cand") === col("date"), "left")
      .groupBy("event_id", "trade_date", "cents")
      .agg(min(col("rn")).as("t0"))
    val settled = probed
      .join(broadcast(calIdx.select(col("rn").as("srn"), col("date").as("settle_date"))),
        col("t0") + 2 === col("srn"), "left")
    settled.groupBy(coalesce(dateStr(col("settle_date")), lit("UNSETTLED")).as("settle_date"))
      .agg(count(lit(1)).as("n_trades"), sum(col("cents")).as("cents"))
      .orderBy("settle_date")
  }

  /** The q204 oracle: identical calendar index + roll-forward + T+2. */
  def settlementT2OracleSql: String = """
WITH cal AS (
  SELECT d, row_number() OVER (ORDER BY d) AS rn
  FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
        WHERE isodow(CAST(ts AS DATE)) <= 5)
), tr AS (
  SELECT event_id, CAST(ts AS DATE) AS td,
         CAST(round("value" * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), nxt AS (
  SELECT t.event_id, t.td, t.cents, min(c.rn) AS t0
  FROM tr t
  CROSS JOIN (SELECT unnest(range(0, 7)) AS o) off
  LEFT JOIN cal c ON c.d = t.td + CAST(off.o AS INTEGER)
  GROUP BY 1, 2, 3
), s AS (
  SELECT n.event_id, n.cents, c2.d AS sd
  FROM nxt n LEFT JOIN cal c2 ON c2.rn = n.t0 + 2
)
SELECT coalesce(strftime(sd, '%Y-%m-%d'), 'UNSETTLED') AS settle_date,
       CAST(count(*) AS BIGINT) AS n_trades,
       CAST(sum(cents) AS BIGINT) AS cents
FROM s GROUP BY 1 ORDER BY settle_date"""
}
