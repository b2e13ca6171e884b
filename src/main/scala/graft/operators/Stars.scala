package graft.operators

import graft.functions.Fx._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Star-schema joins over the TPC-H-ish testdata (SURVEY.md §2.3 J1–J3).
  *
  * The reference declares fact→dim FKs (`dags/financial_pipeline.py:172-173`)
  * and relies on Postgres for the join strategy; here the strategy is the
  * 100 TB-correct one made explicit: dimensions (region/nation/part/supplier,
  * and customer at most scales) are `broadcast()` so the fact table never
  * shuffles for a dim lookup — the only exchanges left are the aggregations'.
  */
object Stars {

  /** J1: full star — lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region, revenue
    * rollup by region/nation. orders⋈customer is a shuffle join at 100 TB
    * (both sides scale); nation/region are broadcast.
    */
  def revenueByRegionNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** Top-k customers by order value (T1/T2 over a star join). */
  def topCustomers(spark: SparkSession, dir: String, k: Int): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(count(lit(1)).as("n_orders"), exactSum(col("o_totalprice")).as("total_spent"))
      .orderBy(col("total_spent").desc, col("c_custkey").asc)
      .limit(k)

  /** Part-type margin profile: lineitem ⋈ part (broadcast dim). */
  def partTypeStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_type")
      .agg(
        count(lit(1)).as("n_items"),
        exactSum(col("l_quantity")).as("sum_qty"),
        rd(avg(col("l_discount")), 6).as("avg_discount"),
        exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy("p_type")

  /** J3: left-semi — customers having at least one high-value order. */
  def customersWithBigOrders(spark: SparkSession, dir: String, minPrice: Double): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_totalprice") > minPrice),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  /** A14's anti-join half: customers with NO high-value order (the
    * insert-if-absent upsert is `existing ∪ (incoming ∖ existing)`; the ∖ is
    * this left_anti).
    */
  def customersWithoutBigOrders(spark: SparkSession, dir: String, minPrice: Double): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_totalprice") > minPrice),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  /** A14: insert-if-absent upsert (`INSERT … ON CONFLICT DO NOTHING`,
    * reference `dags/financial_pipeline.py:150,161`): keep every existing row,
    * add incoming rows whose key is absent. Pure DataFrame expression —
    * distributed, no driver loop.
    */
  def upsertIfAbsent(existing: DataFrame, incoming: DataFrame, key: String): DataFrame =
    existing.unionByName(absentRows(existing, incoming, key))

  /** A14's insert half: the incoming rows whose key `existing` lacks, one
    * row per key — what an append must add for `upsertIfAbsent` semantics.
    */
  def absentRows(existing: DataFrame, incoming: DataFrame, key: String): DataFrame =
    incoming.join(existing.select(key), Seq(key), "left_anti").dropDuplicates(key)

  /** TPC-H Q1-shaped pricing summary — the scan-heavy flagship aggregate.
    * The shipdate predicate pushes to the parquet scan (PushedFilters).
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(expr("l_shipdate <= TIMESTAMP_NTZ '2000-12-31 00:00:00'"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        exactSum(col("l_quantity")).as("sum_qty"),
        exactSum(col("l_extendedprice")).as("sum_base_price"),
        exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        exactSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        rd(avg(col("l_quantity")), 6).as("avg_qty"),
        rd(avg(col("l_extendedprice")), 4).as("avg_price"),
        rd(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Orders rolled up by calendar month (projection+filter pushdown shape). */
  def ordersByMonth(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mes"))
      .agg(count(lit(1)).as("n_orders"), exactSum(col("o_totalprice")).as("total"))
      .orderBy("mes")

  /** SCD2-style temporal compaction: each customer's time-ordered order
    * stream compressed into constant-status intervals — the gaps-and-islands
    * read path of slowly-changing-dimension maintenance (and of CDC log
    * compaction: N change events → one row per run of equal state).
    * Emits (custkey, seq, status, valid_from, valid_to, n_orders) where seq
    * numbers a customer's intervals in time order.
    *
    * Shape: one shuffle on custkey, then two window scans over each
    * customer's own series (change flag via lag, island id via running sum)
    * and a hash aggregation on (custkey, island). Nothing global: state
    * shards by customer exactly like the sessionize operator, so 100 TB of
    * order history compacts with per-key parallelism. Total order inside a
    * customer is (o_orderdate, o_orderkey) — orderkey breaks date ties
    * deterministically.
    */
  def statusIntervalsFrom(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_orderstatus"))
      .withColumn("chg",
        when(lag(col("o_orderstatus"), 1).over(w).isNull ||
          lag(col("o_orderstatus"), 1).over(w) =!= col("o_orderstatus"), 1L).otherwise(0L))
      .withColumn("island", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("o_custkey").as("custkey"), col("island").as("seq"),
        col("o_orderstatus").as("status"))
      .agg(dateStr(min(col("o_orderdate"))).as("valid_from"),
        dateStr(max(col("o_orderdate"))).as("valid_to"),
        count(lit(1)).as("n_orders"))
      .orderBy("custkey", "seq")
  }

  /** SCD Type-2 dimension build + point-in-time enrichment (q210) — the
    * canonical warehouse pattern: a user's status dimension is VERSIONED at
    * every status change (valid-from = the change instant; validity ends
    * when the next version begins), and each fact row joins to the version
    * that was CURRENT at its own timestamp — never today's.
    *
    * Status versions come from the non-purchase event stream (a new version
    * whenever the event type changes, per the (ts_ns, event_id) total
    * order; same-nanosecond changes collapse to the max-event_id one so the
    * dimension is a pure function of the data). The PIT join is the
    * engine's as-of operator — one keyed shuffle + a carry-forward window,
    * NOT a per-fact range scan. Purchases before any version land in the
    * explicit 'none' bucket.
    *
    * Gate: per status — version count, distinct users versioned, purchases
    * attributed at point-in-time, and their cents.
    */
  def scd2Pit(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val st = events.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
    val chg = st.filter(col("prev").isNull || col("prev") =!= col("event_type"))
    val wd = Window.partitionBy("user_id", "ts_ns").orderBy(col("event_id").desc)
    val dim = chg.withColumn("rk", row_number().over(wd)).filter(col("rk") === 1)
      .select(col("user_id"), col("ts_ns"), col("event_type").as("status"))
    val dimCensus = dim.groupBy("status")
      .agg(count(lit(1)).as("n_versions"),
        countDistinct(col("user_id")).as("n_users"))
    val pur = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ns"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val pit = AsOf.asofJoin(pur, dim, "user_id", "ts_ns", Seq("status"))
      .withColumn("status", coalesce(col("asof_status"), lit("none")))
    val purCensus = pit.groupBy("status")
      .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("purchase_cents"))
    dimCensus.join(purCensus, Seq("status"), "full_outer")
      .na.fill(0L, Seq("n_versions", "n_users", "n_purchases", "purchase_cents"))
      .orderBy("status")
  }

  /** The q210 oracle: the same change detection and the as-of restated as
    * the tagged-union carry-forward (status rows sort before a purchase at
    * the same instant — the inclusive as-of convention).
    */
  def scd2PitOracleSql: String = """
WITH ev AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type,
         CAST(round("value" * 100, 0) AS BIGINT) AS cents
  FROM events
), st AS (
  SELECT user_id, ts_ns, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts_ns, event_id) AS prev
  FROM ev WHERE event_type <> 'purchase'
), chg AS (
  SELECT user_id, ts_ns, event_id, event_type
  FROM st WHERE prev IS NULL OR prev <> event_type
), ded AS (
  SELECT user_id, ts_ns, event_type AS status FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, ts_ns
                                 ORDER BY event_id DESC) AS rk
    FROM chg) t WHERE rk = 1
), dimc AS (
  SELECT status, count(*) AS n_versions,
         count(DISTINCT user_id) AS n_users
  FROM ded GROUP BY 1
), comb AS (
  SELECT user_id, ts_ns, 1 AS tag, status, CAST(NULL AS BIGINT) AS cents
  FROM ded
  UNION ALL
  SELECT user_id, ts_ns, 2 AS tag, NULL, cents
  FROM ev WHERE event_type = 'purchase'
), carried AS (
  SELECT *, last_value(status IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts_ns, tag
                 ROWS UNBOUNDED PRECEDING) AS cur
  FROM comb
), pc AS (
  SELECT coalesce(cur, 'none') AS status,
         count(*) AS n_purchases, sum(cents) AS purchase_cents
  FROM carried WHERE tag = 2 GROUP BY 1
)
SELECT coalesce(d.status, p.status) AS status,
       CAST(coalesce(d.n_versions, 0) AS BIGINT) AS n_versions,
       CAST(coalesce(d.n_users, 0) AS BIGINT) AS n_users,
       CAST(coalesce(p.n_purchases, 0) AS BIGINT) AS n_purchases,
       CAST(coalesce(p.purchase_cents, 0) AS BIGINT) AS purchase_cents
FROM dimc d FULL JOIN pc p ON p.status = d.status
ORDER BY status"""
}
