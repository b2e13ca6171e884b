package graft.queries

import graft.operators._
import graft.sources.Tables

/** Star joins, ledgers, statistics and learning over the TPC-H tables. */
object TpchQueries {

  val specs: Seq[QuerySpec] = Seq(
    // -- star joins over the TPC-H tables (SURVEY §2.3) --
    QuerySpec("q15_star_revenue", (s, dir) => Stars.revenueByRegionNation(s, dir), Sql("""
SELECT r_name, n_name,
       CAST(sum(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name ORDER BY r_name, n_name""")),
    QuerySpec("q16_top_customers", (s, dir) => Stars.topCustomers(s, dir, 10), Sql("""
SELECT c_custkey, c_name, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_spent
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spent DESC, c_custkey LIMIT 10""")),
    QuerySpec("q17_part_type_stats", (s, dir) => Stars.partTypeStats(s, dir), Sql("""
SELECT p_type, count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
       round(avg(l_discount), 6) + 0 AS avg_discount,
       CAST(sum(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type ORDER BY p_type""")),
    QuerySpec("q18_semi_join_big_orders", (s, dir) => Stars.customersWithBigOrders(s, dir, 450000.0), Sql("""
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
ORDER BY c_custkey""")),
    QuerySpec("q19_anti_join_no_big_orders", (s, dir) => Stars.customersWithoutBigOrders(s, dir, 450000.0),
      Sql("""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
ORDER BY c_custkey""")),
    QuerySpec("q20_pricing_summary", (s, dir) => Stars.pricingSummary(s, dir), Sql("""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) * (CAST(1.0 AS DOUBLE) + l_tax) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
       round(avg(l_quantity), 6) + 0 AS avg_qty,
       round(avg(l_extendedprice), 4) + 0 AS avg_price,
       round(avg(l_discount), 6) + 0 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""")),
    QuerySpec("q21_orders_by_month", (s, dir) => Stars.ordersByMonth(s, dir), Sql("""
SELECT strftime(o_orderdate, '%Y-%m') AS mes, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total
FROM orders GROUP BY 1 ORDER BY mes""")),

    // -- ledgers, statistics, learning and data quality over the TPC-H tables --
    // calendar gap-fill + forward-fill of a sparse daily series: per-key
    // spine explode, keyed left join, per-supplier ffill window
    QuerySpec("q99_gap_fill", (s, dir) => Analytics.gapFillDailySupplier(s, dir), Sql("""
WITH daily AS (
  SELECT l_suppkey AS suppkey, CAST(l_shipdate AS DATE) AS d, count(*) AS n_items,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avg_price
  FROM lineitem WHERE year(l_shipdate) = 1998 GROUP BY 1, 2
), spine AS (
  SELECT suppkey,
         CAST(unnest(generate_series(DATE '1998-01-01', DATE '1998-12-31',
                                     INTERVAL 1 DAY)) AS DATE) AS d
  FROM (SELECT DISTINCT suppkey FROM daily)
), j AS (
  SELECT s.suppkey, s.d, daily.n_items, daily.avg_price
  FROM spine s LEFT JOIN daily ON s.suppkey = daily.suppkey AND s.d = daily.d
)
SELECT suppkey, strftime(d, '%Y-%m-%d') AS day,
       CAST(COALESCE(n_items, 0) AS BIGINT) AS n_items,
       round(last_value(avg_price IGNORE NULLS) OVER (
         PARTITION BY suppkey ORDER BY d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) + 0 AS price_filled,
       CAST(CASE WHEN n_items IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_filled
FROM j ORDER BY suppkey, day""")),
    // SCD2-style temporal compaction: per-customer order-status runs
    // compressed to constant-state intervals (gaps-and-islands; CDC log
    // compaction read path)
    QuerySpec("q106_status_intervals", (s, dir) => Stars.statusIntervalsFrom(Tables.orders(s, dir)), Sql("""
WITH c AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
         CASE WHEN lag(o_orderstatus) OVER w IS NULL
                OR lag(o_orderstatus) OVER w <> o_orderstatus THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), i AS (
  SELECT *, sum(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM c
)
SELECT o_custkey AS custkey, CAST(island AS BIGINT) AS seq, o_orderstatus AS status,
       strftime(min(o_orderdate), '%Y-%m-%d') AS valid_from,
       strftime(max(o_orderdate), '%Y-%m-%d') AS valid_to,
       count(*) AS n_orders
FROM i GROUP BY 1, 2, 3 ORDER BY custkey, seq""")),
    // salted exact distinct counts ON THE GATE: hash(value) salting keeps
    // per-bucket distincts additive, so the result is PROVABLY the plain
    // count-distinct — the oracle states the unsalted SQL and hash-equality
    // is the proof (q95's framing, applied to skew mitigation)
    QuerySpec("q110_salted_distinct", (s, dir) =>
      Skew.saltedDistinctCount(Tables.lineitem(s, dir), "l_suppkey", "l_partkey", 8)
        .orderBy("l_suppkey"),
      // the UNSALTED statement of q110: hash-equality through the salted
      // two-phase plan is the proof salting changes nothing
      Sql("""
SELECT l_suppkey, count(DISTINCT l_partkey) AS n_distinct
FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // 2-D SKYLINE (Pareto frontier) of the part catalogue: the engine runs
    // the distributive bucketed sweep (distinct-x collapse -> in-bucket
    // running max -> <=32-row cross-bucket prefix, broadcast back); the
    // oracle is the literal quadratic NOT EXISTS definition. Hash equality
    // proves sweep == definition, with nothing quadratic in the plan.
    QuerySpec("q152_skyline_parts", (s, dir) => Skyline.paretoParts(s, dir),
      // the quadratic NOT EXISTS dominance definition — the engine's
      // distributive sweep must reproduce it exactly
      Sql("""
SELECT p.p_partkey, CAST(p.p_retailprice AS DOUBLE) AS p_retailprice,
       CAST(p.p_size AS BIGINT) AS p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
ORDER BY p_retailprice, p_size, p.p_partkey""")),

    // GINI COEFFICIENT of per-customer revenue within market segment:
    // cent-exact decimal sums, rank-product formula (tie-order invariant)
    QuerySpec("q181_gini", (s, dir) =>
      Stats.giniBySegment(Tables.orders(s, dir), Tables.customer(s, dir)),
      // rank-product Gini on cent-exact decimals (tie-order invariant)
      Sql(Stats.giniOracleSql)),

    // LEAVE-ONE-OUT TARGET ENCODING of p_brand on l_extendedprice:
    // (S - y) / (n - 1) per row via one broadcast of per-category decimal
    // stats; the gate row is the per-category audit incl. an order-free
    // checksum of every row-level encoding
    QuerySpec("q182_target_encoding", (s, dir) =>
      Learn.looTargetEncoding(Tables.lineitem(s, dir), Tables.part(s, dir)),
      // (S - y)/(n - 1) replayed per row; per-category audit + order-free
      // encoding checksum
      Sql(Learn.looTargetEncodingOracleSql)),

    // HISTOGRAM SPLIT FINDING: variance-reduction gain per quantity
    // threshold via the sum-of-squares identity — per-bin BIGINT cent
    // stats, candidate sweep on the bounded bin relation
    QuerySpec("q187_split_finding", (s, dir) => Learn.stumpSplitGain(Tables.lineitem(s, dir)),
      // the same histogram sweep; Sum(y^2) cancels from the gain identity
      Sql(Learn.stumpSplitGainOracleSql)),

    // EXACT PENNY ALLOCATION: largest-remainder proration of order totals
    // across line items — all-integer, per-order cents sum exactly
    QuerySpec("q188_penny_allocation", (s, dir) =>
      Analytics.pennyAllocation(Tables.lineitem(s, dir), Tables.orders(s, dir)),
      // integer largest-remainder proration replayed row for row
      Sql(Analytics.pennyAllocationOracleSql)),

    // MUTUAL INFORMATION between market segment and order priority: joint
    // contingency via one broadcast join + hash aggregate; margins and the
    // MI fold are windows over the bounded cells relation (q82 ln contract)
    QuerySpec("q189_mutual_information", (s, dir) =>
      Stats.mutualInformation(Tables.orders(s, dir), Tables.customer(s, dir)),
      // identical contingency windows + the q82/q146 ln contract
      Sql(Stats.mutualInformationOracleSql)),

    // GENERIC COLUMN PROFILER (Deequ-style): one aggregate over one scan —
    // nulls, exact distincts, canonical-by-type min/max representations
    QuerySpec("q192_column_profile", (s, dir) => Quality.columnProfile(Tables.orders(s, dir)),
      // the same single-pass profile, per-type canonical formatting literal
      Sql(Quality.columnProfileOracleSql)),

    // REFERENTIAL-INTEGRITY AUDIT: all seven FK edges of the star schema,
    // each one broadcast-anti-join aggregate; NULL FKs are not orphans
    QuerySpec("q193_referential_integrity", (s, dir) => Quality.referentialIntegrity(s, dir),
      // the same seven anti-join audits
      Sql(Quality.referentialIntegrityOracleSql)),

    // FIFO LOT MATCHING as an interval-overlap join: prefix-sum both lot
    // streams per part, band the unit intervals (q54 discipline), match on
    // overlap — the sequential ledger walk with no loop and no driver
    // state; all-integer census incl. unit-weighted stock-age lag
    QuerySpec("q194_fifo_match", (s, dir) => Ledger.fifoMatch(Tables.lineitem(s, dir)),
      // identical prefix-sum intervals; overlap stated as the literal
      // quadratic predicate — banded == definitional by hash equality
      Sql(Ledger.fifoMatchOracleSql)),

    // ABC / PARETO CLASSIFICATION: global revenue cumsum via the q152
    // bucketed sweep (in-band window + tiny cross-band prefix broadcast);
    // class cuts are integer cross-multiplications — never an FP share
    QuerySpec("q197_abc_parts", (s, dir) => Analytics.abcClassification(Tables.lineitem(s, dir)),
      // the definitional single cumulative window — proves the bucketed
      // sweep classifies identically
      Sql(Analytics.abcClassificationOracleSql)),

    // CATEGORICAL NAIVE BAYES: counting-only train on the 80% order split,
    // broadcast likelihood tables, decimal log-score argmax; gate = the
    // held-out confusion matrix
    QuerySpec("q200_naive_bayes", (s, dir) =>
      Learn.naiveBayes(Tables.orders(s, dir), Tables.customer(s, dir)),
      // identical split, smoothing, ln contract, argmax
      Sql(Learn.naiveBayesOracleSql)),

    // RFM SEGMENTATION: recency/frequency/monetary quintiles via the
    // DISTRIBUTED banded ntile (cross-band prefix rank + positional tile
    // rule — no customer-global sort window); 5x5x5 segment census
    QuerySpec("q202_rfm_segments", (s, dir) => Analytics.rfmSegments(Tables.orders(s, dir)),
      // plain ntile windows over the identical strict orders — proves the
      // banded rank implements SQL ntile exactly
      Sql(Analytics.rfmSegmentsOracleSql)),

    // FIFO INVENTORY AGING: the unmatched add-stream tail via the
    // closed-form remaining = max(0, hi - max(lo, consumed)) identity —
    // no matching pass; fixed age buckets, all-integer census
    QuerySpec("q207_fifo_aging", (s, dir) => Ledger.fifoAging(Tables.lineitem(s, dir)),
      // the same remaining-tail identity
      Sql(Ledger.fifoAgingOracleSql)),

    // SCD TYPE-2 BUILD + POINT-IN-TIME JOIN: status versions at every
    // change (same-ns changes collapse deterministically); facts join the
    // version current AT THEIR OWN TIMESTAMP via the as-of operator —
    // the canonical warehouse pattern, 'none' for pre-history facts
    QuerySpec("q210_scd2_pit", (s, dir) => Stars.scd2Pit(Tables.events(s, dir)),
      // same change detection; the as-of restated as the tagged-union
      // carry-forward with the inclusive tie rule
      Sql(Stars.scd2PitOracleSql))
  )
}
