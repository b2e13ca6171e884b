package graft.queries

import graft.functions.Fx._
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Event-stream shapes, in batch and as real Structured Streaming gates
  * whose emitted relation equals the batch SQL. */
object EventQueries {

  val specs: Seq[QuerySpec] = Seq(
    // -- event-stream shapes in batch (SURVEY §2.9) --
    QuerySpec("q22_events_weekly", (s, dir) =>
      EventOps.weeklyTumbling(s, dir)
        .select(col("event_type"), dateStr(col("semana")).as("semana"),
          col("n_events"), col("n_users"), col("sum_value"))
        .orderBy("event_type", "semana"),
      Sql("""
SELECT event_type,
       CAST(CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS VARCHAR) AS semana,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY event_type, semana""")),
    QuerySpec("q23_user_sessions", (s, dir) => EventOps.sessionize(Tables.events(s, dir), 30), Sql("""
WITH x AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT user_id,
       CAST(sum(CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM x GROUP BY user_id ORDER BY user_id""")),
    // ordered conversion funnel (view -> click -> purchase by first
    // occurrence): one scan, one shuffle on user_id, singleton rollup.
    // Comparisons run on the raw nanosecond longs - no precision loss
    QuerySpec("q63_event_funnel", (s, dir) => {
      val f = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts_ns"))).as("tv"),
          min(when(col("event_type") === "click", col("ts_ns"))).as("tc"),
          min(when(col("event_type") === "purchase", col("ts_ns"))).as("tp"))
      f.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("tv").isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("tv").isNotNull && col("tc").isNotNull &&
          col("tc") > col("tv"), 1L).otherwise(0L)).as("n_view_click"),
        sum(when(col("tv").isNotNull && col("tc").isNotNull && col("tp").isNotNull &&
          col("tc") > col("tv") && col("tp") > col("tc"), 1L).otherwise(0L))
          .as("n_view_click_purchase"))
    },
      Sql("""
WITH f AS (
  -- epoch_ns(ts): DuckDB reads the parquet TIMESTAMP(NANOS) losslessly, so
  -- this is the SAME nanosecond long the Spark side compares (ts_ns) — the
  -- strict tc > tv / tp > tc comparisons agree even for sub-microsecond gaps
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) AS tv,
         min(CASE WHEN event_type = 'click' THEN epoch_ns(ts) END) AS tc,
         min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS tp
  FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       CAST(sum(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN tv IS NOT NULL AND tc IS NOT NULL AND tc > tv
                THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(sum(CASE WHEN tv IS NOT NULL AND tc IS NOT NULL AND tp IS NOT NULL
                     AND tc > tv AND tp > tc
                THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
FROM f""")),
    QuerySpec("q24_props_rollup", (s, dir) => EventOps.propsRollup(s, dir), Sql("""
SELECT event_type, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k,
       round(avg(k), 4) + 0 AS avg_k,
       min(k) AS min_k, max(k) AS max_k
FROM (SELECT event_type,
             TRY_CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT) AS k
      FROM events)
GROUP BY event_type ORDER BY event_type""")),

    // -- streaming on the correctness gate: a REAL Structured Streaming run
    // (file source → tumbling-window agg → memory sink, Trigger.AvailableNow
    // to completion) whose materialized result is oracled with the
    // batch-equivalent SQL — the §2.9 batch≡stream equivalence as a
    // hash-exact driver row, not just a spec --
    QuerySpec("q85_stream_weekly", (s, dir) =>
      graft.streaming.StreamingOps.weeklyTumblingParity(s, dir),
      Sql("""
SELECT event_type,
       CAST(CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS VARCHAR) AS semana,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY event_type, semana""")),

    // the harder streaming gate: SESSION windows in Append mode — the
    // emitted set is the sessions finalized by the end-of-stream watermark,
    // a pure function of the data that the oracle's gaps-and-islands SQL
    // states explicitly (last_ts + gap <= max(ts) - delay)
    QuerySpec("q87_stream_sessions", (s, dir) =>
      graft.streaming.StreamingOps.sessionParity(s, dir),
      // gaps-and-islands replay of the streaming session gate: a new session
      // starts at a gap >= 30 min (Spark merges only OVERLAPPING [t, t+gap)
      // windows); the append-mode emission cut is stated explicitly — the
      // end-of-stream watermark is max(ts) floored to MILLISECONDS (Spark
      // tracks event-time stats in ms) minus the 30-min delay, and a session
      // is emitted iff its window end (last event + gap) has been passed
      Sql("""
WITH x AS (
  -- ONE total order (tus, event_id) for both windows: the lag flags and the
  -- running session counter must bracket tie groups identically
  SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS tus,
         lag(epoch_ns(ts) // 1000)
           OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id) AS prev
  FROM events
), g AS (
  SELECT user_id, value, tus,
         sum(CASE WHEN prev IS NULL OR tus - prev >= 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY tus, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM x
), s AS (
  SELECT user_id, sid,
         min(tus) AS session_start_us, max(tus) AS last_us,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
  FROM g GROUP BY 1, 2
), wm AS (
  SELECT (max(epoch_ns(ts) // 1000000) - 1800000) * 1000 AS w_us FROM events
)
SELECT user_id, session_start_us, n_events, sum_value
FROM s CROSS JOIN wm
WHERE last_us + 1800000000 <= w_us
ORDER BY user_id, session_start_us""")),

    // -- set operations: week-1 vs week-2 user cohorts (SURVEY §2.7) --
    // intersect/except/union semantics as ONE flag-aggregation pass: the
    // literal set-operator form forks the lineage and re-scans the fact once
    // per set op (~6 scans); per-user membership flags + one summary aggregate
    // answer all three counts with 2 scans (one tiny min-week, one main) and
    // a single shuffle on user_id. The Dataset intersect/except operators
    // themselves stay pinned by SetOpsSpec.
    QuerySpec("q48_user_cohort_setops", (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"),
          date_trunc("week", col("date")).cast(org.apache.spark.sql.types.DateType).as("wk"))
      val minW = e.agg(min(col("wk")).as("w1"))
      val flags = e.join(broadcast(minW))
        .groupBy("user_id")
        .agg(
          max(when(col("wk") === col("w1"), 1).otherwise(0)).as("in_w1"),
          max(when(col("wk") === date_add(col("w1"), 7), 1).otherwise(0)).as("in_w2"))
      flags.agg(
        sum(when(col("in_w1") === 1 && col("in_w2") === 1, 1L).otherwise(0L)).as("n_both"),
        sum(when(col("in_w1") === 1 && col("in_w2") === 0, 1L).otherwise(0L)).as("n_only_w1"),
        sum(when(col("in_w1") === 1 || col("in_w2") === 1, 1L).otherwise(0L)).as("n_union"))
    },
      Sql("""
WITH e AS (
  SELECT user_id, CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk FROM events
), w AS (SELECT min(wk) AS w1 FROM e),
u1 AS (SELECT DISTINCT user_id FROM e, w WHERE wk = w1),
u2 AS (SELECT DISTINCT user_id FROM e, w WHERE wk = w1 + INTERVAL 7 DAY)
SELECT
  (SELECT count(*) FROM (SELECT user_id FROM u1 INTERSECT SELECT user_id FROM u2)) AS n_both,
  (SELECT count(*) FROM (SELECT user_id FROM u1 EXCEPT SELECT user_id FROM u2)) AS n_only_w1,
  (SELECT count(*) FROM (SELECT user_id FROM u1 UNION SELECT user_id FROM u2)) AS n_union""")),

    // -- PIVOT: weekly event counts, one column per event type. Pivot values
    // are DECLARED (no extra distinct-collect pass to discover them) --
    QuerySpec("q66_pivot_weekly_events", (s, dir) =>
      Tables.events(s, dir)
        .select(date_trunc("week", col("date")).cast(org.apache.spark.sql.types.DateType).as("wk"),
          col("event_type"))
        .groupBy("wk")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .select(dateStr(col("wk")).as("semana"), col("click"), col("error"),
          col("purchase"), col("signup"), col("view"))
        .orderBy("semana"),
      Sql("""
SELECT CAST(CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS VARCHAR) AS semana,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events GROUP BY 1 ORDER BY semana""")),

    // -- behavioral analytics, sketches and further streaming gates over events --
    // custom keyed state on the gate: mapGroupsWithState running per-user
    // profile (exact BigDecimal accumulation), final snapshot oracled
    // against the batch groupBy
    QuerySpec("q94_stream_running_stats", (s, dir) =>
      graft.streaming.StreamingOps.runningStatsParity(s, dir),
      Sql("""
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY user_id ORDER BY user_id""")),
    // streaming exact dedup on the gate: AvailableNow dropDuplicates whose
    // emitted key set is oracled against batch DISTINCT
    QuerySpec("q103_stream_dedup", (s, dir) =>
      graft.streaming.StreamingOps.dedupParity(s, dir),
      Sql("""
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1 ORDER BY 1""")),
    // last-touch attribution via the as-of operator: every purchase
    // attributed to the user's most recent view/click within 24 h
    QuerySpec("q107_attribution", (s, dir) => EventOps.lastTouchAttributionFrom(Tables.events(s, dir), 1440L),
      Sql("""
WITH p AS (
  SELECT user_id, epoch_ns(ts) AS tsn, event_id FROM events
  WHERE event_type = 'purchase'
), t0 AS (
  SELECT user_id, epoch_ns(ts) AS tsn, event_id, event_type FROM events
  WHERE event_type IN ('view', 'click')
), t AS (
  SELECT user_id, tsn AS touch_tsn, max_by(event_type, event_id) AS touch_type
  FROM t0 GROUP BY 1, 2
), j AS (
  SELECT p.user_id, p.tsn, t.touch_tsn, t.touch_type
  FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.tsn >= t.touch_tsn
)
SELECT CASE WHEN touch_tsn IS NULL OR tsn - touch_tsn > 86400000000000 THEN 'none'
            ELSE touch_type END AS attributed,
       count(*) AS n_purchases,
       count(DISTINCT user_id) AS n_users
FROM j GROUP BY 1 ORDER BY 1""")),
    // stream-stream interval join on the gate (5th streaming gate row):
    // AvailableNow clicks⋈purchases within 10 min, inner join — the emitted
    // pair set is batch-identical by construction
    QuerySpec("q108_stream_join", (s, dir) =>
      graft.streaming.StreamingOps.streamJoinParity(s, dir),
      Sql("""
WITH c AS (
  SELECT user_id, epoch_ns(ts) AS tsn, event_id FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_ns(ts) AS tsn, event_id FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, count(*) AS n_pairs, count(DISTINCT c.event_id) AS n_clicks
FROM c JOIN p ON c.user_id = p.user_id
  AND p.tsn >= c.tsn AND p.tsn <= c.tsn + 600000000000
GROUP BY 1 ORDER BY 1""")),
    // LEFT-OUTER watermarked stream-stream join ON THE GATE: the NULL
    // emission timing IS the semantics — a click with no purchase is
    // null-emitted only once the watermark passes its whole match window.
    // AvailableNow's end-of-stream watermark makes the emitted set a pure
    // function of the data; the oracle states the batch inner join UNION
    // the unmatched-beyond-window clicks (q87's oracle technique)
    QuerySpec("q116_stream_left_join", (s, dir) =>
      graft.streaming.StreamingOps.streamLeftJoinParity(s, dir),
      // the emitted set of the left-outer watermarked join, stated in batch:
      // eager inner pairs UNION the unmatched clicks whose match window the
      // end-of-stream watermark W = min(max click ts, max purchase ts) − delay
      // STRICTLY passed (state for a row whose window end equals W is
      // retained). Micro precision matches the event-time columns.
      Sql("""
WITH c AS (
  SELECT user_id, epoch_ns(ts)//1000 AS cus, event_id AS click_id
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_ns(ts)//1000 AS pus, event_id AS p_id
  FROM events WHERE event_type = 'purchase'
), wm AS (
  SELECT least((SELECT max(cus) FROM c), (SELECT max(pus) FROM p))
           - 600000000 AS w
), m AS (
  SELECT c.user_id, c.click_id, c.cus, p.p_id
  FROM c JOIN p ON c.user_id = p.user_id
    AND p.pus >= c.cus AND p.pus <= c.cus + 600000000
)
SELECT user_id, click_id, cus AS click_us, p_id FROM m
UNION ALL
SELECT c.user_id, c.click_id, c.cus AS click_us, CAST(NULL AS BIGINT) AS p_id
FROM c CROSS JOIN wm
WHERE c.cus + 600000000 < wm.w
  AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
ORDER BY click_id, p_id""")),
    // KMV distinct sketch on the portable 60-bit hash — the fully-oracled
    // cardinality sketch (HLL q53 stays rows-only by contract; this one
    // DuckDB replays bit-for-bit). Min-k via the TopKByScore heap ⇒ the
    // post-distinct shuffle is k-bounded per group
    QuerySpec("q129_kmv_distinct", (s, dir) => Sketches.kmvDistinctGate(s, dir),
      // KMV replayed exactly: distinct portable 60-bit hashes per group, k
      // smallest by window rank, (k-1)/R_k on the exact BIGINT kth hash
      Sql("""
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events
), r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
         count(*) OVER (PARTITION BY event_type) AS nd
  FROM h
)
SELECT event_type,
       CAST(max(nd) AS BIGINT) AS n_distinct,
       round(CASE WHEN max(nd) <= 32 THEN CAST(max(nd) AS DOUBLE)
                  ELSE CAST(31 AS DOUBLE)
                       / (max(CASE WHEN rk = 32 THEN h END)
                          / CAST(1152921504606846976 AS DOUBLE))
             END, 6) + 0 AS kmv_est
FROM r GROUP BY event_type ORDER BY event_type""")),
    // count-min heavy hitters: depth×width integer cell relation (map-side
    // combine bounds the shuffle at 256 cells), broadcast probe join,
    // estimate = min over depth rows — integer-exact, no rounding contract
    QuerySpec("q130_cms_heavy_hitters", (s, dir) => Sketches.cmsHeavyHitters(Tables.events(s, dir)),
      // count-min replayed exactly: j-salted portable hashes mod width build
      // the integer cell relation; estimate = min cell over the 4 depth rows
      Sql("""
WITH js AS (SELECT unnest(range(4)) AS depth),
cells AS (
  SELECT depth,
         CAST(('0x' || substr(md5(CAST(depth AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS bucket,
         count(*) AS cnt
  FROM events CROSS JOIN js
  GROUP BY 1, 2
), ex AS (
  SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1
), top AS (
  SELECT user_id, n_exact FROM ex ORDER BY n_exact DESC, user_id LIMIT 10
), pr AS (
  SELECT t.user_id, t.n_exact, j.depth,
         CAST(('0x' || substr(md5(CAST(j.depth AS VARCHAR) || '|' || CAST(t.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS bucket
  FROM top t CROSS JOIN js j
)
SELECT p.user_id, p.n_exact, CAST(min(c.cnt) AS BIGINT) AS cms_est
FROM pr p JOIN cells c USING (depth, bucket)
GROUP BY p.user_id, p.n_exact
ORDER BY n_exact DESC, user_id""")),
    // FORWARD AS-OF: next purchase at-or-after each click per user — the
    // mirror of q42's backward as-of, same single-shuffle union-sort shape
    // with the window direction flipped. Right side pre-deduped per
    // (user, ts) by max event_id so ties are engine-independent
    QuerySpec("q141_asof_next_purchase", (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_ns"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_ns"))
        .agg(max(struct(col("event_id"), col("value"))).as("r"))
        .select(col("user_id"), col("ts_ns"),
          col("r.event_id").as("p_id"), col("r.value").as("p_value"))
      AsOf.asofJoinForward(clicks, purchases, "user_id", "ts_ns",
          Seq("p_id", "p_value"))
        .select(col("event_id"), col("user_id"), col("ts_ns"),
          col("asof_p_id").as("next_p_id"), col("asof_p_value").as("next_p_value"))
        .orderBy("event_id")
    },
      // DuckDB's native ASOF JOIN with the inequality flipped forward
      Sql("""
WITH c AS (
  SELECT event_id, user_id, epoch_ns(ts) AS ts_ns
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns,
         max(event_id) AS p_id, arg_max(value, event_id) AS p_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id, c.ts_ns,
       p.p_id AS next_p_id, p.p_value AS next_p_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_ns <= p.ts_ns
ORDER BY c.event_id""")),
    // NEAREST AS-OF with tolerance: the closer of the backward/forward
    // matches within 10 min, ties to the past (the financial convention).
    // Two keyed window passes, both linear
    QuerySpec("q142_asof_nearest", (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_ns"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_ns"))
        .agg(max(col("event_id")).as("p_id"))
        .select(col("user_id"), col("ts_ns"), col("p_id"))
      AsOf.asofJoinNearest(clicks, purchases, "user_id", "ts_ns",
          Seq("p_id"), tolerance = Some(600000000000L))
        .select(col("event_id"), col("user_id"), col("ts_ns"),
          col("asof_p_id").as("nearest_p_id"),
          (col("asof_ts_ns") - col("ts_ns")).as("delta_ns"))
        .orderBy("event_id")
    },
      // both ASOF directions, then the closer match within tolerance, ties
      // to the past — the same pick logic the engine states
      Sql("""
WITH c AS (
  SELECT event_id, user_id, epoch_ns(ts) AS ts_ns
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns, max(event_id) AS p_id
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), b AS (
  SELECT c.event_id, c.user_id, c.ts_ns, p.p_id AS b_id, p.ts_ns AS b_ts
  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_ns >= p.ts_ns
), f AS (
  SELECT c.event_id, p.p_id AS f_id, p.ts_ns AS f_ts
  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_ns <= p.ts_ns
), j AS (
  SELECT b.event_id, b.user_id, b.ts_ns, b.b_id, b.b_ts, f.f_id, f.f_ts,
         (b.b_ts IS NOT NULL AND b.ts_ns - b.b_ts <= 600000000000) AS ok_b,
         (f.f_ts IS NOT NULL AND f.f_ts - b.ts_ns <= 600000000000) AS ok_f
  FROM b JOIN f USING (event_id)
)
SELECT event_id, user_id, ts_ns,
       CASE WHEN ok_b AND (NOT ok_f OR ts_ns - b_ts <= f_ts - ts_ns) THEN b_id
            WHEN ok_f THEN f_id END AS nearest_p_id,
       CASE WHEN ok_b AND (NOT ok_f OR ts_ns - b_ts <= f_ts - ts_ns) THEN b_ts - ts_ns
            WHEN ok_f THEN f_ts - ts_ns END AS delta_ns
FROM j ORDER BY event_id""")),
    // STREAM-STATIC ENRICHMENT: live stream × broadcast static dimension,
    // re-planned per micro-batch — zero join state, no watermark; facts
    // without a dim row flow under 'UNKNOWN' (enrichment never drops).
    // A real AvailableNow lifecycle, batch-SQL oracle
    QuerySpec("q145_stream_enrich", (s, dir) =>
      graft.streaming.StreamingOps.streamStaticEnrichParity(s, dir),
      // stream-static enrichment replayed as a plain batch left join
      Sql("""
SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment, e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2 ORDER BY segment, event_type""")),
    // FULL-OUTER watermarked stream-stream join: q116's completion — BOTH
    // dangling sides null-emit, on DIFFERENT cuts (a click's match window
    // ends at click_ts + w; a purchase's ends at its OWN ts, since it can
    // only match clicks at or before itself). Oracle states both cuts
    QuerySpec("q119_stream_full_join", (s, dir) =>
      graft.streaming.StreamingOps.streamFullJoinParity(s, dir),
      // q116's completion in batch: inner pairs UNION dangling clicks beyond
      // click_ts + w UNION dangling purchases beyond their OWN ts (a purchase
      // matches only clicks at or before itself, so its window's upper bound
      // is p_ts — it is unmatchable as soon as W strictly passes p_ts)
      Sql("""
WITH c AS (
  SELECT user_id, epoch_ns(ts)//1000 AS cus, event_id AS click_id
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_ns(ts)//1000 AS pus, event_id AS p_id
  FROM events WHERE event_type = 'purchase'
), wm AS (
  SELECT least((SELECT max(cus) FROM c), (SELECT max(pus) FROM p))
           - 600000000 AS w
), m AS (
  SELECT c.user_id, c.click_id, c.cus, p.p_id, p.pus
  FROM c JOIN p ON c.user_id = p.user_id
    AND p.pus >= c.cus AND p.pus <= c.cus + 600000000
)
SELECT user_id, click_id, cus AS click_us, p_id, pus AS p_us FROM m
UNION ALL
SELECT c.user_id, c.click_id, c.cus AS click_us,
       CAST(NULL AS BIGINT) AS p_id, CAST(NULL AS BIGINT) AS p_us
FROM c CROSS JOIN wm
WHERE c.cus + 600000000 < wm.w
  AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
UNION ALL
SELECT p.user_id, CAST(NULL AS BIGINT) AS click_id, CAST(NULL AS BIGINT) AS click_us,
       p.p_id, p.pus AS p_us
FROM p CROSS JOIN wm
WHERE p.pus < wm.w
  AND NOT EXISTS (SELECT 1 FROM m WHERE m.p_id = p.p_id)
ORDER BY click_id, p_id""")),
    // EVENT-TIME TIMERS: flatMapGroupsWithState session-timeout emitter —
    // sessions fire when the WATERMARK passes last_ts + gap (a no-data
    // micro-batch does the work), not when data arrives. Strict cut at the
    // ms-grained watermark, pinned by the boundary spec
    QuerySpec("q126_stream_session_timeout", (s, dir) =>
      graft.streaming.StreamingOps.sessionTimeoutParity(s, dir),
      // q126: q87's µs gaps-and-islands sessions, but under the TIMER cut —
      // Spark's event-time timers are millisecond-grained and fire only when
      // the watermark STRICTLY passes the timeout (empirically pinned by the
      // boundary spec), so the cut is floor-ms and strict, unlike q87's
      // µs-grained Append-mode finalization
      Sql("""
WITH x AS (
  SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS tus,
         lag(epoch_ns(ts) // 1000)
           OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id) AS prev
  FROM events
), g AS (
  SELECT user_id, value, tus,
         sum(CASE WHEN prev IS NULL OR tus - prev >= 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY tus, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM x
), s AS (
  SELECT user_id, sid,
         min(tus) AS session_start_us, max(tus) AS last_us,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
  FROM g GROUP BY 1, 2
), wm AS (
  SELECT max(epoch_ns(ts) // 1000000) - 1800000 AS w_ms FROM events
)
SELECT user_id, session_start_us, n_events, sum_value
FROM s CROSS JOIN wm
WHERE (last_us // 1000) + 1800000 < w_ms
ORDER BY user_id, session_start_us""")),
    // UNPIVOT — the inverse of q66's PIVOT: the wide weekly matrix melted
    // back to (semana, event_type, n), zero cells preserved
    QuerySpec("q112_unpivot_weekly", (s, dir) => {
      val wide = Tables.events(s, dir)
        .select(date_trunc("week", col("date")).cast(org.apache.spark.sql.types.DateType).as("wk"),
          col("event_type"))
        .groupBy("wk")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .select(dateStr(col("wk")).as("semana"), col("click"), col("error"),
          col("purchase"), col("signup"), col("view"))
      wide.unpivot(Array(col("semana")),
          Array(col("click"), col("error"), col("purchase"), col("signup"), col("view")),
          "event_type", "n")
        .orderBy("semana", "event_type")
    },
      Sql("""
WITH wk AS (
  SELECT DISTINCT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk FROM events
), ty AS (
  SELECT unnest(['click', 'error', 'purchase', 'signup', 'view']) AS event_type
), cnt AS (
  SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT CAST(w.wk AS VARCHAR) AS semana, t.event_type,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n
FROM wk w CROSS JOIN ty t
LEFT JOIN cnt c ON w.wk = c.wk AND t.event_type = c.event_type
ORDER BY semana, t.event_type""")),


    // RETENTION COHORT MATRIX: cohort = first active ISO week per user,
    // cell (cohort, k) = users from that cohort active k weeks later — the
    // product-analytics staple. Shape: distinct (user, week) — one keyed
    // shuffle — then a per-user window min (second keyed shuffle), then a
    // tiny (cohorts × weeks) aggregate. After the distinct, each user
    // contributes at most one row per week, so count(*) IS distinct users.
    QuerySpec("q148_retention_cohorts", (s, dir) => {
      val wk = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("date"))
          .cast(org.apache.spark.sql.types.DateType).as("wk"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      wk.withColumn("cohort", min(col("wk")).over(w))
        .groupBy(dateStr(col("cohort")).as("cohort_week"),
          (datediff(col("wk"), col("cohort")) / lit(7)).cast("long").as("weeks_since"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "weeks_since")
    },
      // after the DISTINCT, one row per (user, week) — count(*) = users
      Sql("""
WITH a AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk
  FROM events
), f AS (
  SELECT user_id, min(wk) AS cohort FROM a GROUP BY 1
)
SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
       CAST((a.wk - f.cohort) // 7 AS BIGINT) AS weeks_since,
       CAST(count(*) AS BIGINT) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2""")),

    // MARKOV TRANSITION MATRIX of event types per user: lag over the
    // (ts, event_id) total order inside each user partition — one keyed
    // shuffle — then a 25-row aggregate; transition probabilities via a
    // window over the tiny result (integer counts, so the division is the
    // only float op and is a single deterministic IEEE divide)
    QuerySpec("q149_markov_transitions", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_ns", "event_id")
      val tot = org.apache.spark.sql.expressions.Window.partitionBy("prev_type")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
        .withColumn("p", rd(col("n").cast("double") / sum(col("n")).over(tot), 6))
        .orderBy("prev_type", "event_type")
    },
      Sql("""
WITH s AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
), t AS (
  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, event_type, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6) + 0 AS p
FROM t ORDER BY prev_type, event_type""")),

    // THROTTLE AUDIT: per (user, type), an event within 24h of its
    // predecessor is throttled (the notification/dedupe cap) — lag diff on
    // the (ts, event_id) total order, one keyed shuffle, per-type census
    QuerySpec("q160_throttle_audit", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "event_type").orderBy("ts_ns", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
        .withColumn("prev_ns", lag(col("ts_ns"), 1).over(w))
        .withColumn("kept", (col("prev_ns").isNull ||
          col("ts_ns") - col("prev_ns") > lit(86400L * 1000000000L)).cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum(col("kept")).as("n_kept"),
          (count(lit(1)) - sum(col("kept"))).as("n_throttled"))
        .orderBy("event_type")
    },
      Sql("""
WITH g AS (
  SELECT event_type,
         epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id, event_type
                                                ORDER BY ts, event_id) AS gap
  FROM events
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN gap IS NULL OR gap > 86400000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN gap IS NOT NULL AND gap <= 86400000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_throttled
FROM g GROUP BY 1 ORDER BY event_type""")),

    // CUMULATIVE SUM WITH RESETS (gaps-and-islands cumsum): running
    // purchase spend since the user's latest signup — segment id = running
    // signup count, then an in-segment running decimal sum over purchases.
    // Two keyed window exchanges (user, then (user, segment)); purchases
    // before any signup land in segment 0 by construction.
    QuerySpec("q161_spend_since_signup", (s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_ns", "event_id")
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "seg").orderBy("ts_ns", "event_id")
        .rowsBetween(Long.MinValue, 0)
      Tables.events(s, dir)
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          col("event_type"), col("value"))
        .withColumn("seg", sum(when(col("event_type") === "signup", 1L)
          .otherwise(0L)).over(w.rowsBetween(Long.MinValue, 0)))
        .filter(col("event_type") === "purchase")
        .withColumn("spend",
          rd(sum(round(col("value"), 9).cast(dec)).over(w2).cast("double"), 6))
        .select(col("user_id"), col("ts_ns"), col("seg"), col("spend"))
        .orderBy("user_id", "ts_ns")
    },
      // segment BEFORE the purchase filter (the signup rows define segments
      // but never contribute spend), in-segment running decimal sum after
      Sql("""
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type, value
  FROM events WHERE event_type IN ('signup', 'purchase')
), s AS (
  SELECT *, sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
    OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
          ROWS UNBOUNDED PRECEDING) AS seg
  FROM e
), p AS (
  SELECT * FROM s WHERE event_type = 'purchase'
)
SELECT user_id, ts_ns, CAST(seg AS BIGINT) AS seg,
       round(CAST(sum(CAST(round(value, 9) AS DECIMAL(30,12)))
         OVER (PARTITION BY user_id, seg ORDER BY ts_ns, event_id
               ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) + 0 AS spend
FROM p ORDER BY user_id, ts_ns""")),

    // INTER-ARRIVAL PROFILE: per event type, the arrival-gap distribution
    // (mean + median) across (user, type) series. Gaps are exact integer
    // microseconds; the median of integers interpolates to at worst a .5 —
    // exact in double — and the mean rides the decimal contract, so both
    // stats are engine-exact. (p90-style quantiles interpolate at inexact
    // fractions whose FP shape is engine-specific — median is the quantile
    // that is exact by construction, which is why the profile stops there.)
    QuerySpec("q164_interarrival", (s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "event_type").orderBy("ts_ns", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
        .withColumn("prev_ns", lag(col("ts_ns"), 1).over(w))
        // integer DIV: a / on longs is a DOUBLE divide, which loses ulps
        // once a multi-month gap exceeds 2^53 ns — DIV stays exact
        .withColumn("gap_us", expr("(ts_ns - prev_ns) div 1000"))
        .filter(col("gap_us").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          rd(sum(col("gap_us").cast(dec)).cast("double")
            / count(lit(1)) / lit(1000000.0), 6).as("mean_gap_s"),
          rd(expr("percentile(gap_us, 0.5)") / lit(1000000.0), 6).as("median_gap_s"))
        .orderBy("event_type")
    },
      // gaps in exact integer microseconds: the median interpolates to at
      // worst a .5 (exact in double); the mean is a decimal sum
      Sql("""
WITH g AS (
  SELECT event_type,
         (epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id, event_type
                                                 ORDER BY ts, event_id)) // 1000 AS gap_us
  FROM events
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
       round(CAST(sum(CAST(gap_us AS DECIMAL(30,12))) AS DOUBLE)
             / count(*) / 1000000.0, 6) + 0 AS mean_gap_s,
       round(quantile_cont(gap_us, 0.5) / 1000000.0, 6) + 0 AS median_gap_s
FROM g WHERE gap_us IS NOT NULL
GROUP BY 1 ORDER BY event_type""")),

    // SLIDING STREAMING WINDOWS: 14-day windows every 7 days — each event
    // in exactly TWO overlapping windows (what tumbling can't express);
    // Complete mode + decimal sums make the lifecycle batch-boundary
    // independent; oracle assigns each event to both window starts
    QuerySpec("q169_stream_sliding", (s, dir) =>
      graft.streaming.StreamingOps.slidingWindowParity(s, dir),
      // every event assigned to BOTH of its sliding-window starts
      Sql("""
WITH e AS (
  SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk, event_type, value
  FROM events
), w AS (
  SELECT wk AS ws, event_type, value FROM e
  UNION ALL
  SELECT wk - 7, event_type, value FROM e
)
SELECT event_type, strftime(ws, '%Y-%m-%d') AS win_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE), 4) + 0 AS sum_value
FROM w GROUP BY 1, 2 ORDER BY event_type, win_start""")),

    // SESSION PATH MINING: top event-type sequences (first 5 per session,
    // 30-min gap sessions — q23's convention) joined '>'-separated. The
    // per-session path is deterministic by construction: collect the
    // (ts_ns, event_id, type) structs, array_sort gives the lexicographic
    // = chronological order, transform projects the types. One keyed
    // shuffle for the windows + per-session aggregate; the path census is
    // tiny and the top-20 is TakeOrdered, never a global sort.
    QuerySpec("q158_session_paths", (s, dir) => {
      val gapNs = 30L * 60L * 1000000000L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_ns").asc, col("event_id").asc)
      val sess = Tables.events(s, dir)
        .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
        .withColumn("prev_ns", lag(col("ts_ns"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ns").isNull || col("ts_ns") - col("prev_ns") > gapNs, 1L)
            .otherwise(0L))
        .withColumn("sid", sum(col("new_session"))
          .over(w.rowsBetween(Long.MinValue, 0)))
      sess.groupBy("user_id", "sid")
        .agg(array_join(slice(transform(
          array_sort(collect_list(struct(col("ts_ns"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), 1, 5), ">").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path").asc).limit(20)
    },
      // list(x ORDER BY ...) replays array_sort over the chronological structs
      Sql("""
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type,
         lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ns
  FROM events
), s AS (
  SELECT *, sum(CASE WHEN prev_ns IS NULL OR ts_ns - prev_ns > 1800000000000
                     THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM e
), p AS (
  SELECT user_id, sid,
         array_to_string(list_slice(list(event_type ORDER BY ts_ns, event_id), 1, 5), '>') AS path
  FROM s GROUP BY 1, 2
)
SELECT path, CAST(count(*) AS BIGINT) AS n
FROM p GROUP BY 1 ORDER BY n DESC, path LIMIT 20""")),

    // STREAMING CDC APPLY: a real foreachBatch lifecycle MERGEing each
    // micro-batch into the versioned MVCC table with last-writer-wins
    // semantics — convergent under ANY batching/ordering of the stream
    // (unique (ts_ns, event_id) total order + tombstoned deletes), which is
    // what makes a streaming apply oracle-able by a plain window query
    QuerySpec("q155_stream_cdc_apply", (s, dir) =>
      graft.streaming.StreamingOps.cdcApplyParity(s, dir),
      // LWW convergence: the streamed sequence of merges equals "greatest
      // (ts, event_id) row per user, minus tombstoned last events"
      Sql("""
WITH last AS (
  SELECT user_id, event_type, value, epoch_ns(ts) AS ts_ns,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events
)
SELECT user_id, ts_ns, event_type, value
FROM last WHERE rk = 1 AND event_type <> 'error'
ORDER BY user_id""")),

    // TIME-RANGE WINDOW FRAME: rolling 7-CALENDAR-DAY spend per user over
    // the SPARSE per-user purchase days — RANGE on a day index, where a
    // ROWS frame (q46's shape) would silently span gaps. One keyed shuffle;
    // per-day and windowed sums both ride the round/decimal contract.
    QuerySpec("q154_rolling_spend_7d", (s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      val daily = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("date"))
        .agg(rd(sum(round(col("value"), 9).cast(dec)).cast("double"), 6).as("spend"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(unix_date(col("date")))
        .rangeBetween(-6, 0)
      daily
        .withColumn("spend_7d",
          rd(sum(round(col("spend"), 6).cast(dec)).over(w).cast("double"), 6))
        .withColumn("n_days_7d", count(lit(1)).over(w))
        .select(col("user_id"), dateStr(col("date")).as("date"),
          col("spend"), col("spend_7d"), col("n_days_7d"))
        .orderBy("user_id", "date")
    },
      // RANGE over an integer day index == Spark's rangeBetween on unix_date
      Sql("""
WITH d AS (
  SELECT user_id, CAST(ts AS DATE) AS date,
         round(CAST(sum(CAST(round(value, 9) AS DECIMAL(30,12))) AS DOUBLE), 6) + 0 AS spend
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT user_id, CAST(date AS VARCHAR) AS date, spend,
       round(CAST(sum(CAST(round(spend, 6) AS DECIMAL(30,12))) OVER (
         PARTITION BY user_id ORDER BY (date - DATE '1970-01-01')
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE), 6) + 0 AS spend_7d,
       CAST(count(*) OVER (
         PARTITION BY user_id ORDER BY (date - DATE '1970-01-01')
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_days_7d
FROM d ORDER BY user_id, date""")),

    // PEAK CONCURRENCY sweep line: session intervals → ±1 deltas collapsed
    // per exact nanosecond → per-day running sums + a dates-sized cross-day
    // carry. Integer-only; no global window over the full delta stream.
    QuerySpec("q173_peak_concurrency", (s, dir) => EventOps.peakConcurrencyFrom(Tables.events(s, dir), 30),
      // the same sweep line stated directly: sessions via gaps-and-islands,
      // ±1 deltas collapsed per nanosecond, day-partitioned running sums plus
      // the cross-day carry; all integer arithmetic on raw nanoseconds
      Sql("""
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id FROM events
), s AS (
  SELECT user_id, ts_ns, event_id,
         CASE WHEN lag(ts_ns) OVER w IS NULL
                OR ts_ns - lag(ts_ns) OVER w > 1800000000000 THEN 1 ELSE 0 END AS ns
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)
), g AS (
  SELECT user_id, ts_ns,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                       ROWS UNBOUNDED PRECEDING) AS sess
  FROM s
), iv AS (
  SELECT user_id, sess, min(ts_ns) AS start_ns, max(ts_ns) AS end_ns
  FROM g GROUP BY 1, 2
), dl AS (
  SELECT ts_ns, sum(d) AS d FROM (
    SELECT start_ns AS ts_ns, 1 AS d FROM iv
    UNION ALL SELECT end_ns + 1, -1 FROM iv
  ) GROUP BY 1
), dd AS (
  SELECT ts_ns, d, ts_ns // 86400000000000 AS day FROM dl
), run AS (
  SELECT day, sum(d) OVER (PARTITION BY day ORDER BY ts_ns
                           ROWS UNBOUNDED PRECEDING) AS run
  FROM dd
), daily AS (SELECT day, sum(d) AS tot FROM dd GROUP BY 1),
car AS (
  SELECT day, coalesce(sum(tot) OVER (ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry
  FROM daily
), mx AS (
  SELECT day, max(run) AS mx, CAST(count(*) AS BIGINT) AS n_points
  FROM run GROUP BY 1
)
SELECT strftime(DATE '1970-01-01' + CAST(m.day AS INT), '%Y-%m-%d') AS date,
       CAST(c.carry AS BIGINT) AS carry_in,
       CAST(greatest(c.carry, c.carry + m.mx) AS BIGINT) AS peak,
       m.n_points
FROM mx m JOIN car c USING (day) ORDER BY date""")),

    // WATERMARK LATE-DATA DROP (9th streaming lifecycle): two-file ingest
    // makes the drop deterministic — the late file arrives after the
    // watermark passed its windows by ≥18 days, Append withholds the
    // still-open tail; the oracle states BOTH cuts in batch SQL
    QuerySpec("q185_stream_late_drop", (s, dir) =>
      graft.streaming.StreamingOps.lateDropParity(s, dir),
      // both watermark cuts stated in batch SQL: the late set is excluded,
      // and only daily windows whose end precedes max(on-time ts) − 48 h are
      // emitted; all boundaries carry multi-hour margins so ms-floor and
      // <=-vs-< conventions cannot matter
      Sql("""
WITH e AS (
  SELECT event_id, ts, CAST(ts AS DATE) AS d, epoch_ns(ts) AS tns,
         event_type, value
  FROM events
), ontime AS (
  SELECT * FROM e WHERE NOT (d < DATE '2024-01-10' AND event_id % 5 = 0)
), wm AS (SELECT max(tns) - 172800000000000 AS w_ns FROM ontime)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM ontime, wm
WHERE epoch_ns(CAST(d AS TIMESTAMP)) + 86400000000000 < wm.w_ns
GROUP BY 1, 2 ORDER BY 1, 2""")),

    // CUPED variance reduction: per-user cent-exact covariates, pooled
    // theta published at 6 decimals (quantize-first), arm means adjusted
    // from identical doubles
    QuerySpec("q186_cuped", (s, dir) => Stats.cuped(Tables.events(s, dir)),
      // cent-exact covariates, pooled quantize-first theta
      Sql(Stats.cupedOracleSql())),

    // POPULATION STABILITY INDEX per event type: fixed-width densified
    // bins, Laplace-smoothed shares, round-6 ln terms — the standard
    // feature-drift monitor next to the q180 KS test
    QuerySpec("q196_psi_drift", (s, dir) => Stats.psiDrift(Tables.events(s, dir)),
      // identical grid, smoothing, and ln/fold contracts
      Sql(Stats.psiDriftOracleSql)),

    // DAU / trailing-WAU STICKINESS: distinct-over-sliding-window
    // reformulated as the constant ≤7 window-end fan-out per user-day —
    // no per-window user sets, every distinct a keyed aggregate
    QuerySpec("q203_stickiness", (s, dir) => EventOps.stickiness(Tables.events(s, dir)),
      // the same constant fan-out reformulation
      Sql(EventOps.stickinessOracleSql)),

    // T+2 SETTLEMENT CALENDAR: weekend-free trading-day index (broadcast),
    // weekend trades roll forward, settlement = index + 2; end-of-corpus
    // trades honestly reported UNSETTLED
    QuerySpec("q204_settlement_t2", (s, dir) => EventOps.settlementT2(Tables.events(s, dir)),
      // identical calendar index + roll-forward + T+2
      Sql(EventOps.settlementT2OracleSql))
  )
}
