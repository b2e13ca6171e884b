package graft.streaming

import graft.sources.Formats.deleteRecursively
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Streaming flavors of the engine's event operators (SURVEY.md §2.9).
  *
  * The reference is batch-only — its daily Airflow schedule plus
  * truncate-reload is a hand-rolled micro-batch. These are the genuine
  * streaming twins over the same event schema, for pipelines where the
  * quote/event stream arrives continuously, each run as a batch-parity
  * gate whose drained result the oracle checks against the batch statement:
  *   - weekly/sliding windows == the materialized view's DATE_TRUNC bucketing
  *   - session windows == EventOps.sessionize, via the built-in session_window
  *   - custom running state == mapGroupsWithState where built-ins don't fit
  * All operators are micro-batch agnostic: state lives in the state store,
  * keyed and partitioned by the group key, so a 1000-executor cluster shards
  * state exactly like a shuffle.
  */
object StreamingOps {

  private val gateRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Checkpoint-file CHECKSUMS off for one gate run (optimization round
    * r19). Spark 4.1 writes a checksum companion for every checkpoint file
    * (`spark.sql.streaming.checkpoint.fileChecksum.enabled`, default true) —
    * corruption detection for long-lived checkpoints on remote storage. A
    * gate's checkpoint is EPHEMERAL scratch: created per run, read only by
    * the run itself seconds later on a local fs, and deleted when it ends —
    * the checksum protects nothing and was measured as the dominant
    * state-commit cost at sf0.1 (q87-shaped gate: state commitMs 15–25 s
    * summed → 6.5–10 s; stream wall 3.4 → 2.2 s; the no-data finalization
    * batch 1.3 → 0.7 s). Durable caller-owned checkpoints ([[parquetSink]])
    * keep the engine default. The
    * session's previous setting is restored after the run: its value, or
    * unset if it was unset.
    *
    * The flag is SESSION-global (Spark exposes no per-query form), so a
    * concurrent streaming query on the same session would silently inherit
    * checksums-off and concurrent gates would race the save/restore. Gate
    * runs are therefore serialized under a lock: concurrent callers queue
    * instead of racing. Durable queries started OUTSIDE a gate run are
    * unaffected.
    */
  private val ephemeralCkptLock = new Object
  private def withEphemeralCkpt[A](spark: SparkSession)(f: => A): A =
    ephemeralCkptLock.synchronized {
      val k = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
      val prev = spark.conf.getAll.get(k) // set explicitly, not the default
      spark.conf.set(k, "false")
      try f finally prev match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }

  /** One gate run's handles: the unique query name (also the memory sink's
    * table name) and the sink output dir `out/` in the run's scratch. */
  private[graft] final case class Gate(name: String, out: String)

  /** THE streaming gate lifecycle: every batch-parity gate runs through
    * here. `source` starts under a unique query name with `sink` applied,
    * is drained by an AvailableNow trigger and always stopped; `result`
    * then materializes what the caller keeps (localCheckpoint — the sink's
    * files and table are gone once this returns). Per run, and torn down
    * whatever happens (r8 watch item: repeated same-JVM gate runs were
    * run-order-sensitive at 100× because each run left residue behind):
    *   - one private scratch dir, checkpoint at `ckpt/` and sink output at
    *     `out/` — never Spark's session-scoped temp location, whose cleanup
    *     timing is the engine's business, not the gate's — deleted;
    *   - the memory-sink table, which pins the full emitted row set (dedup
    *     key sets, join pair sets, corpus-sized at 100×) in driver memory,
    *     dropped;
    *   - every state-store provider the run loaded, unloaded NOW. Spark only
    *     unloads providers lazily from the maintenance thread, so a rapid
    *     gate sequence otherwise stacks each run's full join/session state
    *     maps on the heap until maintenance catches up — the measured
    *     19–47 s q119 variance. The unload is JVM-wide, so it runs inside
    *     the [[withEphemeralCkpt]] lock, while no other gate is running.
    * The production path is untouched: live queries keep their durable
    * checkpoint ([[parquetSink]]).
    */
  private[graft] def runGate[A](spark: SparkSession, name: String, source: DataFrame)
                               (sink: (DataStreamWriter[Row], Gate) => DataStreamWriter[Row])
                               (result: Gate => A): A =
    withEphemeralCkpt(spark) {
      val run = s"${name}_${gateRuns.incrementAndGet()}"
      val scratch = java.nio.file.Files.createTempDirectory(s"graft_gate_${run}_")
      val g = Gate(run, scratch.resolve("out").toString)
      try {
        val q = sink(source.writeStream.queryName(run)
            .option("checkpointLocation", scratch.resolve("ckpt").toString)
            .trigger(Trigger.AvailableNow()), g)
          .start()
        try q.awaitTermination() finally q.stop()
        result(g)
      } finally {
        spark.catalog.dropTempView(run)
        deleteRecursively(scratch)
        org.apache.spark.sql.graft.SqlShim.unloadAllStateStores()
      }
    }

  /** Memory-sink gate: the drained sink table, reduced by `drain`. */
  private def memoryGate(spark: SparkSession, name: String, source: DataFrame,
                         mode: OutputMode)(drain: DataFrame => DataFrame): DataFrame =
    runGate(spark, name, source)((w, _) => w.format("memory").outputMode(mode))(g =>
      drain(spark.table(g.name)).localCheckpoint(true))

  /** foreachBatch gate: `body` on every non-empty micro-batch. `body` must
    * be replay-idempotent — chain steps via
    * [[graft.sources.Tables.chainStep]], emitted relations via
    * [[idempotentBatchSink]]. */
  private def batchGate(spark: SparkSession, name: String, source: DataFrame)
                       (body: (DataFrame, Long) => Unit): Unit =
    runGate(spark, name, source)((w, _) =>
      w.foreachBatch { (b: DataFrame, id: Long) => if (!b.isEmpty) body(b, id) })(_ => ())

  /** Emitting gate (the cleaner gates q220/q230/q239 and q247): each
    * micro-batch's `emit` lands under `out/` through the replay-idempotent
    * [[idempotentBatchSink]]; returns the emitted relation, batch stamps
    * dropped, ordered by `key`. */
  private def emitGate(spark: SparkSession, name: String, source: DataFrame,
                       key: String)(emit: DataFrame => DataFrame): DataFrame =
    runGate(spark, name, source)((w, g) =>
      w.foreachBatch { (b: DataFrame, id: Long) => idempotentBatchSink(emit(b), id, g.out) })(g =>
      spark.read.parquet(g.out).drop("_batch_id").orderBy(key).localCheckpoint(true))

  /** Batch-parity gate for the weekly tumbling aggregate (correctness-gate
    * entry `q85_stream_weekly`): runs a REAL Structured Streaming query —
    * file source → window aggregation → memory sink — to completion with
    * `Trigger.AvailableNow`, then returns the materialized result for the
    * DuckDB batch-SQL oracle. This is the "does streaming match batch?"
    * question answered with a hash-exact row, not a spec.
    *
    * Determinism notes (what makes a streaming run oracle-able):
    *   - Complete output mode: the sink holds the FINAL state of every
    *     window regardless of micro-batch boundaries or watermark position
    *     (Append would withhold windows the end-of-stream watermark never
    *     passed). Complete is correct here because the gate's result
    *     relation is weeks × event-types — tiny by construction.
    *   - value sums as DECIMAL(30,6): incremental decimal addition is exact,
    *     so the result is independent of how rows split into micro-batches
    *     (a double sum would vary in the last bits with batch boundaries).
    *   - count/window-start are integer/calendar arithmetic — exact.
    * No exact count-distinct column: distinct aggregation is unsupported in
    * streaming by design (unbounded per-window state).
    */
  def weeklyTumblingParity(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .groupBy(window(col("ts"), "7 days", "7 days", "4 days"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 6))).as("sum_dec"))
    memoryGate(spark, "stream_weekly_gate", agg, OutputMode.Complete())(_
      .select(col("event_type"),
        graft.functions.Fx.dateStr(col("window.start").cast("date")).as("semana"),
        col("n_events"),
        col("sum_dec").cast("double").as("sum_value"))
      .orderBy("event_type", "semana"))
  }

  /** SLIDING-window streaming gate (q169): 14-day windows sliding every 7
    * days, Monday-aligned — every event lands in exactly TWO overlapping
    * windows, which is the semantics tumbling windows cannot express
    * (trend smoothing, 2-week actives). Same determinism devices as the
    * weekly gate: Complete mode (final state of every window, batch-
    * boundary independent) and decimal value sums. The oracle replays the
    * overlap by assigning each event to both of its window starts
    * (monday(d) and monday(d) − 7) and aggregating the union.
    */
  def slidingWindowParity(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .groupBy(window(col("ts"), "14 days", "7 days", "4 days"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 6))).as("sum_dec"))
    memoryGate(spark, "stream_sliding_gate", agg, OutputMode.Complete())(_
      .select(col("event_type"),
        graft.functions.Fx.dateStr(col("window.start").cast("date")).as("win_start"),
        col("n_events"),
        graft.functions.Fx.rd(col("sum_dec").cast("double"), 4).as("sum_value"))
      .orderBy("event_type", "win_start"))
  }

  /** STREAM-STATIC enrichment gate (correctness-gate entry
    * `q145_stream_enrich`): the standard streaming enrichment topology —
    * a live stream joined per micro-batch against a STATIC broadcast
    * dimension. Unlike stream-stream joins this holds NO join state: the
    * static side is re-planned (and its broadcast reused) each
    * micro-batch, so there is no watermark, no eviction question, and the
    * result cannot depend on batch boundaries. Events without a dimension
    * row keep flowing under an explicit 'UNKNOWN' segment — an enrichment
    * must never drop facts. Complete mode is gate-only (segments ×
    * event-types is tiny); decimal sums for batch-split invariance.
    */
  def streamStaticEnrichParity(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.sources.Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val agg = eventStream(spark, dir)
      .join(broadcast(dim), Seq("user_id"), "left")
      .withColumn("segment", coalesce(col("segment"), lit("UNKNOWN")))
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
          .as("sum_dec"))
    memoryGate(spark, "stream_enrich_gate", agg, OutputMode.Complete())(_
      .select(col("segment"), col("event_type"), col("n_events"),
        col("sum_dec").cast("double").as("sum_value"))
      .orderBy("segment", "event_type"))
  }

  /** Batch-parity gate for SESSION windows (correctness-gate entry
    * `q87_stream_sessions`): a real Structured Streaming run of the
    * gap-based session aggregation — file source → session_window → memory
    * sink, Append mode, Trigger.AvailableNow — whose emitted rows are
    * oracled against the batch gaps-and-islands SQL.
    *
    * What makes THIS one deterministic (it is the harder gate than q85):
    *   - Append mode emits exactly the sessions FINALIZED by the
    *     end-of-stream watermark. AvailableNow runs a final no-data
    *     micro-batch (`noDataMicroBatches`, on by default) that advances
    *     the watermark to max(ts) − delay, so the emitted set is a pure
    *     function of the data: sessions whose window end (last event +
    *     gap) the final watermark passed. The oracle states the SAME cut:
    *     `last_ts + gap ≤ max(ts) − delay` — no wall clock anywhere.
    *   - Session identity is calendar/µs-integer arithmetic: a new session
    *     starts when the gap to the previous event is ≥ 30 min (Spark
    *     merges windows that OVERLAP; a gap exactly equal to the window
    *     length does not overlap [t, t+gap)).
    *   - value sums as DECIMAL(30,6): exact under any micro-batch split
    *     and any within-session merge order.
    * Session starts ride as unix MICROS (the timestamps' native precision
    * here) so the oracle compares integers, never timestamp formatting.
    */
  def sessionParity(spark: SparkSession, dir: String,
                    gapMin: Int = 30): DataFrame = {
    val agg = eventStream(spark, dir)
      .withWatermark("ts", s"$gapMin minutes")
      .groupBy(session_window(col("ts"), s"$gapMin minutes"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 6))).as("sum_dec"))
    memoryGate(spark, "stream_sessions_gate", agg, OutputMode.Append())(_
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"),
        col("sum_dec").cast("double").as("sum_value"))
      .orderBy("user_id", "session_start_us"))
  }

  /** Batch-parity gate for CUSTOM KEYED STATE (correctness-gate entry
    * `q94_stream_running_stats`): `mapGroupsWithState` maintains an exact
    * per-user (count, decimal sum) profile across micro-batches — the
    * operator family no built-in aggregation expresses — and the FINAL
    * snapshot is oracled against the batch groupBy.
    *
    * Determinism: the state accumulates `java.math.BigDecimal` (exact under
    * any arrival order or micro-batch split — a double sum would drift in
    * the last bits), and the final snapshot per user is selected as the
    * max-(n_events, sum) struct over the Update-mode emissions (n_events is
    * strictly monotone per user, so "max" IS "latest" without any
    * batch-id bookkeeping).
    */
  def runningStatsParity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = eventStream(spark, dir)
      .select(col("user_id").cast("long").as("user_id"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(30, 6)).as("v"))
      .as[(Long, java.math.BigDecimal)]
    val out = ev.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, java.math.BigDecimal)],
         state: GroupState[(Long, java.math.BigDecimal)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, java.math.BigDecimal.ZERO))
          var n = n0
          var s = s0
          rows.foreach { r => n += 1; s = s.add(r._2) }
          state.update((n, s))
          (uid, n, s)
      }
    memoryGate(spark, "stream_running_gate",
      out.toDF("user_id", "n_events", "sum_dec"), OutputMode.Update())(_
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("sum_dec"))).as("r"))
      .select(col("user_id"), col("r.n_events").as("n_events"),
        col("r.sum_dec").cast("double").as("sum_value"))
      .orderBy("user_id"))
  }

  /** Batch-parity gate for STREAMING DEDUPLICATION (correctness-gate entry
    * `q103_stream_dedup`): a real AvailableNow run of `dropDuplicates` on
    * (user_id, event_type) — the streaming exact-dedup operator — whose
    * emitted KEY SET is oracled against batch DISTINCT.
    *
    * Determinism: which representative ROW is emitted per key depends on
    * arrival order inside a micro-batch, but the SET OF KEYS does not — the
    * gate therefore aggregates the sink to (event_type, n_users), a pure
    * function of the data. State here is unbounded by design (the
    * whole-history dedup a backfill run wants).
    */
  def dedupParity(spark: SparkSession, dir: String): DataFrame = {
    val dedup = eventStream(spark, dir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    memoryGate(spark, "stream_dedup_gate", dedup, OutputMode.Append())(_
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type"))
  }

  /** Batch-parity gate for STREAM-STREAM JOINS (correctness-gate entry
    * `q106_stream_join`): a real AvailableNow run of the watermarked
    * clicks⋈purchases interval join (purchase within `windowMin` minutes
    * AFTER a click by the same user), aggregated to per-user pair counts and
    * oracled against the plain batch join SQL.
    *
    * Determinism: an INNER stream-stream join emits every matching pair as
    * soon as both sides are in state — unlike Append-mode aggregation
    * nothing is withheld behind the watermark, so for a bounded input the
    * emitted PAIR SET equals the batch join regardless of micro-batch
    * boundaries (the watermark + time bound only govern state EVICTION; a
    * pair could only be lost if one side arrived later than the eviction
    * horizon, which a time-ordered file source never does). Timestamps
    * compare as the raw nanosecond longs on both sides.
    */
  def streamJoinParity(spark: SparkSession, dir: String,
                       windowMin: Int = 10): DataFrame = {
    // the inner gate's contract is the RAW NANOSECOND window; the shared
    // µs-predicate emission is a superset (Scaladoc at fullJoinEmissionMV),
    // so re-cutting at ns precision over the matched rows is lossless
    val wNs = windowMin * 60L * 1000000000L
    fullJoinEmissionMV(spark, dir, windowMin)
      .filter(col("click_id").isNotNull && col("p_id").isNotNull &&
        col("p_ns") >= col("click_ns") && col("p_ns") <= col("click_ns") + lit(wNs))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("click_id")).as("n_clicks"))
      .orderBy("user_id")
  }

  /** Batch-parity gate for LEFT-OUTER watermarked stream-stream joins
    * (correctness-gate entry `q116_stream_left_join`): clicks left-joined to
    * purchases within `windowMin` minutes, where a click with NO purchase
    * must still be emitted (NULL-extended) once it provably can't match.
    * Matched pairs are emitted eagerly, exactly the batch inner join; a
    * click with no match in-window is null-emitted iff the end-of-stream
    * watermark W (min over both sides of max event ts − delay, at micro
    * precision) strictly passes its match window: click_ts + windowMin < W.
    * Clicks inside the final tail are withheld — on a live stream they
    * would still be matchable. The oracle states the batch inner join UNION
    * ALL the unmatched clicks beyond that cut.
    *
    * Derived from the shared full-outer lifecycle: a LEFT emission is
    * exactly the full emission minus the dangling-purchase rows (matched
    * pairs emit eagerly in both; the dangling-click cut is identical).
    * StreamingOpsSpec pins it against the batch statement of the same cut.
    */
  def streamLeftJoinParity(spark: SparkSession, dir: String,
                           windowMin: Int = 10): DataFrame =
    fullJoinEmissionMV(spark, dir, windowMin)
      .filter(col("click_id").isNotNull)
      .select(col("user_id"), col("click_id"), col("click_us"), col("p_id"))
      .orderBy(col("click_id"), col("p_id"))

  /** Batch-parity gate for FULL-OUTER watermarked stream-stream joins
    * (correctness-gate entry `q119_stream_full_join`) — [[streamLeftJoinParity]]'s
    * completion: BOTH dangling sides null-emit once provably unmatchable.
    * The two sides expire on DIFFERENT cuts, which is exactly what the gate
    * pins: a click can match purchases in [click_ts, click_ts+w], so it
    * null-emits when the watermark strictly passes click_ts + w; a purchase
    * can match clicks in [p_ts − w, p_ts], whose upper bound is its OWN
    * timestamp — it null-emits when the watermark strictly passes p_ts
    * itself. Matched pairs emit eagerly (q108's argument). The oracle
    * states the inner join UNION both dangling sets under their respective
    * cuts, all at micro precision (verified empirically and pinned by
    * StreamingOpsSpec at both boundaries).
    */
  private def fullJoinStream(spark: SparkSession, dir: String,
                             windowMin: Int): DataFrame = {
    def side(tpe: String, tsCol: String, idCol: String) =
      eventStream(spark, dir)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${idCol}_uid"), col("ts").as(tsCol),
          col("ts_ns").as(s"${idCol}_ns"), col("event_id").as(idCol))
        .withWatermark(tsCol, s"$windowMin minutes")
    val clicks = side("click", "click_ts", "click_id")
    val purchases = side("purchase", "p_ts", "p_id")
    clicks.join(purchases,
      col("click_id_uid") === col("p_id_uid") &&
        col("p_ts") >= col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr(s"INTERVAL $windowMin minutes"),
      "full_outer")
      .select(
        coalesce(col("click_id_uid"), col("p_id_uid")).as("user_id"),
        col("click_id"), unix_micros(col("click_ts")).as("click_us"),
        col("click_id_ns").as("click_ns"),
        col("p_id"), unix_micros(col("p_ts")).as("p_us"),
        col("p_id_ns").as("p_ns"))
  }

  /** ONE drained full-outer lifecycle serving all three stream-join gates
    * (q108 inner, q116 left, q119 full): the full-outer emission is the
    * superset state evolution — inner pairs emit eagerly, each dangling
    * side null-emits on its own watermark cut — so the other two gates are
    * pure relational views over it (see the derivations below). The drained
    * set lands in a source-fingerprinted parquet MV: the multi-batch
    * AvailableNow lifecycle (checkpoint setup, state store churn, no-data
    * finalization batch) runs ONCE per dataset instead of three times —
    * previously the three gates paid ~5–8 s EACH at sf0.1 re-running the
    * identical clicks⋈purchases state machine.
    *
    * The emission carries the raw nanosecond timestamps as payload: the
    * µs-predicate match set is a SUPERSET of q108's ns-predicate set (the
    * window is a whole number of µs and floor(ns/1000) is monotone, so
    * p_ns − c_ns ≤ w·10⁹ implies p_us − c_us ≤ w·10⁶), which lets the inner
    * gate re-cut at ns precision losslessly.
    */
  def fullJoinEmissionMV(spark: SparkSession, dir: String,
                         windowMin: Int = 10): DataFrame =
    graft.sources.Tables.fingerprintedMv(spark,
      java.nio.file.Paths.get(dir, "events.parquet"),
      s"stream_fulljoin_emit_w$windowMin")(
      memoryGate(spark, "stream_fulljoin_shared",
        fullJoinStream(spark, dir, windowMin), OutputMode.Append())(identity))

  def streamFullJoinParity(spark: SparkSession, dir: String,
                           windowMin: Int = 10): DataFrame =
    fullJoinEmissionMV(spark, dir, windowMin)
      .select(col("user_id"), col("click_id"), col("click_us"),
        col("p_id"), col("p_us"))
      .orderBy(col("click_id"), col("p_id"))

  /** One open/closed session interval held in timer state: bounds in event
    * MICROS (session identity is µs arithmetic, like q87), sum as exact
    * decimal. */
  case class SessionAcc(start_us: Long, last_us: Long, n: Long,
                        sum: java.math.BigDecimal)

  /** EVENT-TIME TIMERS in arbitrary stateful streaming (q126): a
    * `flatMapGroupsWithState` session emitter with
    * `GroupStateTimeout.EventTimeTimeout` — the operator family where work
    * happens when the WATERMARK says so, not when data arrives (the round-8
    * gap: every stateful operator before this one processed on data arrival
    * only). Each user's state holds its open session intervals; a session is
    * emitted when the watermark strictly passes last_ts + gap — fired by
    * Spark's timer machinery in a no-data micro-batch, exactly the
    * "session timeout" a fraud/abandonment pipeline needs.
    *
    * Determinism contract (what makes a TIMER gate oracle-able):
    *   - session identity is µs gaps-and-islands — merge iff the gap is
    *     STRICTLY under `gapMin` (q87's session_window convention: windows
    *     [t, t+gap) merge only when they overlap);
    *   - the emission cut is STRICT at the watermark: Spark fires an
    *     event-time timer only when `timeoutTimestamp < watermark` (pinned
    *     by the boundary spec on an engineered fixture), and the on-data
    *     overdue check applies the same strict rule, so the final emitted
    *     set is exactly { sessions : ms(last_us) + gap < W_final } with
    *     W_final = ms(max ts) − delay — a pure function of the data under
    *     AvailableNow (ms() is floor division by 1000: timers and
    *     watermarks are millisecond-grained in Spark, while session bounds
    *     stay µs-exact);
    *   - decimal sums, so arrival order and batch boundaries can't move a
    *     bit.
    * State is per-user interval lists (bounded by open sessions, not
    * history), sharded by user key across the state store like any shuffle.
    */
  def sessionTimeoutEmitter(spark: SparkSession, events: DataFrame,
                            gapMin: Int): Dataset[(Long, Long, Long, java.math.BigDecimal)] = {
    import spark.implicits._
    val gapUs = gapMin * 60L * 1000000L
    val gapMs = gapMin * 60L * 1000L
    val ev = events
      .withWatermark("ts", s"$gapMin minutes")
      .select(col("user_id").cast("long").as("uid"), col("ts"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(30, 6)).as("v"))
      .as[(Long, java.sql.Timestamp, java.math.BigDecimal)]
    ev.groupByKey(_._1)
      .flatMapGroupsWithState[List[SessionAcc], (Long, Long, Long, java.math.BigDecimal)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid, rows, state) =>
          val wm = state.getCurrentWatermarkMs()
          // merge new events into the interval list: insert as singletons,
          // re-sort, fold adjacent sessions that overlap under the gap
          val incoming = rows.map { r =>
            val us = r._2.getTime * 1000L + (r._2.getNanos / 1000L) % 1000L
            SessionAcc(us, us, 1L, r._3)
          }.toList
          val merged = (state.getOption.getOrElse(Nil) ++ incoming)
            .sortBy(s => (s.start_us, s.last_us))
            .foldLeft(List.empty[SessionAcc]) {
              case (acc @ (prev :: rest), s) if s.start_us - prev.last_us < gapUs =>
                SessionAcc(prev.start_us, math.max(prev.last_us, s.last_us),
                  prev.n + s.n, prev.sum.add(s.sum)) :: rest
              case (acc, s) => s :: acc
            }.reverse
          // STRICT emission cut — the same rule the timer fire uses
          val (due, keep) = merged.partition(s => s.last_us / 1000L + gapMs < wm)
          if (keep.isEmpty) state.remove()
          else {
            state.update(keep)
            // a kept session's cut can EQUAL the watermark (strict cut kept
            // it); timers must be armed strictly beyond the watermark
            state.setTimeoutTimestamp(
              math.max(keep.map(_.last_us / 1000L + gapMs).min, wm + 1L))
          }
          due.map(s => (uid, s.start_us, s.n, s.sum)).iterator
      }
  }

  /** Batch-parity gate for the event-time-timer emitter (correctness-gate
    * entry `q126_stream_session_timeout`): AvailableNow run over the events
    * file; the oracle states the same µs gaps-and-islands with the strict
    * ms-grained watermark cut. Same [[runGate]] lifecycle as every other
    * gate.
    */
  def sessionTimeoutParity(spark: SparkSession, dir: String,
                           gapMin: Int = 30): DataFrame = {
    val out = sessionTimeoutEmitter(spark, eventStream(spark, dir), gapMin)
      .toDF("user_id", "session_start_us", "n_events", "sum_dec")
    memoryGate(spark, "stream_timeout_gate", out, OutputMode.Append())(_
      .select(col("user_id"), col("session_start_us"), col("n_events"),
        col("sum_dec").cast("double").as("sum_value"))
      .orderBy("user_id", "session_start_us"))
  }

  /** foreachBatch parquet sink for Update-mode aggregates: each micro-batch
    * lands the keys it CHANGED through the replay-idempotent
    * [[idempotentBatchSink]] (round-18 — VERDICT r17 item 3: this was the
    * one plain-append sink left outside that discipline; its
    * `latestSnapshot` reader contract happened to be replay-insensitive,
    * but any OTHER reader — a row count, a sum — would silently
    * double-count a replayed batch's appended duplicates; the dynamic
    * partition overwrite preserves the `_batch_id` column the snapshot
    * reader keys on). Because updated keys land once per batch, a plain
    * reader of the raw files still sees one row per (key, batch) — consume
    * through `latestSnapshot`, which keeps exactly the newest row per key.
    * (The alternative — Append mode — only ever emits watermark-finalized
    * windows; this sink is for the running-state shape where downstream
    * wants the current value of every key.)
    *
    * READER CONTRACT (ADVICE r18): because `_batch_id` is now a PARTITION
    * column, a raw `spark.read.parquet` of the sink sees it via partition
    * inference — an integer-typed column ORDERED LAST, where the old
    * append-mode sink carried it as a leading LongType data column. Consume
    * through [[latestSnapshot]] (which drops it) or cast/reorder explicitly;
    * do not pin the raw file schema.
    */
  def parquetSink(agg: DataFrame, outPath: String, checkpoint: String) =
    agg.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        idempotentBatchSink(batch, id, outPath)
      }

  /** Reader contract for `parquetSink` output: the latest snapshot per key —
    * max-of-struct on (_batch_id, payload), one hash aggregation, no window
    * sort (exactly one row per (key, batch) exists, so max _batch_id is the
    * newest value).
    */
  def latestSnapshot(snapshots: DataFrame, keyCols: Seq[String]): DataFrame = {
    val payload = snapshots.columns.filterNot(c => keyCols.contains(c) || c == "_batch_id")
    snapshots.groupBy(keyCols.map(col): _*)
      .agg(max(struct((col("_batch_id") +: payload.map(col)): _*)).as("__r"))
      .select(keyCols.map(col) ++ payload.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** REPLAY-IDEMPOTENT per-batch parquet sink (round-17 — VERDICT r16
    * item 1): foreachBatch is at-least-once, so a plain
    * `write.mode("append")` that discards the batchId appends a replayed
    * batch's rows TWICE — duplicate documents in the very relation a
    * cleaning pipeline promises is clean. This sink stamps every row with
    * its batchId and lands it via dynamic partition overwrite on
    * `_batch_id`, so a replayed batch overwrites exactly its own partition
    * instead of appending a second copy (the per-batch payload is a deterministic function of the batch's input,
    * so the overwrite is byte-equivalent). Readers drop the column.
    * Spec-pinned by invoking this body twice at the same batchId and
    * proving the landed relation unchanged (StreamingOpsSpec).
    */
  private[graft] def idempotentBatchSink(batch: DataFrame, batchId: Long,
                                         outPath: String): Unit =
    batch.withColumn("_batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch_id")
      .parquet(outPath)

  /** The deterministic file split a parity gate streams with
    * `maxFilesPerTrigger=1`: corpus-level scratch, built once per
    * fingerprint of `dir/<table>.parquet` as store entry `name` (see
    * [[graft.sources.Tables.materializedPath]]) and rebuilt only when the
    * corpus changes. `write` receives the private temp dir, so callers can
    * stamp mtimes or add markers before the publishing rename.
    */
  private[graft] def materializeSplit(dir: String, table: String, name: String)
                                     (write: String => Unit): String =
    graft.sources.Tables.materializedPath(
      java.nio.file.Paths.get(dir, s"$table.parquet"), name)(
      tmp => write(tmp.toString)).toString

  /** CLASS GUARD for the single-partition micro-batch hazard (round-19 —
    * VERDICT r18 item 5, generalizing the round-18 q247 point fix): a
    * `maxFilesPerTrigger=1` file-source micro-batch arrives as however few
    * input partitions ONE file splits into — one, for any file under
    * maxPartitionBytes — so any gate whose per-batch HEAVY stage consumes
    * the batch as the STREAMED (non-broadcast) side BEFORE any exchange
    * runs that stage's whole |batch|·X load on one core (measured at 100×:
    * 667 s single-core vs 25–40 s spread, SCALING.md §round-18). Gates in
    * that class spread the batch here — a round-robin repartition to the
    * session's shuffle width: a batch-sized shuffle (cheap, it is the
    * delta) buys full-cluster parallelism on everything downstream. Gates
    * whose heavy stage already sits behind its own exchange (keyed merge
    * joins) or scans the PARALLEL standing side probed by a broadcast
    * batch do not need it — the per-gate audit table lives in SCALING.md
    * §batch-spread. Spec: StreamingOpsSpec pins partitions(spreadBatch(b))
    * = shuffle width ≥ min(width, rows) for a 1-partition batch.
    */
  private[graft] def spreadBatch(b: DataFrame): DataFrame =
    b.repartition(b.sparkSession.sessionState.conf.numShufflePartitions)

  /** A [[materializeSplit]] split as a stream, one file per trigger
    * (`maxFilesPerTrigger=1`): each file is one micro-batch, oldest mtime
    * first. */
  private[graft] def splitStream(spark: SparkSession, split: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(split).schema)
      .option("maxFilesPerTrigger", "1").parquet(split)

  /** Batch-parity gate for the STREAMING CDC APPLY (q155): a real
    * foreachBatch lifecycle that MERGEs each micro-batch into a versioned
    * MVCC table with last-writer-wins semantics
    * ([[graft.sources.Versioned.mergeLww]]) — the lakehouse "streaming
    * MERGE INTO" shape (one per-key argmax + one keyed full-outer join per
    * batch, all executor-parallel; the driver only orchestrates commits).
    * The table lives in the gate's `out/`.
    *
    * The event stream is split into 4 time-ranged files and consumed with
    * maxFilesPerTrigger=1, so the lifecycle really exercises multiple
    * sequential merges into a growing table. Oracle-ability comes from LWW
    * convergence, not batch-boundary luck: the final snapshot equals "the
    * row with the greatest (ts_ns, event_id) per user, minus users whose
    * last event is a tombstone" NO MATTER how the stream was batched — which
    * is exactly the window query the DuckDB oracle states.
    */
  def cdcApplyParity(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Tables, Versioned}
    val split = materializeSplit(dir, "events", "cdc_split") { tmp =>
      Tables.events(spark, dir)
        .select("user_id", "ts_ns", "event_id", "event_type", "value")
        .repartitionByRange(4, col("ts_ns"))
        .write.mode("overwrite").parquet(tmp)
    }
    val src = splitStream(spark, split).withColumn("tombstone", col("event_type") === "error")
    runGate(spark, "stream_cdc_gate", src)((w, g) =>
      w.foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty)
          Versioned.mergeLww(b.sparkSession, g.out, b, "user_id", Seq("ts_ns", "event_id")): Unit
      })(g =>
      Versioned.read(spark, g.out)
        .filter(!col("tombstone"))
        .select(col("user_id"), col("ts_ns"), col("event_type"), col("value"))
        .orderBy("user_id")
        .localCheckpoint(true))
  }

  case class BarRow(symbol: String, date: java.sql.Date, close: Double)
  case class EmaState(last_epoch_day: Int, ema: Double)
  case class EmaOut(symbol: String, date: String, ema: Double)

  /** Round at 6 decimals the way DuckDB's `round(x, 6)` does on a DOUBLE,
    * which q165's recursive CTE runs: `std::round(x * 1e6) / 1e6` in double
    * arithmetic, half away from zero on the product. The rule decides ties
    * that the decimal forms hide: 0.125 * 23.73 + 0.875 * 33.931028 prints
    * as 32.6558995, but its product is 32655899.499999996 and rounds down,
    * while 2.0008005, whose binary value also lies below the tie, has the
    * product 2000800.5 and rounds up. Rounding the shortest decimal form
    * (`BigDecimal.valueOf`) misses the first; rounding the exact binary
    * expansion misses the second.
    */
  private[graft] def rd6(v: Double): Double = {
    val y = v * 1e6
    val t = if (y < 0) math.ceil(y) else math.floor(y)
    (if (math.abs(y - t) >= 0.5) t + math.signum(y) else t) / 1e6 + 0.0
  }

  /** Batch-parity gate for a STREAMING RECURSIVE INDICATOR (q165): the
    * classic recursive EMA (ema_t = α·x_t + (1−α)·ema_{t−1}, α = 0.125)
    * maintained as per-symbol keyed state via flatMapGroupsWithState,
    * emitting one row per bar. Unlike the truncated-window EWMA (q150),
    * the recursion has UNBOUNDED history — inexpressible as a window
    * without the overflowing decay^-rn trick — which is exactly the case
    * for arbitrary stateful streaming, and the oracle is a RECURSIVE CTE
    * replaying the same quantized recursion.
    *
    * Cross-engine exactness: the state is QUANTIZED at 6 decimals every
    * step (the GLM per-iteration device), α = 0.125/0.875 are exact binary
    * fractions, and each step is the same two-multiply-one-add IEEE chain —
    * so streaming, a sequential fold, and the recursive SQL all emit
    * identical doubles, independent of micro-batch boundaries.
    *
    * Ordering: the bars relation is split into 4 time-RANGED files consumed
    * with maxFilesPerTrigger=1 (chronological batches; a range partition
    * never splits one date across files), and each group's in-batch rows
    * are sorted by date before folding — per-(symbol, batch) memory is
    * bounded by the rate-limited batch size, not the stream.
    */
  def streamEmaParity(spark: SparkSession, dir: String): DataFrame = {
    val split = materializeSplit(dir, "events", "ema_split") { tmp =>
      graft.operators.MarketView.dailyBars(spark, dir)
        .select(col("symbol"), col("date"), col("close"))
        .repartitionByRange(4, col("date"))
        .write.mode("overwrite").parquet(tmp)
      // FileStreamSource ingests oldest-modTime first; one write stamps
      // all four range files with ONE mtime, leaving the ingest order
      // unspecified (observed scrambled). Stamp ascending mtimes in part
      // order — range partitioning is ascending, so part order IS
      // chronological order.
      val parts = {
        val st = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        try st.toArray.map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
        finally st.close()
      }
      parts.zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      }
    }
    import spark.implicits._
    val out = splitStream(spark, split).as[BarRow].groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (sym: String, rows: Iterator[BarRow], state: GroupState[EmaState]) =>
          var st = state.getOption.getOrElse(EmaState(Int.MinValue, 0.0))
          val outs = rows.toSeq.sortBy(_.date.getTime).map { b =>
            val day = (b.date.getTime / 86400000L).toInt
            val e = if (st.last_epoch_day == Int.MinValue) rd6(b.close)
                    else rd6(0.125 * b.close + 0.875 * st.ema)
            st = EmaState(day, e)
            EmaOut(sym, b.date.toString, e)
          }
          state.update(st)
          outs.iterator
      }
    memoryGate(spark, "stream_ema_gate", out.toDF(), OutputMode.Update())(_
      .select(col("symbol"), col("date"), col("ema"))
      .orderBy("symbol", "date"))
  }

  /** WATERMARK LATE-DATA DROP gate (q185): the one streaming semantics no
    * prior gate exercises — rows arriving AFTER the watermark has passed
    * their window are DROPPED from the aggregation (the
    * numRowsDroppedByWatermark path), and still-open windows are withheld
    * by Append mode. Both cuts are made deterministic and stated in the
    * oracle.
    *
    * The choreography needs THREE files under maxFilesPerTrigger=1 because
    * Spark runs a TWO-watermark model (SPARK-24634): batch n filters late
    * input with the PREVIOUS batch's eviction watermark — the late filter
    * trails eviction by one batch, so late rows arriving one batch after
    * the max timestamp would still be merged (measured: dropped=0 on a
    * 2-file split). Hence:
    *
    *   - file 0: the bulk on-time set, containing the stream's max ts.
    *     Its batch runs with watermark 1970 — nothing dropped or evicted;
    *   - file 1: a small mid-January on-time slice. Its batch evicts with
    *     watermark max(ts) − 48 h ≈ Jan 28 (emitting every window ending
    *     before it, this slice included — merge precedes eviction within
    *     a batch), while its LATE filter is still the 1970 value;
    *   - file 2: the late set (events before 2024-01-10, event_id % 5 ==
    *     0). Its late filter is now the Jan-28 watermark; every row's
    *     daily window ended ≥ 18 days earlier, so ALL are dropped — a
    *     margin so wide that <=-vs-< conventions cannot matter.
    *
    * The late file adds no later timestamps, so Append emits exactly the
    * daily windows whose end precedes max(on-time ts) − 48 h; the
    * watermark's time-of-day (23:26) never coincides with a midnight
    * window end, so the emission cut is boundary-convention-proof too.
    * The oracle replays both cuts in batch SQL over the ORIGINAL events
    * relation; hash equality proves the engine dropped exactly the late
    * set and withheld exactly the open windows. Decimal value sums make
    * the aggregate micro-batch independent (the q85 device).
    */
  private[graft] def lateSplitDir(spark: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths}
    materializeSplit(dir, "events", "late_split") { tmp =>
        val ev = graft.sources.Tables.events(spark, dir)
          .select(col("event_id"), col("ts"), col("event_type"), col("value"),
            col("date"))
        val late = col("date") < lit("2024-01-10").cast("date") &&
          col("event_id") % 5 === 0
        val mid = !late &&
          col("date").between(lit("2024-01-12").cast("date"),
            lit("2024-01-20").cast("date")) && col("event_id") % 7 === 1
        def writeOne(df: DataFrame, name: String, mtime: Long): Unit = {
          val sub = Paths.get(tmp, s"_$name")
          df.drop("date").coalesce(1).write.mode("overwrite").parquet(sub.toString)
          val part = {
            val st = Files.list(sub)
            try st.toArray.map(_.asInstanceOf[java.nio.file.Path])
              .find(_.getFileName.toString.startsWith("part-")).get
            finally st.close()
          }
          val dest = Paths.get(tmp, s"$name.parquet")
          Files.move(part, dest)
          deleteRecursively(sub)
          Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(mtime))
        }
        writeOne(ev.filter(!late && !mid), "00_bulk", 1000000000000L)
        writeOne(ev.filter(mid), "01_mid", 1000000060000L)
        writeOne(ev.filter(late), "02_late", 1000000120000L)
        // the store keys completion on this marker (underscore prefix:
        // invisible to the file stream source)
        Files.createFile(Paths.get(tmp, "_SUCCESS"))
    }
  }

  def lateDropParity(spark: SparkSession, dir: String): DataFrame = {
    val agg = splitStream(spark, lateSplitDir(spark, dir)).withWatermark("ts", "48 hours")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 6)))
          .as("sum_dec"))
    memoryGate(spark, "stream_late_gate", agg, OutputMode.Append())(_
      .select(col("event_type"),
        graft.functions.Fx.dateStr(col("window.start").cast("date")).as("day"),
        col("n_events"),
        col("sum_dec").cast("double").as("sum_value"))
      .orderBy("event_type", "day"))
  }

  /** File-source entry point over the same parquet schema as the batch path:
    * the engine's batch queries re-point to a stream by swapping `read` for
    * `readStream` — the transformations are shared.
    */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.sources.Tables.shapeEvents(tableStream(spark, dir, "events"))
  }

  /** Documents-table stream source (no timestamp shaping needed). */
  def docStream(spark: SparkSession, dir: String): DataFrame =
    tableStream(spark, dir, "documents")

  /** LAYOUT-ADAPTIVE stream of `dir/<table>.parquet` (round 12's
    * 100×-sweep finding): when it is a DIRECTORY (the Spark-written layout,
    * e.g. the 100× replica corpus) it is streamed directly; when it is a
    * single FILE (the generated testdata layout) the parent dir is
    * streamed under `pathGlobFilter=<table>.parquet`. The glob-only form
    * silently matches NOTHING on directory layouts (the filter applies to
    * leaf FILE names, and a directory's parts are `part-*`), turning every
    * gate into an EMPTY stream instead of an error; the file-path-only form
    * fails on single files (`basePath must be a directory`). Both layouts
    * are real, so the source handles both.
    */
  private def tableStream(spark: SparkSession, dir: String, table: String): DataFrame = {
    val p = s"$dir/$table.parquet"
    val reader = spark.readStream.schema(spark.read.parquet(p).schema)
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p))) reader.parquet(p)
    else reader.option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** STREAMING per-domain quota (q219) — the incremental twin of the batch
    * q213 cap (round-13, VERDICT r12 item 8: the LLM-prep quota family had
    * no streaming counterpart for corpus ingestion). Keyed state per domain
    * holds exactly the `cap` smallest (hv = 52-bit md5(doc_id), doc_id)
    * keys seen so far plus a seen-counter — a late document can only
    * DISPLACE a survivor, never reshuffle the order (the q213 monotonicity
    * argument), so the final state equals the batch quota over the whole
    * corpus regardless of arrival order or micro-batch boundaries.
    *
    * Determinism devices for the oracle: Update-mode emissions carry the
    * per-domain seen-counter, which is strictly monotone (a domain's group
    * is only invoked when new docs arrive), so "latest emission" is
    * selected as max(struct(n_seen, kept)) with zero batch-id bookkeeping —
    * the q94 running-stats discipline applied to a bounded-heap state.
    *
    * Scale shape: state is cap ids + one counter per DOMAIN — kilobytes per
    * million domains, never proportional to document volume; the shuffle
    * per micro-batch carries only that batch's rows keyed by domain.
    */
  /** The keyed-state quota transform: rows are (domain, doc_id, hv);
    * emissions are (domain, n_seen, kept-ids in rank order) with `n_seen`
    * strictly monotone per domain. Factored out of the gate so specs can
    * drive it batch-by-batch through a MemoryStream and watch a later
    * batch DISPLACE an earlier survivor. */
  def domainQuotaStream(rows: Dataset[(String, Long, Long)],
                        cap: Int): Dataset[(String, Long, Seq[Long])] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (dom: String, it: Iterator[(String, Long, Long)],
         state: GroupState[(Long, List[(Long, Long)])]) =>
          val (n0, keep0) = state.getOption.getOrElse((0L, List.empty[(Long, Long)]))
          var n = n0
          var keep = keep0
          it.foreach { case (_, id, hv) =>
            n += 1
            // bounded insert: the heap never exceeds cap entries, so the
            // sort is O(cap log cap) per doc with cap ~ 10
            keep = ((hv, id) :: keep).sortBy(identity).take(cap)
          }
          state.update((n, keep))
          (dom, n, keep.map(_._2))
      }
  }

  /** STREAMING span-cut cleaner (q220) — q214's exact-substring removal as
    * corpus INGESTION: arriving documents are cleaned per micro-batch
    * against the STANDING duplicated-shingle index (vocabulary-sized,
    * persisted via the fingerprinted-MV discipline — what a crawl pipeline
    * keeps next to the corpus), emitted through the replay-idempotent
    * [[idempotentBatchSink]] (round-17: an at-least-once redelivery
    * overwrites its own `_batch_id` partition instead of appending the
    * same cleaned documents twice). Cleaning is per-document given
    * the index — tokenize, probe, anti-join covered positions, re-collect —
    * so the emitted relation is IDENTICAL to the batch cleaner under any
    * arrival order, micro-batch split, or replay (spec-pinned across a
    * 2-batch MemoryStream split and a double-invoked sink); the oracle is
    * q214's batch SQL verbatim.
    *
    * Scale shape: per-batch cost is linear in the batch's tokens; the
    * standing index probe is a (broadcastable) vocabulary-sized equi-join;
    * no state store at all — the state of this pipeline IS the index, which
    * refreshes on the MV's source-fingerprint discipline.
    */
  def spanCutStreamParity(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextOps
    // Deliberately NOT localCheckpoint'ed: inside a streaming foreachBatch
    // AQE is OFF, so the probe join's broadcast decision rests on STATIC
    // stats — the parquet-backed MV carries real sizeInBytes and the
    // vocabulary-sized index broadcasts, where a LogicalRDD from
    // localCheckpoint defaults to "huge" and forces a sort-merge join that
    // shuffles the full shingle-position stream every batch. (At the gate
    // corpus the measured effect is small — the covered-position distinct
    // and per-doc re-collect dominate — but at 100 TB the per-batch
    // token-volume shuffle is the difference between a map-side probe and
    // a full extra shuffle stage.) If the dup vocabulary ever outgrew the
    // broadcast threshold the planner degrades to a shuffle join instead
    // of OOMing the executors.
    val dup = TextOps.dupShinglesMV(spark, dir)
    emitGate(spark, "spancut_stream", docStream(spark, dir), "doc_id")(
      TextOps.spanCutCleanAgainst(_, dup))
  }

  /** STREAMING BENCHMARK DECONTAMINATION (q230) — q222's eval-leak removal
    * as corpus INGESTION (round-14, VERDICT r13 item 6: decontamination
    * runs where the corpus arrives): each micro-batch of arriving documents
    * is span-cut against the STANDING benchmark cut-set MV
    * ([[graft.operators.TextOps.benchShinglesMV]] — benchmark-sized,
    * fingerprinted on the eval set) with benchmark-source rows dropped at
    * the batch boundary, the q220 probe-the-standing-index shape with a
    * different (and much smaller) index, emitted through the
    * replay-idempotent [[idempotentBatchSink]]. Cleaning is per-document
    * given the cut set, so the emitted relation is identical to batch q222
    * under any arrival order, micro-batch split, or at-least-once replay;
    * the oracle is q222's batch SQL verbatim.
    *
    * Scale shape: per-batch cost linear in the batch's tokens; the cut-set
    * probe is a broadcast equi-join (the parquet-backed MV carries real
    * sizeInBytes — the q220 foreachBatch/AQE-off discipline); no state
    * store — the benchmark MV is the state, refreshed on the eval set's
    * fingerprint.
    */
  def decontamStreamParity(spark: SparkSession, dir: String,
                           benchSource: String = "src0"): DataFrame = {
    import graft.operators.TextOps
    val cut = TextOps.benchShinglesMV(spark, dir, benchSource)
    emitGate(spark, "decontam_stream", docStream(spark, dir), "doc_id")(batch =>
      TextOps.spanCutCleanAgainst(
        batch.filter(col("source") =!= benchSource), cut))
  }

  /** STREAMING MULTI-BENCHMARK DECONTAMINATION (q239, round-16 — VERDICT
    * r15 item 7a): q235's TAGGED multi-benchmark span cut run where the
    * corpus arrives. q230 probes a SINGLE benchmark's cut set; production
    * ingestion decontaminates against dozens at once, and q235 already
    * built the tagged union MV — this gate wires the stream twin: each
    * micro-batch of arriving documents runs the ONE-pass tagged probe
    * ([[graft.operators.TextOps.multiBenchDecontamAgainst]]) against the
    * standing [[graft.operators.TextOps.multiBenchShinglesMV]] and emits
    * cleaned rows WITH per-benchmark cut attribution through the
    * replay-idempotent [[idempotentBatchSink]]. Cleaning + audit are
    * per-document given the cut set, so the emitted relation is identical
    * to batch q235 under any arrival order, micro-batch split, or
    * at-least-once replay; the oracle is q235's SQL verbatim.
    *
    * Scale shape: q230's — per-batch cost linear in the batch's tokens,
    * the (Σ benchmark sizes)-shaped tagged MV broadcast into the probe
    * join (parquet-backed real sizeInBytes, AQE-off foreachBatch
    * discipline), no state store: the benchmark MV is the state,
    * refreshed on the eval sets' fingerprint.
    */
  def multiBenchDecontamStreamParity(spark: SparkSession, dir: String,
                                     benchSources: Seq[String] =
                                       graft.operators.TextOps.DefaultBenchSources)
      : DataFrame = {
    import graft.operators.TextOps
    val cut = TextOps.multiBenchShinglesMV(spark, dir, benchSources)
    emitGate(spark, "mbdecontam_stream", docStream(spark, dir), "doc_id")(batch =>
      TextOps.multiBenchDecontamAgainst(
        batch.filter(!col("source").isin(benchSources: _*)), cut))
  }

  /** STREAMING INCREMENTAL INDEX MAINTENANCE (q236, round-15 — VERDICT r14
    * item 4): the bucketed standing sym-adjacency MV (q232's layout)
    * maintained by a STREAM of CDC edge batches — each micro-batch derives
    * its co-purchase delta edges, merges them with [[graft.operators.GraphOps
    * .mergeSymDelta]] into the CURRENT published MV,
    * and atomically republishes the merged relation in the same bucketed
    * layout (the q155 CDC-apply discipline meets [[graft.sources.Tables
    * .bucketedMv]]). There is NO state store — the MV is the state: restart
    * recovery is the checkpoint's source offsets plus the last published
    * MV, exactly how a production refresh pipeline holds its index.
    *
    * REPLAY IDEMPOTENCE (round-16 — VERDICT r15 item 1): foreachBatch is
    * at-least-once, and the r15 shape republished IN PLACE — a failure
    * between the republish and the offset commit would replay the batch and
    * the join-form merge would ADD the delta's weights into a publish that
    * already contains them. Each step now publishes via [[graft.sources
    * .Tables.chainStep]] under a batchId-stamped name: a replayed batch
    * finds its own `_SUCCESS`-marked publish and skips the merge, the
    * predecessor is resolved from the durable listing (never a driver
    * variable), and retention runs only after the new publish is durable —
    * so the restart-recovery claim above holds through every crash point
    * (spec-pinned in `IncrementalRefreshSpec` by replaying batches against
    * the full rebuild).
    *
    * Batch grain: the delta lineitem rows are range-split on l_orderkey
    * into 3 files consumed with maxFilesPerTrigger=1 — a range partition
    * never splits one order across files, and whole orders are the CDC
    * grain that makes per-batch pair weights additive (the q127 argument).
    * Sequential merges are EXACT, not just convergent: each merge emits
    * the true weights and true degrees of (base ⊎ batch), so by induction
    * the final publish equals the full rebuild whatever the batching —
    * which is exactly what the q217/q232 full-rebuild oracle states.
    *
    * Scale shape: per batch, the base side is scan-only (bucketed layout,
    * zero exchange / zero sort), every shuffle is delta-sized, and the
    * write-back is the standing MV's bucketed write — the daily refresh
    * loop a 100 TB deployment actually runs, with cost ∝ delta + one base
    * scan + write-back, never ∝ history.
    */
  def symMergeStreamParity(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Paths
    import graft.operators.GraphOps
    import graft.sources.Tables
    val split = materializeSplit(dir, "lineitem", "symdelta_split") { tmp =>
      Tables.lineitem(spark, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .repartitionByRange(3, col("ok"))
        .write.mode("overwrite").parquet(tmp)
    }
    val srcPath = Paths.get(dir, "lineitem.parquet")
    // NOTE "p" (pristine), not the retired "copurchase_symb90s": an earlier
    // q236 shape republished merged state under that name, so reusing it
    // would treat a mutated publish as the pristine base
    val baseName = "copurchase_symb90p"
    val outName = "copurchase_symb90p_out"
    val bkt = Seq("u", "v")
    // pristine 90% standing MV — fingerprint-cached corpus-level state,
    // built ONCE per corpus and never mutated: the maintenance chain
    // publishes each refresh under `outName` instead, so replaying the
    // gate costs merges + write-backs, never a base rebuild
    Tables.bucketedMv(spark, srcPath, baseName, 32, bkt, bkt) {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      GraphOps.symmetrizeWithDegrees(
        GraphOps.copurchaseEdgesOf(li.filter(col("ok") % 10 =!= 0)))
    }
    // reset any prior run's refresh chain
    Tables.resetChain(spark, srcPath, outName)
    batchGate(spark, "symmerge_stream", splitStream(spark, split)) { (b, batchId) =>
      applySymMergeBatch(b.sparkSession, srcPath, baseName, outName,
        batchId, b)
    }
    Tables.chainLatest(spark, srcPath, outName, 32, bkt, bkt)
      .getOrElse(sys.error("maintenance chain published nothing"))
      .select(col("u"), col("v"), col("w").cast("long").as("w"),
        col("deg_u").cast("long").as("deg_u"))
      .orderBy("u", "v")
      .localCheckpoint(true)
  }

  /** One replay-idempotent step of q236's maintenance chain — the
    * foreachBatch body, factored so the replay contract is directly
    * spec-drivable (call it twice with the same batchId: the second call
    * must skip the merge). The bucketed build fully materializes into a
    * private temp BEFORE publication, so the merge's base scan and the
    * republish never race; oneFilePerBucket stays at chainStep's default
    * (true): since r19's broadcast-form mergeSymDelta the merge output is
    * NOT (u,v)-partitioned any more, and the explicit pre-shuffle restores
    * one file per bucket and the scan-reported sort (measured q236
    * 11.8→10.2 s). The retired r15a2 finding — the pre-shuffle
    * double-paying the exchange for an identical layout — applied to the
    * old join-form merge, whose output WAS already bucket-partitioned;
    * join-form callers that remain bucket-compatible can pass false. The
    * pristine base MV is read only
    * when no chain step is published yet — and must NEVER rebuild here (a
    * vanished MV mid-stream is a bug; a silent rebuild would drop merged
    * state). */
  private[graft] def applySymMergeBatch(s: SparkSession,
                                        srcPath: java.nio.file.Path,
                                        baseName: String, chainName: String,
                                        batchId: Long, batch: DataFrame,
                                        retain: Int = 2): Unit = {
    import graft.operators.GraphOps
    import graft.sources.Tables
    val bkt = Seq("u", "v")
    Tables.chainStep(s, srcPath, chainName, batchId, 32, bkt, bkt,
      retain = retain) { prev =>
      val cur = prev.getOrElse(
        Tables.bucketedMv(s, srcPath, baseName, 32, bkt, bkt)(
          sys.error(s"standing MV $baseName vanished mid-stream")))
      GraphOps.mergeSymDelta(cur, GraphOps.copurchaseEdgesOf(batch))
    }
  }

  /** STREAMING QUANTIZED-INDEX MAINTENANCE (q241, round-16): the last cell
    * of the maintenance-gate matrix — q236 proves the STREAMING chain on the
    * float merge, q238 the batch chain on the float IVF, q240 the batch
    * chain on the INT8 index; this gate drives the int8 chain from an
    * actual at-least-once stream. Arriving embedding micro-batches are
    * broadcast-assigned against the fixed centroids, quantized, and landed
    * in the standing int8 assignment MV through the replay-idempotent chain
    * ([[graft.operators.Similarity.applyInt8IvfBatch]] — the shared q240
    * step body, batchId-guarded, so a redelivered batch can never land a
    * vector twice); the final probe is q240's two-stage
    * coarse-int8-then-float-rescore over the latest publish's probed bucket
    * files. No state store — the published chain IS the state; restart
    * recovery is the checkpoint's source offsets plus the durable listing.
    *
    * Batch grain: the held-out decile is range-split on vec_id into 2
    * files consumed with maxFilesPerTrigger=1, so every vector arrives in
    * EXACTLY one micro-batch; assignment and quantization are per-vector,
    * so the union-form chain state — and therefore the probe — is the same
    * under ANY batching. That is why this gate shares q240's
    * assign-everything oracle verbatim: stream ≡ batch, hash-exactly.
    *
    * Scale shape: per batch one broadcast assign + quantize + an int8-sized
    * bucketed write-back (4× smaller than a float republish), never ∝
    * history; the probe reads only the probed cells' bucket files. */
  def int8IvfStreamParity(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Paths
    import graft.operators.Similarity
    import graft.sources.Tables
    val split = materializeSplit(dir, "embeddings", "int8ivf_split") { tmp =>
      Tables.embeddings(spark, dir)
        .filter(col("vec_id") % 10 === 0)
        .repartitionByRange(2, col("vec_id"))
        .write.mode("overwrite").parquet(tmp)
    }
    val srcPath = Paths.get(dir, "embeddings.parquet")
    val chain =
      s"ivf_q8_s90_${Similarity.IvfNCells}_${Similarity.IvfIters}"
    // reset any prior run's chain — the gate replays its maintenance
    // sequence from the pristine standing MV every time
    Tables.resetChain(spark, srcPath, chain)
    // centroid MV + standing int8 MV are corpus-level, batch-invariant
    // state: resolve (and first-touch build) ONCE before the stream, not
    // per micro-batch
    val inputs = Similarity.int8ChainInputs(spark, dir)
    batchGate(spark, "int8ivf_stream", splitStream(spark, split)) { (b, batchId) =>
      Similarity.applyInt8IvfBatch(b.sparkSession, dir, chain, batchId,
        b.select(col("vec_id"),
          col("embedding").cast("array<double>").as("e")), inputs)
    }
    Similarity.int8ChainProbe(spark, dir, chain)
  }

  /** STREAMING SEMANTIC-DEDUP MAINTENANCE (q244, round-17): the q242 chain
    * driven by an actual at-least-once stream — the SemDeDup column of the
    * maintenance-gate matrix, alongside q236 (stream × merge) and q241
    * (stream × int8 IVF). Arriving embedding micro-batches run the shared
    * q242 step body ([[graft.operators.Similarity.applySemDedupBatch]] —
    * broadcast-assign, one two-direction standing×batch pair join, a
    * batch×batch join, batchId-guarded chain landing, so a redelivered
    * batch can never double-flip or double-drop); the final census reads
    * the latest publish. Each final same-cell pair is examined exactly
    * once under ANY batching (the q242 argument), so this gate shares
    * q242's oracle verbatim: stream ≡ batch, hash-exactly — even though
    * the stream's range split batches the delta differently from q242's
    * %20 split.
    *
    * Batch grain: the held-out decile is range-split on vec_id into 2
    * files consumed with maxFilesPerTrigger=1 — every vector arrives in
    * exactly one micro-batch, the grain the pair-coverage argument needs.
    * No state store — the published chain IS the state; restart recovery
    * is the checkpoint's source offsets plus the durable listing.
    *
    * Scale shape: q242's — per batch one broadcast assign + |batch|·|cell|
    * pair work + the full-state bucketed write-back (the chain family's
    * durability floor, SCALING.md r17), never ∝ history².
    */
  def semDedupStreamParity(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Paths
    import graft.operators.Similarity
    import graft.sources.Tables
    val split = materializeSplit(dir, "embeddings", "semdedup_split") { tmp =>
      Tables.embeddings(spark, dir)
        .filter(col("vec_id") % 10 === 0)
        .repartitionByRange(2, col("vec_id"))
        .write.mode("overwrite").parquet(tmp)
    }
    val srcPath = Paths.get(dir, "embeddings.parquet")
    val chain = s"semdedup_s90_${Similarity.semDedupTag(Similarity.IvfNCells,
      Similarity.IvfIters, Similarity.SemDeDupTau)}"
    // reset any prior run's chain — the gate replays its maintenance
    // sequence from the pristine standing state every time
    Tables.resetChain(spark, srcPath, chain)
    // centroid MV + standing dedup state are corpus-level, batch-invariant
    // inputs: resolve (and first-touch build) ONCE before the stream
    val inputs = Similarity.semDedupChainInputs(spark, dir)
    batchGate(spark, "semdedup_stream", splitStream(spark, split)) { (b, batchId) =>
      Similarity.applySemDedupBatch(b.sparkSession, dir, chain, batchId,
        b.select(col("vec_id"),
          col("embedding").cast("array<double>").as("e")), inputs)
    }
    Similarity.semDedupCensusOf(
      Tables.chainLatest(spark, srcPath, chain, Similarity.IvfNCells,
          Seq("cell"), Seq("cell", "vec_id"))
        .getOrElse(sys.error("semantic dedup stream chain published nothing")))
      .localCheckpoint(true)
  }

  /** STREAMING DURABLE PQ MAINTENANCE (q248, round-19 — VERDICT r18
    * item 3): the q245 code-table chain driven by an actual at-least-once
    * stream — the LAST cell of the stream×ANN maintenance matrix (q241
    * covered int8-IVF, q244 SemDeDup). Arriving embedding micro-batches
    * run the shared q245 step body
    * ([[graft.operators.Similarity.applyPqBatch]] — m broadcast
    * assignCells encodes against the FIXED split-trained books, zero
    * shuffle, batchId-guarded [[graft.sources.Tables.chainStep]] landing,
    * so a redelivered batch can never land a vector's codes twice); the
    * final probe is q205's ADC + exact-rescore over the LATEST publish.
    * Encoding is per-vector given the fixed books, so the union-form
    * chain state — and therefore the probe — is identical under ANY
    * batching: this gate shares q245's `pqOracleSql` verbatim
    * (stream ≡ batch, hash-exactly), even though the stream's range split
    * batches the held-out decile differently from q245's %20 split.
    *
    * Batch grain: the held-out decile is range-split on vec_id into 2
    * files consumed with maxFilesPerTrigger=1, so every vector arrives in
    * exactly one micro-batch. No state store — the published chain IS the
    * state; restart recovery is the checkpoint's source offsets plus the
    * durable listing (crash-replay path proven by `CrashReplaySpec`'s
    * chain case; this gate rides the same `chainStep` guard).
    *
    * Batch-spread audit (VERDICT r18 item 5): per-batch heavy work is m
    * broadcast-books encodes where the batch is the PROBE side of
    * broadcast joins — executor-parallel over however the batch is
    * partitioned, but cost is |batch|·nCodes lookups (trivial), and the
    * chain write-back repartitions by bucket regardless; no
    * single-partition hazard (SCALING.md §batch-spread).
    *
    * Scale shape: per batch m broadcast encodes + the code-table
    * write-back (m bytes/vector — the smallest chain unit in the engine),
    * never ∝ history; the probe is one broadcast-LUT join over the code
    * table + survivor-sized float reads. */
  def pqStreamParity(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Paths
    import graft.operators.Similarity
    import graft.sources.Tables
    val split = materializeSplit(dir, "embeddings", "pqchain_split") { tmp =>
      Tables.embeddings(spark, dir)
        .filter(col("vec_id") % 10 === 0)
        .repartitionByRange(2, col("vec_id"))
        .write.mode("overwrite").parquet(tmp)
    }
    val srcPath = Paths.get(dir, "embeddings.parquet")
    val chain = s"pq_codes_strm90_${Similarity.PqM}_${Similarity.PqNCodes}_" +
      s"${Similarity.PqIters}_${Similarity.PqDim}"
    // reset any prior run's chain — the gate replays its maintenance
    // sequence from the pristine standing code table every time
    Tables.resetChain(spark, srcPath, chain)
    // books MV + standing code table are corpus-level, batch-invariant
    // inputs: resolve (and first-touch build) ONCE before the stream
    val inputs = Similarity.pqChainInputs(spark, dir)
    batchGate(spark, "pqchain_stream", splitStream(spark, split)) { (b, batchId) =>
      Similarity.applyPqBatch(b.sparkSession, dir, chain, batchId,
        b.select(col("vec_id"),
          col("embedding").cast("array<double>").as("e")), inputs)
    }
    Similarity.pqChainProbe(spark, dir, chain)
  }

  /** STREAMING SEMANTIC DECONTAMINATION (q247, round-18) — q246's
    * embedding-based eval-leak audit run where the corpus arrives, the
    * q230/q239 discipline applied to the SEMANTIC cut: the benchmark-side
    * probe relation (eval vectors with their nProbe nearest cells of the
    * q238 centroid space — benchmark-sized, corpus-level state) is resolved
    * ONCE before the stream; each arriving embedding micro-batch drops
    * benchmark-source rows at the batch boundary, broadcast-assigns its
    * vectors against the same fixed centroids, joins the probe relation on
    * cell at rounded cosine ≥ τ, and lands its flagged vectors through the
    * replay-idempotent [[idempotentBatchSink]]. Flagging is per-vector
    * given the standing benchmark set, so the emitted relation is
    * IDENTICAL to batch q246 under any arrival order, micro-batch split,
    * or at-least-once replay — the oracle is q246's SQL verbatim.
    *
    * Scale shape: per batch one broadcast-centroid assignment +
    * |batch|·nProbe·|cell-of-bench| broadcast pair join; no state store —
    * the benchmark probe relation is the state, refreshed on the eval
    * set's fingerprint (the q230 argument with cells for shingles).
    *
    * BATCH SPREAD (round-18 sweep finding): unlike the chain gates, whose
    * expensive side is the PARALLEL standing scan probed by a broadcast
    * batch, this gate's pair-join big side IS the arriving batch — and a
    * maxFilesPerTrigger=1 file-source micro-batch arrives as however few
    * input partitions one file splits into (ONE, for any file under
    * maxPartitionBytes), putting the whole |batch|·|cell| cosine load on
    * one core. The batch is round-robin repartitioned to the session's
    * shuffle width before the probe: a batch-sized shuffle (cheap, it's
    * the delta) buys full-cluster parallelism on the pair join — measured
    * at 100×: 667 s → ~35 s for the identical relation.
    */
  def semanticDecontamStreamParity(spark: SparkSession, dir: String,
                                   benchSource: String = "src0"): DataFrame = {
    import graft.operators.Similarity
    import graft.sources.Tables
    val split = materializeSplit(dir, "embeddings", "semdecontam_split") { tmp =>
      Tables.embeddings(spark, dir)
        .repartitionByRange(2, col("vec_id"))
        .write.mode("overwrite").parquet(tmp)
    }
    // corpus-level inputs, resolved once: the benchmark probe relation and
    // the source tags (both broadcast-sized at any corpus scale)
    val inputs = Similarity.semDecontamInputs(spark, dir, benchSource)
    emitGate(spark, "semdecontam_stream", splitStream(spark, split), "vec_id")(b =>
      Similarity.semanticDecontamBatch(
        spreadBatch(b.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))),
        inputs))
  }

  /** STREAMING MIXTURE-BUDGET ADMISSION (q227) — the batch q225 selection
    * (per-source token budgets executed by the quality-ranked
    * exclusive-prefix rule) as corpus INGESTION: per source, keyed state
    * holds exactly the CURRENT admitted set — the prefix of all seen docs
    * in (score desc, doc_id) order whose exclusive cumulative token count
    * is under the source's budget — and every arriving doc either inserts
    * into that prefix (possibly displacing its tail) or is rejected
    * outright.
    *
    * Why bounded state is EXACT here (the q219 monotonicity argument lifted
    * from a count cap to a token budget): a doc's `tokens_before` is the
    * token sum of all better-ranked docs, which only GROWS as the corpus
    * grows — so once a doc's exclusive prefix reaches the budget it is out
    * FOREVER, and the admitted set can be maintained by insert-then-retrim
    * alone, never re-admitting a displaced doc. Two cases close the
    * induction: if the state's inclusive total is under the budget, nothing
    * was ever displaced (the state IS all seen docs of that source); once
    * it reaches the budget, any doc ranking below the prefix already has
    * tokens_before ≥ budget. Hence final state ≡ the batch rule under ANY
    * arrival order or micro-batch split (spec-pinned).
    *
    * Scale shape: state per source = the admitted docs (token sum < budget
    * + one straddler — bounded by the budget, never by corpus volume) plus
    * one monotone seen-counter; the per-batch shuffle carries only that
    * batch's (source, id, n_tokens, score) rows. Zero-token docs ranked
    * inside the prefix never consume budget and are admitted — state could
    * only grow corpus-shaped on a pathological all-empty corpus (the batch
    * rule keeps those docs too; the contract is shared).
    */
  def mixtureBudgetStream(rows: Dataset[(String, Long, Long, Double)],
                          budgets: Map[String, Long])
      : Dataset[(String, Long, Seq[(Long, Long, Double, Long)])] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (src: String, it: Iterator[(String, Long, Long, Double)],
         state: GroupState[(Long, List[(Double, Long, Long)])]) =>
          val budget = budgets.getOrElse(src, 0L)
          val (n0, kept0) = state.getOption.getOrElse((0L, List.empty[(Double, Long, Long)]))
          var n = n0
          var kept = kept0
          it.foreach { case (_, id, nt, q) =>
            n += 1
            // ORDERED insert by (q desc, doc_id asc) — the state list is
            // already sorted, so a span + splice is O(|kept|) per doc (the
            // r13 re-sort paid an extra log factor for nothing); then retrim
            // to the take-while prefix, |kept| budget-bounded throughout
            val (before, after) = kept.span { case (qq, ii, _) =>
              qq > q || (qq == q && ii < id)
            }
            val inserted = before ::: (q, id, nt) :: after
            var acc = 0L
            kept = inserted.takeWhile { case (_, _, ntt) =>
              val in = acc < budget; acc += ntt; in
            }
          }
          state.update((n, kept))
          var acc = 0L
          val out = kept.map { case (q, id, nt) =>
            val off = acc; acc += nt; (id, nt, q, off)
          }
          (src, n, out)
      }
  }

  /** The q227 gate: budgets derived from the standing corpus by the batch
    * q225 micro-weight chain (sources-sized — a driver map, the realistic
    * deployment where mixture weights are decided offline and admission
    * runs online), documents streamed with the batch scoring expressions,
    * latest emission per source selected by the monotone seen-counter (the
    * q94/q219 discipline). Oracle = the batch q225 SQL verbatim.
    */
  def mixtureBudgetStreamParity(spark: SparkSession, dir: String,
                                budget: Long = 8000L): DataFrame = {
    import spark.implicits._
    import graft.operators.TextOps
    import graft.functions.Fx.rd
    val budgets = TextOps.mixtureWeightsFrom(
        graft.sources.Tables.documents(spark, dir))
      .selectExpr("source",
        s"CAST((CAST(round(weight * 1000000) AS BIGINT) * CAST($budget AS BIGINT))" +
          " DIV 1000000 AS BIGINT) AS source_budget")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ds = docStream(spark, dir)
      .select(col("source"), col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[^\\s]+"), lit(0)))
          .cast("long").as("n_tokens"),
        coalesce(rd(TextOps.qualityScore(col("text")), 6), lit(0.0)).as("q"))
      .as[(String, Long, Long, Double)]
    val out = mixtureBudgetStream(ds, budgets)
    val budgetDf = budgets.toSeq.toDF("source", "source_budget")
    memoryGate(spark, "stream_mixture_budget",
      out.toDF("source", "n_seen", "kept"), OutputMode.Update())(_
      .groupBy("source").agg(max(struct(col("n_seen"), col("kept"))).as("r"))
      .select(col("source"), explode(col("r.kept")).as("k"))
      .select(col("k._1").as("doc_id"), col("source"),
        col("k._2").as("n_tokens"), col("k._3").as("quality_score"),
        col("k._4").as("tokens_before"))
      .join(broadcast(budgetDf), "source")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("quality_score"), col("tokens_before"), col("source_budget"))
      .orderBy("doc_id"))
  }

  def domainQuotaStreamParity(spark: SparkSession, dir: String,
                              cap: Int = 10): DataFrame = {
    import spark.implicits._
    val ds = docStream(spark, dir)
      .select(col("source"), col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("long").as("hv"))
      .as[(String, Long, Long)]
    val out = domainQuotaStream(ds, cap)
    memoryGate(spark, "stream_domain_quota",
      out.toDF("source", "n_seen", "kept"), OutputMode.Update())(_
      .groupBy("source").agg(max(struct(col("n_seen"), col("kept"))).as("r"))
      .select(col("source"), posexplode(col("r.kept")).as(Seq("pos", "doc_id")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rk"), col("doc_id"))
      .orderBy("source", "rk"))
  }
}
