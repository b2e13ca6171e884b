package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("weeklyTumblingParity: AvailableNow file-source run is row-identical to the batch aggregation") {
    val streamed = StreamingOps.weeklyTumblingParity(spark, sf)
      .select("event_type", "semana", "n_events", "sum_value")
      .as[(String, String, Long, Double)].collect().toSeq
    val batch = graft.operators.EventOps.weeklyTumbling(spark, sf)
      .select(col("event_type"), graft.functions.Fx.dateStr(col("semana")).as("semana"),
        col("n_events"), col("sum_value"))
      .as[(String, String, Long, Double)].collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch, s"stream/batch divergence:\n$streamed\nvs\n$batch")
  }

  test("sessionParity: AvailableNow session-window run matches batch gaps-and-islands under the watermark cut") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val streamed = StreamingOps.sessionParity(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(streamed.nonEmpty, "no sessions emitted — watermark flush failed")

    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("value"),
        expr("ts_ns div 1000").as("tus"))
    val ord = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val sess = ev
      .withColumn("prev", lag("tus", 1).over(ord))
      .withColumn("flag",
        when(col("prev").isNull || col("tus") - col("prev") >= 1800000000L, 1).otherwise(0))
      .withColumn("sid", sum("flag").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(min("tus").as("session_start_us"), max("tus").as("last_us"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(30, 6))).as("sum_dec"))
    // end-of-stream watermark: Spark tracks event-time stats in MILLISECONDS
    val maxTus = ev.agg(max("tus")).as[Long].head()
    val wmUs = (maxTus / 1000L - 1800000L) * 1000L
    val batch = sess
      .filter(col("last_us") + 1800000000L <= wmUs)
      .select(col("user_id"), col("session_start_us"), col("n_events"),
        col("sum_dec").cast("double"))
      .orderBy("user_id", "session_start_us")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(streamed == batch,
      s"stream/batch session divergence: ${streamed.size} vs ${batch.size} rows")
  }

  test("runningStatsParity: mapGroupsWithState final snapshot matches the batch groupBy exactly") {
    import org.apache.spark.sql.types.DecimalType
    val streamed = StreamingOps.runningStatsParity(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    assert(streamed.nonEmpty)
    val batch = graft.sources.Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("sum_value"))
      .orderBy("user_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(streamed == batch, "custom-state stream totals diverge from batch")
  }

  test("dedupParity: AvailableNow dropDuplicates key set matches batch DISTINCT") {
    val streamed = StreamingOps.dedupParity(spark, sf)
      .as[(String, Long)].collect().toSeq
    val batch = graft.sources.Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct("user_id").as("n_users"))
      .orderBy("event_type")
      .as[(String, Long)].collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch, s"stream dedup/batch distinct divergence:\n$streamed\nvs\n$batch")
  }

  /** What a gate run named `name` left behind: memory-sink views and
    * scratch dirs (`graft_gate_<name>_<n>_*` under java.io.tmpdir). */
  private def gateLeftovers(name: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val views = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith(s"${name}_")).map(_.name).toSeq
    val l = java.nio.file.Files.list(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    val dirs = try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(s"graft_gate_${name}_")).toList
      finally l.close()
    views ++ dirs
  }

  test("runGate: a failing query or a throwing result leaves no sink view and no scratch dir, and restores the checksum conf") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    val k = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    def setting = spark.conf.getAll.get(k) // explicit value, None when unset
    val original = setting
    val events = StreamingOps.eventStream(spark, sf)
    def memoryGate(name: String, src: org.apache.spark.sql.DataFrame)
                  (result: StreamingOps.Gate => Long): Long =
      StreamingOps.runGate(spark, name, src)((w, _) => w.format("memory"))(result)
    try for (prior <- Seq(Some("true"), None)) {
      prior.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      // the query itself dies in its first micro-batch
      val failing = events.select(raise_error(lit("injected query failure")).as("x"))
      val e = intercept[StreamingQueryException](
        memoryGate("gate_failing_query", failing)(g => spark.table(g.name).count()))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected query failure")), e)
      assert(gateLeftovers("gate_failing_query").isEmpty,
        s"failed query left ${gateLeftovers("gate_failing_query")}")
      assert(setting == prior)
      // the query drains, then `result` throws while the sink is live
      intercept[IllegalStateException](
        memoryGate("gate_throwing_result", events.select("event_id")) { g =>
          assert(spark.table(g.name).count() > 0, "the drained sink is readable in result")
          assert(gateLeftovers("gate_throwing_result").size == 2, "view and scratch exist mid-run")
          throw new IllegalStateException("injected result failure")
        })
      assert(gateLeftovers("gate_throwing_result").isEmpty,
        s"throwing result left ${gateLeftovers("gate_throwing_result")}")
      assert(setting == prior)
    } finally original.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("two gates run at once on the shared session return their sequential rows and leave no scratch") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def weekly() = StreamingOps.weeklyTumblingParity(spark, sf).collect().toSeq
    def dedup() = StreamingOps.dedupParity(spark, sf).collect().toSeq
    val (w0, d0) = (weekly(), dedup())
    assert(w0.nonEmpty && d0.nonEmpty)
    val (w1, d1) = Await.result(Future(weekly()).zip(Future(dedup())), 10.minutes)
    assert(w1 == w0, s"concurrent weekly gate diverged:\n$w1\nvs\n$w0")
    assert(d1 == d0, s"concurrent dedup gate diverged:\n$d1\nvs\n$d0")
    val left = gateLeftovers("stream_weekly_gate") ++ gateLeftovers("stream_dedup_gate")
    assert(left.isEmpty, s"concurrent gates left $left")
  }

  test("streamJoinParity: AvailableNow stream-stream interval join emits exactly the batch pair set") {
    val streamed = StreamingOps.streamJoinParity(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val ev = graft.sources.Tables.events(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_ns").as("ctn"), col("event_id").as("cid"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts_ns").as("ptn"))
    val batch = c.join(p, c("user_id") === col("pu") &&
        col("ptn") >= col("ctn") && col("ptn") <= col("ctn") + 600000000000L)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("cid")).as("n_clicks"))
      .orderBy("user_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch, s"stream join/batch join divergence:\n$streamed\nvs\n$batch")
  }

  test("streamLeftJoinParity: inner pairs match batch; NULL rows are exactly the unmatched clicks beyond the watermark window") {
    val out = StreamingOps.streamLeftJoinParity(spark, sf).cache()
    val matchedPairs = out.filter(col("p_id").isNotNull)
      .select("click_id", "p_id").as[(Long, Long)].collect().toSet
    val nullClicks = out.filter(col("p_id").isNull)
      .select("click_id").as[Long].collect().toSet
    val ev = graft.sources.Tables.events(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), expr("ts_ns div 1000").as("cus"), col("event_id").as("cid"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), expr("ts_ns div 1000").as("pus"), col("event_id").as("pid"))
    val batchPairs = c.join(p, c("user_id") === col("pu") &&
        col("pus") >= col("cus") && col("pus") <= col("cus") + 600000000L)
      .select(col("cid"), col("pid")).as[(Long, Long)].collect().toSet
    assert(matchedPairs == batchPairs, "left-outer inner part differs from the batch join")
    // the NULL-extended set: unmatched clicks whose whole match window the
    // end-of-stream watermark W = min(max click, max purchase) - delay
    // STRICTLY passed; clicks in the final 2x-window tail are withheld
    val w = math.min(
      c.agg(max("cus")).head().getLong(0),
      p.agg(max("pus")).head().getLong(0)) - 600000000L
    val matchedClicks = batchPairs.map(_._1)
    val expectNull = c.select("cid", "cus").as[(Long, Long)].collect()
      .filter { case (id, cus) => !matchedClicks(id) && cus + 600000000L < w }
      .map(_._1).toSet
    assert(nullClicks.nonEmpty, "no NULL rows emitted — the outer semantics were not exercised")
    assert(nullClicks == expectNull,
      s"NULL-row set diverges from the unmatched-beyond-window set: " +
        s"extra=${(nullClicks -- expectNull).take(5)} missing=${(expectNull -- nullClicks).take(5)}")
    out.unpersist()
  }

  test("streamFullJoinParity: both dangling sides null-emit on their own cuts (click_ts + w vs own p_ts)") {
    val out = StreamingOps.streamFullJoinParity(spark, sf).cache()
    val pairs = out.filter(col("click_id").isNotNull && col("p_id").isNotNull)
      .select("click_id", "p_id").as[(Long, Long)].collect().toSet
    val nullClicks = out.filter(col("p_id").isNull)
      .select("click_id").as[Long].collect().toSet
    val nullPurchases = out.filter(col("click_id").isNull)
      .select("p_id").as[Long].collect().toSet
    val ev = graft.sources.Tables.events(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), expr("ts_ns div 1000").as("cus"), col("event_id").as("cid"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), expr("ts_ns div 1000").as("pus"), col("event_id").as("pid"))
    val m = c.join(p, c("user_id") === col("pu") &&
      col("pus") >= col("cus") && col("pus") <= col("cus") + 600000000L)
    val batchPairs = m.select(col("cid"), col("pid")).as[(Long, Long)].collect().toSet
    assert(pairs == batchPairs, "full-outer inner part differs from the batch join")
    val w = math.min(
      c.agg(max("cus")).head().getLong(0),
      p.agg(max("pus")).head().getLong(0)) - 600000000L
    val expectNullClicks = c.select("cid", "cus").as[(Long, Long)].collect()
      .filter { case (id, cus) => !batchPairs.map(_._1)(id) && cus + 600000000L < w }
      .map(_._1).toSet
    // a purchase matches only clicks AT OR BEFORE its own timestamp, so its
    // match window's upper bound is p_ts itself: unmatchable once w > p_ts
    val expectNullPurchases = p.select("pid", "pus").as[(Long, Long)].collect()
      .filter { case (id, pus) => !batchPairs.map(_._2)(id) && pus < w }
      .map(_._1).toSet
    assert(nullClicks.nonEmpty && nullPurchases.nonEmpty,
      "a dangling side emitted nothing — outer semantics not exercised")
    assert(nullClicks == expectNullClicks,
      s"dangling-click set diverges: extra=${(nullClicks -- expectNullClicks).take(5)} " +
        s"missing=${(expectNullClicks -- nullClicks).take(5)}")
    assert(nullPurchases == expectNullPurchases,
      s"dangling-purchase set diverges: extra=${(nullPurchases -- expectNullPurchases).take(5)} " +
        s"missing=${(expectNullPurchases -- nullPurchases).take(5)}")
    out.unpersist()
  }

  test("outer stream joins: eviction is STRICT at the exact watermark boundary (engineered fixture)") {
    // The gate corpora never land a row exactly on the eviction cut, so the
    // oracles' strict `<` was unexercised there. This fixture pins it: with
    // anchors at t=100min on both sides and delay = window = 10min, the
    // end-of-stream watermark is exactly W = 90min. A dangling click whose
    // window END equals W (click at 80min) and a dangling purchase AT W
    // (90min) must BOTH be withheld — state for a row whose bound equals
    // the watermark is retained; only strictly-passed rows null-emit.
    import java.nio.file.{Files, Paths}
    val tmp = tempDir("evb").toString
    def mins(m: Long): Long = m * 60L * 1000000000L // ns, the events ts unit
    val rows = Seq(
      (990L, mins(100), 99L, "click", 1.0, "{}"),    // anchor pair: maxC
      (991L, mins(100), 99L, "purchase", 1.0, "{}"), // and maxP = 100min
      (1L, mins(80), 1L, "click", 1.0, "{}"),        // boundary: cus+w == W
      (2L, mins(60), 2L, "click", 1.0, "{}"),        // expired: 70 < 90
      (3L, mins(85), 3L, "click", 1.0, "{}"),        // tail: 95 > 90
      (4L, mins(90), 4L, "purchase", 1.0, "{}"),     // boundary: pus == W
      (5L, mins(50), 5L, "purchase", 1.0, "{}"),     // expired: 50 < 90
      (6L, mins(95), 6L, "purchase", 1.0, "{}")      // tail: 95 > 90
    )
    val staging = tmp + "/staging"
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(staging)
    // events.parquet must be ONE FILE named exactly that (pathGlobFilter)
    val part = Files.list(Paths.get(staging)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.move(Paths.get(part), Paths.get(tmp + "/events.parquet"))

    val left = StreamingOps.streamLeftJoinParity(spark, tmp)
    assert(left.filter(col("p_id").isNull).select("click_id").as[Long].collect().toSeq == Seq(2L),
      "left-outer: only the strictly-expired click (not the boundary one) may null-emit")

    val full = StreamingOps.streamFullJoinParity(spark, tmp)
    val nullClicks = full.filter(col("p_id").isNull && col("click_id").isNotNull)
      .select("click_id").as[Long].collect().toSeq.sorted
    val nullPurch = full.filter(col("click_id").isNull)
      .select("p_id").as[Long].collect().toSeq.sorted
    val nPairs = full.filter(col("click_id").isNotNull && col("p_id").isNotNull).count()
    assert(nullClicks == Seq(2L), s"full-outer dangling clicks: $nullClicks (boundary click 1 must be withheld)")
    assert(nullPurch == Seq(5L), s"full-outer dangling purchases: $nullPurch (boundary purchase 4 must be withheld)")
    assert(nPairs == 1L, "only the anchor pair matches")
  }

  test("sessionTimeoutEmitter: timers fire STRICTLY past the watermark; multi-session state and decimal sums are exact") {
    // gap = delay = 30 min; anchor at t=120min ⇒ W_final = 90min (ms-grained).
    // user 2: last at 60min ⇒ cut == W exactly ⇒ WITHHELD (strict fire —
    //         this is the row that pins Spark's `timeout < watermark`)
    // user 3: TWO sessions (10min, then 50min after a 40min gap) ⇒ both cuts
    //         (40, 80) < 90 ⇒ both emitted, state handled a session LIST
    // user 4: events at 55+56min (one session, intra-batch merge, sum 4+40)
    //         ⇒ cut 86 < 90 ⇒ emitted with n=2, exact decimal sum
    // user 5: last at 65min ⇒ cut 95 > 90 ⇒ withheld
    import java.nio.file.{Files, Paths}
    val tmp = tempDir("tmb").toString
    def mins(m: Long): Long = m * 60L * 1000000000L
    val rows = Seq(
      (99L, mins(120), 9L, "view", 1.0, "{}"),
      (21L, mins(60), 2L, "view", 2.0, "{}"),
      (31L, mins(10), 3L, "view", 3.0, "{}"),
      (32L, mins(50), 3L, "view", 30.0, "{}"),
      (41L, mins(55), 4L, "view", 4.0, "{}"),
      (42L, mins(56), 4L, "view", 40.0, "{}"),
      (51L, mins(65), 5L, "view", 5.0, "{}")
    )
    val staging = tmp + "/staging"
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(staging)
    val part = Files.list(Paths.get(staging)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.move(Paths.get(part), Paths.get(tmp + "/events.parquet"))
    val out = StreamingOps.sessionTimeoutParity(spark, tmp)
      .select("user_id", "session_start_us", "n_events", "sum_value")
      .as[(Long, Long, Long, Double)].collect().toSet
    def us(m: Long) = m * 60L * 1000000L
    assert(out == Set(
      (3L, us(10), 1L, 3.0),
      (3L, us(50), 1L, 30.0),
      (4L, us(55), 2L, 44.0)),
      s"timer emission set diverged: $out (user 2 at cut==W must be withheld — strict fire)")
  }

  test("domainQuotaStream: a later batch DISPLACES a survivor; state stays cap-bounded; final state = batch quota") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)] // (domain, doc_id, hv)
    val q = StreamingOps.domainQuotaStream(input.toDS(), cap = 2).writeStream
      .format("memory").queryName("domquota_out").outputMode("update").start()
    try {
      // batch 1: domain a fills its heap with keys 30, 50 (and sees 70 overflow)
      input.addData(("a", 1L, 50L), ("a", 2L, 30L), ("a", 3L, 70L), ("b", 9L, 5L))
      q.processAllAvailable()
      val after1 = spark.table("domquota_out").as[(String, Long, Seq[Long])]
        .collect().filter(_._1 == "a").maxBy(_._2)
      assert(after1 == (("a", 3L, Seq(2L, 1L))), s"batch-1 survivors wrong: $after1")
      // batch 2: key 10 displaces doc 1 (hv 50); doc 5's hv 60 never enters
      input.addData(("a", 4L, 10L), ("a", 5L, 60L))
      q.processAllAvailable()
      val emissions = spark.table("domquota_out").as[(String, Long, Seq[Long])].collect()
      val finalA = emissions.filter(_._1 == "a").maxBy(_._2)
      assert(finalA == (("a", 5L, Seq(4L, 2L))),
        s"displacement across batches failed: $finalA")
      assert(emissions.forall(_._3.length <= 2), "state exceeded the cap")
      // the monotone-counter selection rule the gate relies on: max n_seen
      // per domain IS the latest emission
      assert(emissions.filter(_._1 == "a").map(_._2).sorted.toSeq == Seq(3L, 5L))
      // final state equals the batch ranking over everything that arrived
      val all = Seq(("a", 1L, 50L), ("a", 2L, 30L), ("a", 3L, 70L), ("b", 9L, 5L),
        ("a", 4L, 10L), ("a", 5L, 60L))
      val batch = all.groupBy(_._1).view.mapValues(
        _.map(t => (t._3, t._2)).sorted.take(2).map(_._2)).toMap
      val got = emissions.groupBy(_._1).map { case (d, es) => d -> es.maxBy(_._2)._3.toSeq }
      assert(got == batch, s"stream final != batch quota: $got vs $batch")
    } finally q.stop()
  }

  test("mixtureBudgetStream: displacement is permanent, straddler kept, zero budget empty, final state = batch rule under any split") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long, Double)] // (source, doc_id, n_tokens, q)
    val budgets = Map("a" -> 10L, "b" -> 0L)
    val q = StreamingOps.mixtureBudgetStream(input.toDS(), budgets).writeStream
      .format("memory").queryName("mixbudget_out").outputMode("update").start()
    try {
      // batch 1: doc1 (off 0) + doc2 (off 5 < 10, STRADDLER: inclusive 11 > budget)
      input.addData(("a", 1L, 5L, 0.5), ("a", 2L, 6L, 0.4), ("b", 9L, 1L, 0.9))
      q.processAllAvailable()
      // batch 2: doc3 outranks both -> prefix [3 (off 0), 1 (off 7)]; doc2's
      // exclusive prefix becomes 12 >= 10 -> DISPLACED forever
      input.addData(("a", 3L, 7L, 0.6))
      q.processAllAvailable()
      // batch 3: doc4 ranks below doc1 -> exclusive prefix 12 >= 10, rejected
      // outright; doc2 must NOT come back
      input.addData(("a", 4L, 2L, 0.45))
      q.processAllAvailable()
      val emissions = spark.table("mixbudget_out")
        .as[(String, Long, Seq[(Long, Long, Double, Long)])].collect()
      val a = emissions.filter(_._1 == "a").maxBy(_._2)
      assert(a._2 == 4L, s"seen-counter wrong: $a")
      assert(a._3.map(_._1) == Seq(3L, 1L), s"final admitted set wrong: $a")
      assert(a._3.map(_._4) == Seq(0L, 7L), s"exclusive prefixes wrong: $a")
      val b = emissions.filter(_._1 == "b").maxBy(_._2)
      assert(b._3.isEmpty, s"zero-budget source must keep nothing: $b")
      // the intermediate emission really held doc2 before its displacement
      val a1 = emissions.filter(e => e._1 == "a" && e._2 == 2L).head
      assert(a1._3.map(_._1) == Seq(1L, 2L), s"batch-1 state wrong: $a1")
    } finally q.stop()

    // property: for a fixed doc population, EVERY arrival order / batch split
    // ends in the same state == the batch take-while rule
    // 17/18 tie 12's score and 18 > 12 > 17 by id — the ordered-insert
    // tie-break (insert strictly after smaller ids, before larger) must
    // match the batch sort's (-q, id) order for every arrival order
    val docsA = Seq((11L, 3L, 0.9), (12L, 4L, 0.8), (13L, 5L, 0.7),
      (14L, 2L, 0.85), (15L, 6L, 0.6), (16L, 1L, 0.95),
      (17L, 2L, 0.8), (18L, 1L, 0.8))
    val budget = 9L
    def batchRule(ds: Seq[(Long, Long, Double)]): Seq[(Long, Long)] = {
      var acc = 0L
      ds.sortBy { case (id, _, q) => (-q, id) }
        .takeWhile { case (_, nt, _) => val in = acc < budget; acc += nt; in }
        .map { case (id, nt, _) => (id, nt) }
    }
    val rng = new scala.util.Random(13)
    (1 to 3).foreach { trial =>
      val order = rng.shuffle(docsA)
      val cut = 1 + rng.nextInt(order.length - 1)
      val in2 = MemoryStream[(String, Long, Long, Double)]
      val q2 = StreamingOps.mixtureBudgetStream(in2.toDS(), Map("a" -> budget))
        .writeStream.format("memory").queryName(s"mixprop_$trial")
        .outputMode("update").start()
      try {
        in2.addData(order.take(cut).map(d => ("a", d._1, d._2, d._3)))
        q2.processAllAvailable()
        in2.addData(order.drop(cut).map(d => ("a", d._1, d._2, d._3)))
        q2.processAllAvailable()
        val fin = spark.table(s"mixprop_$trial")
          .as[(String, Long, Seq[(Long, Long, Double, Long)])]
          .collect().maxBy(_._2)
        assert(fin._3.map(t => (t._1, t._2)) == batchRule(docsA),
          s"trial $trial (cut $cut, order ${order.map(_._1)}): " +
            s"${fin._3.map(_._1)} != ${batchRule(docsA).map(_._1)}")
      } finally q2.stop()
    }
  }

  test("spanCutStream: per-batch cleaning against the standing index equals the batch cleaner under a 2-batch split") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a second document shares the quick brown fox phrase entirely"),
      (3L, "completely unrelated words live here alone")
    ).toDF("doc_id", "text")
    val dup = TextOps.dupShinglesFrom(corpus).localCheckpoint(true)
    val batchResult = TextOps.spanCutCleanAgainst(corpus, dup)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getDouble(5))).toSet
    // stream the SAME corpus in two micro-batches against the same index
    val input = MemoryStream[(Long, String)]
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, String, Double)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        buf.synchronized {
          buf ++= TextOps.spanCutCleanAgainst(b, dup).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
              r.getString(4), r.getDouble(5)))
        }
        ()
      }.start()
    try {
      input.addData((1L, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      input.addData((2L, "a second document shares the quick brown fox phrase entirely"),
        (3L, "completely unrelated words live here alone"))
      q.processAllAvailable()
    } finally q.stop()
    assert(buf.toSet == batchResult,
      s"stream split diverged from batch:\n${buf.toSet}\nvs\n$batchResult")
    // the cleaner genuinely cut the shared phrase and kept the unrelated doc whole
    val byId = buf.map(t => t._1 -> t).toMap
    assert(byId(1L)._3 > 0 && byId(2L)._3 > 0, "shared 'the quick brown fox' span must be cut in both docs")
    assert(byId(3L)._3 == 0 && byId(3L)._4 == byId(3L)._2, "unrelated doc must pass through uncut")
  }

  // --- round-17, VERDICT r16 item 1: the streaming cleaner gates' emitted
  // sinks are replay-idempotent. foreachBatch is at-least-once; each gate's
  // body is `idempotentBatchSink(clean(batch), id, out)`, so the spec
  // invokes exactly that body twice at the same batchId and proves the
  // landed relation unchanged — the double-apply window a plain append
  // would corrupt with duplicate cleaned documents.

  test("idempotentBatchSink: replaying a batchId leaves the landed relation unchanged; other batches survive") {
    val out = tempDir("graft_idem_sink").toString + "/t"
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "payload")
    val b1 = Seq((3L, "c")).toDF("doc_id", "payload")
    StreamingOps.idempotentBatchSink(b0, 0L, out)
    StreamingOps.idempotentBatchSink(b1, 1L, out)
    val before = spark.read.parquet(out).drop("_batch_id")
      .as[(Long, String)].collect().sorted.toSeq
    // the crash-replay window: batch 0 is redelivered after batch 1 landed
    StreamingOps.idempotentBatchSink(b0, 0L, out)
    val after = spark.read.parquet(out).drop("_batch_id")
      .as[(Long, String)].collect().sorted.toSeq
    assert(before == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(after == before, s"replay changed the landed relation: $after vs $before")
  }

  test("cleaner-gate body replayed at the same batchId: emitted span-cut relation unchanged") {
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "alpha beta gamma delta shared run of tokens here"),
      (2L, "totally different text with shared run of tokens here"),
      (3L, "unique content nothing duplicated at all anywhere")).toDF("doc_id", "text")
    val dup = TextOps.dupShinglesFrom(docs).localCheckpoint(true)
    val out = tempDir("graft_idem_gate").toString + "/t"
    def body(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingOps.idempotentBatchSink(TextOps.spanCutCleanAgainst(batch, dup), id, out)
    def landed(): Seq[(Long, Long, Long, Long, String)] =
      spark.read.parquet(out).drop("_batch_id")
        .select("doc_id", "n_tokens", "n_removed", "n_kept", "kept_digest")
        .as[(Long, Long, Long, Long, String)].collect().sorted.toSeq
    body(docs.filter(col("doc_id") <= 2), 0L)
    body(docs.filter(col("doc_id") === 3), 1L)
    val once = landed()
    body(docs.filter(col("doc_id") <= 2), 0L) // at-least-once redelivery
    assert(landed() == once, "replayed cleaner batch changed the emitted relation")
    // and the emitted relation matches the batch cleaner over the same corpus
    val batchTwin = TextOps.spanCutCleanAgainst(docs, dup)
      .select("doc_id", "n_tokens", "n_removed", "n_kept", "kept_digest")
      .as[(Long, Long, Long, Long, String)].collect().sorted.toSeq
    assert(once == batchTwin, "streamed emission != batch cleaner")
  }

  test("foreachBatch sink: latestSnapshot recovers exact current values per key") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_stream_sink")
    val input = MemoryStream[(Long, Double)]
    val events = input.toDF().toDF("user_id", "value")
    val agg = events.groupBy("user_id").count()
    val q = StreamingOps.parquetSink(agg, s"$dir/out", s"$dir/ckpt").start()
    try {
      input.addData((1L, 1.0), (1L, 2.0))
      q.processAllAvailable()
      input.addData((2L, 3.0), (1L, 4.0)) // user 1 updated again in batch 2
      q.processAllAvailable()
      val raw = spark.read.parquet(s"$dir/out")
      assert(raw.columns.toSet == Set("user_id", "count", "_batch_id"))
      assert(raw.filter(col("user_id") === 1L).count() == 2) // snapshot per batch
      // the documented read path dedups to the newest row per key
      val latest = StreamingOps.latestSnapshot(raw, Seq("user_id"))
        .as[(Long, Long)].collect().toMap
      assert(latest == Map(1L -> 3L, 2L -> 1L))
    } finally q.stop()
  }

  test("lenient CSV ingest quarantines malformed rows instead of failing") {
    val dir = tempDir("graft_csv")
    java.nio.file.Files.writeString(dir.resolve("q.csv"),
      "date,symbol,open,high,low,close,volume\n" +
        "2024-01-01,AAA,1.0,2.0,0.5,1.5,100\n" +
        "not-a-date,BBB,oops,2.0,0.5,1.5,100\n")
    // cache: Spark disallows querying only the corrupt column straight off
    // the raw file scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val df = graft.sources.Tables.readStagingCsvLenient(spark, dir.toString).cache()
    val clean = df.filter(col("_corrupt_record").isNull)
    val bad = df.filter(col("_corrupt_record").isNotNull)
    assert(clean.count() == 1 && bad.count() == 1)
    assert(clean.head().getAs[String]("symbol") == "AAA")
  }

  test("JSONL document ingest: declared schema, malformed lines quarantined") {
    val dir = tempDir("graft_jsonl")
    java.nio.file.Files.writeString(dir.resolve("docs.jsonl"),
      """{"doc_id": 1, "text": "first document body", "lang": "en", "source": "web", "n_chars": 19}
        |{"doc_id": 2, "text": "second one", "lang": "de", "source": "book", "n_chars": 10}
        |{not valid json at all
        |""".stripMargin)
    val (clean, quarantined) = graft.sources.Tables.readDocumentsJsonl(spark, dir.toString)
    assert(clean.count() == 2)
    assert(clean.columns.toSeq == Seq("doc_id", "text", "lang", "source", "n_chars"))
    assert(clean.filter(col("doc_id") === 1L).head().getAs[String]("text") == "first document body")
    val bad = quarantined.collect().map(_.getString(0))
    assert(bad.length == 1 && bad(0).startsWith("{not valid"), s"quarantine wrong: ${bad.toSeq}")
    // the clean relation drops into the text-operator surface unchanged —
    // including the full corpus pipeline (ingest-format agnosticism)
    assert(graft.operators.TextOps.qualityMetrics(clean).count() == 2)
    val piped = graft.pipeline.CorpusPipeline.runFrom(spark, clean, None, minQuality = 0.0)
    assert(piped.nRaw == 2L && piped.nFinal == 2L)
    // write half of the interchange contract: JSONL out -> JSONL in, lossless
    val out = tempDir("graft_jsonl_out").toString + "/docs"
    graft.sources.Tables.writeJsonl(clean, out)
    val (back, badBack) = graft.sources.Tables.readDocumentsJsonl(spark, out)
    assert(badBack.count() == 0)
    assert(back.orderBy("doc_id").collect().toSeq ==
      clean.orderBy("doc_id").collect().toSeq, "JSONL round-trip not lossless")
  }

  test("eventStream: streaming weekly agg matches the batch twin row-for-row") {
    val stream = StreamingOps.eventStream(spark, sf)
    assert(stream.isStreaming)
    val weekly = stream.withWatermark("ts", "7 days")
      .groupBy(window(col("ts"), "7 days", "7 days", "4 days"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").cast("date").as("semana"), col("event_type"), col("n_events"))
    val q = weekly.writeStream
      .format("memory").queryName("file_stream_out").outputMode("update").start()
    try {
      q.processAllAvailable()
      // latest update per (week, type) from the stream...
      val streamed = spark.table("file_stream_out")
        .groupBy("semana", "event_type")
        .agg(max("n_events").as("n_events"))
        .select(col("semana").cast("string"), col("event_type"), col("n_events"))
        .as[(String, String, Long)].collect().toSet
      // ...must equal the batch weekly tumbling counts on the same parquet
      val batch = graft.operators.EventOps.weeklyTumbling(spark, sf)
        .select(col("semana").cast("string"), col("event_type"), col("n_events"))
        .as[(String, String, Long)].collect().toSet
      assert(streamed == batch,
        s"stream/batch divergence: only-stream=${streamed -- batch}, only-batch=${batch -- streamed}")
    } finally q.stop()
  }

  test("lateDropParity: the late file is dropped BY THE WATERMARK, not merely absent") {
    // Re-run the q185 lifecycle with progress capture: the drop must show in
    // numRowsDroppedByWatermark (proving Spark's late filter fired — the
    // gate's hash parity alone cannot distinguish drop-by-watermark from a
    // source that never delivered the rows), and its size must equal the
    // late set exactly.
    val split = StreamingOps.lateSplitDir(spark, sf)
    // the watermark filter runs on the map-side PARTIAL aggregate, so the
    // dropped-row metric counts distinct late (day, type) groups, not raw
    // late rows
    val lateGroups = spark.read.parquet(s"$split/02_late.parquet")
      .select(col("ts").cast("date"), col("event_type")).distinct().count()
    assert(lateGroups > 0)
    val agg = StreamingOps.splitStream(spark, split).withWatermark("ts", "48 hours")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val ckpt = tempDir("graft_late_spec")
    val q = agg.writeStream.format("memory").queryName("late_spec")
      .option("checkpointLocation", ckpt.toString)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val dropped = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped == lateGroups, s"dropped=$dropped lateGroups=$lateGroups")
      // and the emitted relation excludes every late-set (day, type) delta:
      // Jan 1-9 counts must equal the on-time-only batch counts
      val emitted = spark.table("late_spec")
        .select(col("window.start").cast("date").cast("string").as("day"),
          col("event_type"), col("n_events"))
        .as[(String, String, Long)].collect()
        .filter(_._1 < "2024-01-10").toSet
      val batch = graft.sources.Tables.events(spark, sf)
        .filter(!(col("date") < lit("2024-01-10").cast("date") &&
          col("event_id") % 5 === 0))
        .filter(col("date") < lit("2024-01-10").cast("date"))
        .groupBy(col("date").cast("string").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .as[(String, String, Long)].collect().toSet
      assert(emitted == batch,
        s"only-stream=${emitted -- batch}, only-batch=${batch -- emitted}")
    } finally {
      q.stop()
      spark.catalog.dropTempView("late_spec")
    }
  }

  test("spreadBatch (r19): a single-partition micro-batch is spread to the shuffle width before a gate's heavy stage") {
    // the hazard class (SCALING.md §batch-spread): a maxFilesPerTrigger=1
    // file-source batch arrives as ONE partition, and a gate whose heavy
    // join/map side IS the batch runs its whole load on one core unless
    // the batch is spread first. The guard's contract: partition count
    // after spreading >= min(shuffle width, batch rows) — repartition(n)
    // yields exactly n slots, so every core gets work whenever the batch
    // has it.
    val width = spark.sessionState.conf.numShufflePartitions
    val one = spark.range(0, 1000).toDF("vec_id").coalesce(1)
    assert(one.rdd.getNumPartitions == 1, "precondition: a one-partition batch")
    val spread = StreamingOps.spreadBatch(one)
    assert(spread.rdd.getNumPartitions == width,
      s"spreadBatch must widen to the session shuffle width ($width)")
    assert(spread.rdd.getNumPartitions >= math.min(width, 1000))
    // content is a pure repartition: same rows, nothing dropped or forged
    assert(spread.agg(count(lit(1)), sum("vec_id")).collect().head ==
      one.agg(count(lit(1)), sum("vec_id")).collect().head)
    // round-robin spread: no partition hoards the batch (the 1-core
    // pathology this guard exists to prevent) — with 1000 rows over the
    // width, every partition holds some
    val sizes = spread.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.count(_ > 0) == width,
      s"round-robin spread should populate every partition: ${sizes.toSeq}")
  }
}
