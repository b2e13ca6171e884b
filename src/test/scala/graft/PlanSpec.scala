package graft

import graft.operators.{Analytics, MarketView, Stars}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Physical-plan assertions for the properties that matter at 100 TB:
  * pushdown reaching the parquet scan, broadcast joins for dims, partial
  * aggregation, and shuffle counts. These pin the plan shape so a future
  * refactor can't silently regress it.
  */
class PlanSpec extends SparkSpecBase {

  private def executed(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter pushdown reaches the parquet scan") {
    val plan = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 25.0)
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,25.0)]"),
      s"missing pushed filter in:\n$plan")
  }

  test("column pruning: 2-column projection reads a 2-column schema") {
    val plan = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan reads more than the projection in:\n$plan")
  }

  test("dim joins broadcast; fact side never shuffles for a dim lookup") {
    val plan = executed(Stars.partTypeStats(spark, sf))
    assert(plan.contains("BroadcastHashJoin"))
    // exactly one exchange: the aggregation's — none for the join itself
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges in:\n$plan")
  }

  test("aggregations are partial+final (map-side combine)") {
    val plan = executed(Analytics.liquidity(MarketView.dailyBars(spark, sf)))
    assert("HashAggregate".r.findAllIn(plan).length >= 2)
    assert(plan.contains("partial_"), s"no partial aggregation in:\n$plan")
  }

  test("dailyBars is a single exchange — no window sort") {
    val plan = executed(MarketView.dailyBars(spark, sf))
    assert(!plan.contains("Window"), s"window crept back into bars:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges in:\n$plan")
  }

  test("partitioned layout prunes partitions at the scan") {
    val out = tempDir("graft_part").toString
    val bars = MarketView.dailyBars(spark, sf)
      .withColumn("ano", org.apache.spark.sql.functions.year(col("date")))
    graft.sources.Tables.overwrite(bars, s"$out/bars", Seq("ano"))
    val anyYear = spark.read.parquet(s"$out/bars")
      .select("ano").head().getInt(0)
    val plan = spark.read.parquet(s"$out/bars")
      .filter(col("ano") === anyYear).select("symbol", "close")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ano"),
      s"year filter did not prune partitions:\n$plan")
  }

  test("q58's one-week read prunes the date-partitioned layout at the scan") {
    val df = SparkEntry.queries("q58_partition_pruned_week")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(dt"),
      s"q58 scan carries no partition filters:\n$plan")
    assert(plan.contains("(dt"), s"date range not in partition filters:\n$plan")
    // the data-side filter must be partition-only: no pushed data filter on dt
    assert(df.collect().nonEmpty)
  }

  test("q76's exact-dup check pushes the source filter and broadcasts the digest set") {
    val df = SparkEntry.queries("q76_incremental_dedup")(spark, sf)
    df.collect() // AQE finalizes join strategies in the executed plan
    val plan = df.queryExecution.executedPlan.toString
    // the new-batch scan pushes source = src0 to parquet
    assert(plan.contains("EqualTo(source,src0)"),
      s"source filter not pushed to the scan:\n$plan")
    // the digest semi-join against the (small) corpus digest relation is a
    // broadcast — the new batch never shuffles for the exact check
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"digest check is not a broadcast semi-join:\n$plan")
  }

  test("q75 novelty: vocabulary aggregation is partial+final") {
    val plan = graft.operators.TextOps.noveltyProfile(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), s"no map-side combine in novelty:\n$plan")
  }

  test("approx stats stay within sketch error of exact values") {
    val bars = MarketView.dailyBars(spark, sf)
    val approx = Analytics.approxStats(bars).head()
    val exact = bars.agg(
      org.apache.spark.sql.functions.countDistinct(col("symbol")),
      org.apache.spark.sql.functions.countDistinct(col("date"))).head()
    assert(math.abs(approx.getLong(0) - exact.getLong(0)) <= math.max(1, exact.getLong(0) / 20))
    assert(math.abs(approx.getLong(1) - exact.getLong(1)) <= math.max(1, exact.getLong(1) / 20))
    val q = approx.getSeq[Any](2)
    assert(q.size == 3)
  }

  test("IVF/k-means cell assignment: corpus side never exchanges (broadcast argmax)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val cents = Seq((0L, Seq.fill(64)(0.1)), (1L, Seq.fill(64)(-0.1)))
      .toDF("cell", "cvec")
    val df = graft.operators.Similarity.assignCells(emb, cents)
    df.collect() // AQE finalizes the executed plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"centroid array is not broadcast-joined:\n$plan")
    assert(!plan.contains("Window"), s"window argmax crept back into assignment:\n$plan")
    // the ONLY allowed exchange is the single-row centroid fold on the
    // broadcast side (SinglePartition); the corpus must never hash-partition
    assert(!plan.contains("Exchange hashpartitioning"),
      s"corpus-side shuffle in cell assignment:\n$plan")
  }

  test("whole-stage codegen covers the scan->aggregate path") {
    val df = Stars.pricingSummary(spark, sf)
    df.collect() // AQE reports codegen spans only in the final executed plan
    // codegen stages render as "*(n) Operator" in the simple plan string
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) HashAggregate") || plan.contains("WholeStageCodegen"),
      s"scan->partial-aggregate not inside a codegen stage:\n$plan")
  }

  test("q101 bm25: term filter applies at the posting explode; top-k is TakeOrdered, not a global rank window") {
    val df = graft.operators.TextOps.bm25TopDocs(spark, sf,
      Seq("table", "scan", "merge", "hash"), 20)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k is not a distributed TakeOrdered in:\n$plan")
    // STRUCTURAL pin: the IN-filter on tokens must sit DIRECTLY above every
    // Generate (explode) — i.e. the line printed immediately before each
    // Generate line is the token IN-filter — not after the tf aggregation.
    // (An index comparison against "the" HashAggregate is meaningless here:
    // the plan has two posting branches, tf and df, each with its own
    // aggregates.)
    val lines = plan.linesIterator.toVector
    val genLines = lines.indices.filter(i => lines(i).contains("Generate explode"))
    assert(genLines.nonEmpty, s"missing explode in:\n$plan")
    genLines.foreach { i =>
      val above = lines(i - 1)
      assert(above.contains("Filter") && above.contains("tok#") &&
        (above.contains(" IN ") || above.contains(" INSET ")),
        s"token IN-filter is not directly above the Generate at line $i " +
          s"(found: ${above.trim}) in:\n$plan")
    }
  }

  test("q113 registered plan: map-side partial k-heaps run BELOW the exchange") {
    // The scale-critical property of TopKByScore: the partial aggregate's
    // per-partition k-heaps run map-side, so the shuffle carries at most
    // k rows per partition per group — never the scored corpus. The plan
    // string prints root-first, so "partial below the exchange" means the
    // partial_topk line's index is GREATER than the exchange's. (Round-8
    // re-bisect: the direct shape is the fast one — 0.32 s at 100x — and
    // any materialization barrier before the aggregate both slows it and
    // destroys the k-bounded shuffle; see SCALING.md "q113 re-bisect".)
    val df = SparkEntry.queries("q113_topk_aggregate")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"TopKByScore no longer runs as ObjectHashAggregate in:\n$plan")
    val partialIdx = plan.indexOf("partial_topk_by_score")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(partialIdx >= 0, s"no map-side partial topk aggregate in:\n$plan")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"partial topk is not below the exchange (partial@$partialIdx vs exchange@$exchangeIdx) — " +
        s"the shuffle would carry the full scored corpus in:\n$plan")
  }

  test("q98 pagerank iteration: rank relation broadcasts; adjacency never re-shuffles") {
    val df = SparkEntry.queries("q98_copurchase_pagerank")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"rank relation is not broadcast into the adjacency join:\n$plan")
  }

  test("q99 gap-fill: the 1998 range predicate pushes to the lineitem scan; projection prunes") {
    val df = Analytics.gapFillDailySupplier(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"1998 range does not reach the scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_suppkey:bigint,l_extendedprice:double,l_shipdate:timestamp"),
      s"gap-fill scan reads more than (suppkey, price, shipdate):\n$plan")
  }

  test("q141 forward as-of: one exchange on the key, no cross/range join") {
    val q = SparkEntry.queries("q141_asof_next_purchase")(spark, sf)
    val plan = executed(q)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of exploded into a product join:\n$plan")
    assert(plan.contains("Window"), s"no window carry in:\n$plan")
  }

  test("q134 GLM scoring: single pass, partial+final aggregate, codegen'd") {
    val plan = executed(graft.operators.Learn.glmQualityGate(spark, sf, iters = 1))
    assert("HashAggregate".r.findAllIn(plan).length >= 2)
    assert(plan.contains("partial_"), s"no map-side combine in:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q143 dim stats: explode feeds a partial+final 64-group aggregate") {
    val plan = executed(SparkEntry.queries("q143_dim_stats")(spark, sf))
    assert(plan.contains("Generate posexplode"), s"no generate in:\n$plan")
    assert(plan.contains("partial_"), s"no map-side combine in:\n$plan")
  }

  test("q151 weekly OHLC: one partial+final aggregate, no window sort") {
    val plan = executed(SparkEntry.queries("q151_weekly_ohlc")(spark, sf))
    assert(plan.contains("partial_"), s"no map-side combine in:\n$plan")
    // min_by/max_by must NOT have been planned as a rank window
    assert(!plan.contains("Window"), s"resample fell back to a window sort:\n$plan")
  }

  test("q150 EWMA: both frames share one symbol exchange (bars agg + window only)") {
    val q = SparkEntry.queries("q150_ema_macd")(spark, sf)
    val plan = executed(q)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    // one exchange for the dailyBars aggregate, one for the symbol window;
    // a third would mean the two frames re-shuffled between each other
    assert(exchanges <= 2, s"EWMA re-shuffled between frames ($exchanges):\n$plan")
  }

  test("q154 RANGE frame: daily collapse and window share the user_id exchange") {
    val plan = executed(SparkEntry.queries("q154_rolling_spend_7d")(spark, sf))
    assert(!plan.contains("CartesianProduct"))
    // the RANGE frame must appear as a window, not a self-join
    assert(plan.contains("Window"), s"no window in:\n$plan")
  }

  test("unicode normalization stays inside whole-stage codegen") {
    val df = graft.sources.Tables.documents(spark, sf)
      .select(graft.functions.TextFunctions.nfc(col("text")).as("t"))
      .groupBy(length(col("t"))).count()
    df.collect() // AQE reports codegen spans only in the final executed plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) HashAggregate") || plan.contains("WholeStageCodegen"),
      s"normalize->aggregate not inside a codegen stage:\n$plan")
  }

  test("q194 FIFO match: the lot join is banded equi — no cartesian, no NLJ") {
    val df = graft.operators.Ledger.fifoMatch(Tables.lineitem(spark, sf))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in FIFO join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"NLJ in FIFO join:\n$plan")
  }

  test("q195 item CF: map-side partial k-heaps, no rank window, no cartesian") {
    val df = graft.operators.GraphOps.itemNeighbors(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // map-side partial heaps must exist (k-bounds any shuffle the planner
    // chooses to insert; at tiny SF AQE broadcasts everything and the
    // partial+final pair runs back-to-back with no exchange at all)
    assert(plan.contains("partial_topk_by_score"),
      s"no map-side partial topk in:\n$plan")
    assert(!plan.contains("Window"), s"ranking fell back to a window:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in CF scoring:\n$plan")
  }

  test("q197 ABC: band offsets broadcast back; no corpus-global window") {
    val df = Analytics.abcClassification(Tables.lineitem(spark, sf))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"cross-band offsets are not broadcast:\n$plan")
    // the only SinglePartition exchange allowed is the tiny band-total
    // prefix (and the final orderBy); the part-level cumsum must be keyed
    assert(plan.contains("hashpartitioning(b"),
      s"in-band window is not partitioned by band:\n$plan")
  }

  test("q200 naive bayes: likelihood tables broadcast into the scoring join") {
    val df = graft.operators.Learn.naiveBayes(
      Tables.orders(spark, sf), Tables.customer(spark, sf))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"likelihoods are not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"class fan-out became a cartesian:\n$plan")
  }

  test("q213 domain quota: map-side partial k-heaps below the exchange, no window sort") {
    // the scale contract vs q71's row_number window: the shuffle carries at
    // most cap×partitions rows per domain, never the full hot domain
    val df = SparkEntry.queries("q213_domain_quota")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val partialIdx = plan.indexOf("partial_topk_by_score")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(partialIdx >= 0, s"no map-side partial topk in:\n$plan")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"partial topk is not below the exchange — the shuffle would carry " +
        s"every row of the hottest domain in:\n$plan")
    assert(!plan.contains("Window"), s"quota fell back to a rank window:\n$plan")
  }

  test("q212 direct path: no cartesian; verify joins are keyed equi-joins on the candidate pair") {
    val df = SparkEntry.queries("q212_prefix_join")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"prefix join degenerated to a cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"prefix join degenerated to a nested loop:\n$plan")
  }

  test("q205 PQ probe: codebooks/LUT broadcast into the ADC join; index side never nested-loops") {
    val df = SparkEntry.queries("q205_pq_knn")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the ADC lookup table is not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"PQ scoring shuffles or cross-joins the index relation:\n$plan")
  }

  test("q214 span cut: no pair space — kept tokens rebuilt in place from per-doc covered sets, never a self-join or cartesian") {
    val df = SparkEntry.queries("q214_span_cut")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // r20 contract: the kept stream is the document's own token array filtered
    // against a leak-sized per-doc covered-position set (collect_set + an
    // indexed array filter) — no token-level posexplode/anti-join rebuild, so
    // no corpus-token-sized exchange at any scale.
    assert(plan.contains("collect_set"),
      s"covered positions are not collapsed to a per-doc set in:\n$plan")
    assert(!plan.contains("LeftAnti"),
      s"kept tokens regressed to the token-level anti-join rebuild in:\n$plan")
    assert(plan.contains("array_contains"),
      s"kept tokens are not an in-place array filter in:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"span cut degenerated to a product join:\n$plan")
  }

  test("q216 eTLD+1 quota: same k-heap-below-exchange contract as q213; no rank window") {
    val df = SparkEntry.queries("q216_url_domain_quota")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val partialIdx = plan.indexOf("partial_topk_by_score")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(partialIdx >= 0, s"no map-side partial topk in:\n$plan")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"partial topk is not below the exchange in:\n$plan")
    assert(!plan.contains("Window"), s"quota fell back to a rank window:\n$plan")
  }

  test("q218 PSL quota: NULL-drop fenced ABOVE the aggregate; the scan carries no inlined domain predicate; k-heap contract holds") {
    val df = SparkEntry.queries("q218_psl_domain_quota")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the round-13 pathology: un-fenced, isNotNull(domain) was pushed to the
    // scan where pruning inlined ~20 copies of the staged url→labels tree
    // into the filter condition (40.5 s vs 1.7 s at 100×). The fence keeps
    // the drop post-aggregate (group-cardinality rows).
    val barrierIdx = plan.indexOf("pushdown_barrier")
    val aggIdx = plan.indexOf("ObjectHashAggregate")
    assert(barrierIdx >= 0, s"fenced NULL-drop missing from:\n$plan")
    assert(aggIdx >= 0 && barrierIdx < aggIdx,
      s"the fenced filter is not above the aggregate in:\n$plan")
    assert(!plan.contains("DataFilters: [CASE WHEN"),
      s"the domain predicate leaked into the scan:\n${plan.linesIterator.filter(_.contains("FileScan")).mkString("\n")}")
    // same bounded-shuffle contract as q213/q216
    val partialIdx = plan.indexOf("partial_topk_by_score")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    assert(partialIdx >= 0 && exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"partial topk is not below the exchange in:\n$plan")
    assert(!plan.contains("Window"), s"quota fell back to a rank window:\n$plan")
  }

  test("q215 multi-probe: centroid assignment broadcast; pair space is a cell equi-join, never a corpus product") {
    val df = SparkEntry.queries("q215_semdedup_multiprobe")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"multi-probe pair space degenerated to a cartesian:\n$plan")
    // the only nested-loop allowed is the 1-row centroid-array broadcast;
    // a corpus-vs-corpus BNLJ would print with a non-trivial build side
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"cell pair join is not a keyed equi-join:\n$plan")
  }

  test("q222 decontam: benchmark shingle probe is a broadcast equi-join; no cartesian, no NLJ") {
    val df = SparkEntry.queries("q222_benchmark_decontam")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"decontam probe degenerated to a product join:\n$plan")
    // the benchmark-sized distinct-shingle side must build-broadcast (the
    // 100 TB contract: eval sets are MBs — a map-side probe, never a
    // token-volume shuffle for the cut-set match)
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark shingle probe is not broadcast:\n$plan")
  }

  test("q223 token budget: global cumsum is the range-partitioned prefix sum, never a single-partition window") {
    val df = SparkEntry.queries("q223_token_budget_select")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"budget cumsum fell back to a window (single-partition at 100 TB):\n$plan")
    // the offsets ride a mapPartitions over the range-partitioned,
    // localCheckpoint-materialized ordering (lineage is deliberately cut
    // there — the checkpoint freezes the sampled range bounds, q83
    // discipline), so the outer plan reads from an ExistingRDD scan
    assert(plan.contains("ExistingRDD"),
      s"selection does not read the materialized prefix-sum relation:\n$plan")
  }

  test("q224 leak split: cluster-key join stays keyed; no cartesian, no NLJ") {
    val df = SparkEntry.queries("q224_leak_safe_split")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"split keying degenerated to a product join:\n$plan")
  }

  test("q225 mixture budget: segmented prefix sum — no per-source window; budgets broadcast onto the selection") {
    val df = SparkEntry.queries("q225_mixture_budget_select")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // a per-source window serializes the corpus through #sources tasks at
    // 100 TB — the segmented two-phase prefix sum replaces it
    assert(!plan.contains("Window"),
      s"per-source cumsum fell back to a window:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"selection does not read the materialized prefix-sum relation:\n$plan")
    // the sources-sized budget relation must broadcast into the final join
    assert(plan.contains("BroadcastHashJoin"),
      s"budget join is not broadcast:\n$plan")
  }

  test("q226 chunk dedup clean: digest-df join stays keyed; no cartesian, no NLJ, no window") {
    val df = SparkEntry.queries("q226_chunk_dedup_clean")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"digest df join degenerated to a product join:\n$plan")
    assert(!plan.contains("Window"),
      s"reassembly fell back to a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"digest df join is not a keyed equi-join:\n$plan")
  }

  test("q245 durable PQ probe: LUT/rescore joins broadcast; never a sort-merge or cartesian over the code table") {
    val df = SparkEntry.queries("q245_pq_durable")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the code-table index side must only ever meet BROADCAST relations
    // (queries-sized LUT, survivor-sized rescore) — the q205 contract over
    // the durable publish; the only NLJ allowed is the 1-row centroid-array
    // crossJoin assignCells always plans
    assert(plan.contains("BroadcastHashJoin"),
      s"the ADC lookup table is not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"PQ chain probe shuffles or cross-joins the index relation:\n$plan")
  }

  test("q246 semantic decontam: benchmark probe is a broadcast cell equi-join; no cartesian") {
    val df = SparkEntry.queries("q246_semantic_decontam")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the benchmark-sized probe relation must build-broadcast into the
    // cell join (the q222/q230 "eval sets are MBs" contract) — pair space
    // |bench|·nProbe·|cell|, never a corpus product (the 1-row broadcast
    // centroid-array crossJoin of assignCells is the only NLJ)
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark cell probe is not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"semantic decontam degenerated to a cartesian:\n$plan")
  }
}
