// Regenerates PLANS.md: formatted physical plans of flagship queries.
// Run: /opt/spark/bin/spark-shell --master 'local[16]' \
//   --conf spark.ui.enabled=false --conf spark.sql.shuffle.partitions=32 \
//   --conf spark.sql.session.timeZone=UTC \
//   --jars target/scala-2.13/airflowetlfinancemarketspark_2.13-0.1.0.jar \
//   -I tools/dump_plans.scala
import org.apache.spark.sql.execution.ExplainMode
val sf = "/root/testdata/sf0.01"
val picks = Seq(
  ("q01_daily_bars", "OHLCV bars: ONE hash aggregation, no window sort"),
  ("q15_star_revenue", "star join: dims broadcast, fact never shuffles for lookups"),
  ("q20_pricing_summary", "pushdown: filter + 7-of-16-column projection reach the scan"),
  ("q42_asof_prev_close", "as-of join: single shuffle, no per-key cross product"),
  ("q49_minhash_lsh_portable", "minhash near-dup: collapsed reps, equi-join candidates, exact verify"),
  ("q56_embedding_neardup_lsh", "embedding near-dup scale path: (table, bucket) equi-join"),
  ("q58_partition_pruned_week", "partition pruning: PartitionFilters at the scan"),
  ("q74_neardup_clusters", "cluster canonicalization: expansion joins over the CC labels"),
  ("q76_incremental_dedup", "incremental dedup: pushed source filter + broadcast digest semi-join"),
  ("q33_fingerprints", "rolling min-MD5 as a per-row aggregate() fold: NO Generate (row explosion), no re-aggregation shuffle"),
  ("q99_gap_fill", "gap-fill: per-key spine explode, keyed left join, per-supplier ffill window"),
  ("q101_bm25", "bm25: postings filtered to the query terms at the explode, df/avgdl broadcast, TakeOrderedAndProject top-k"),
  ("q110_salted_distinct", "salted distinct: two-phase additive aggregation, no hot-key funnel"),
  ("q113_topk_aggregate", "TopKByScore: map-side partial k-heaps BELOW the exchange (k-bounded shuffle), no window sort"),
  ("q114_bigram_surprisal", "bigram surprisal: corpus stream joins ONE pre-finished vocabulary model relation (round-8 collapse)"),
  ("q117_bpe_merge_loop", "BPE training loop: vocabulary-bounded relations after the one corpus word count; winner broadcast into the rewrite"),
  ("q118_bpe_encode", "BPE encode: merge chain on the vocabulary, corpus word stream joins it by broadcast, per-doc agg is the only corpus shuffle"),
  ("q134_glm_quality", "GLM training+scoring: map-side-combined aggregate per pass, learned weights fold back as literals"),
  ("q141_asof_next_purchase", "forward as-of: ONE exchange on the key, window carry, no product join"),
  ("q143_dim_stats", "per-dimension stats: posexplode into a 64-group partial+final aggregate"),
  ("q145_stream_enrich", "stream-static enrichment replayed in batch: dim side broadcast, fact never shuffles"),
  ("q150_ema_macd", "truncated EWMA: bars aggregate + ONE symbol-window exchange, per-row bounded fold, no self-join"),
  ("q151_weekly_ohlc", "OHLC resample: min_by/max_by in one partial+final aggregate, no window sort"),
  ("q152_skyline_parts", "skyline: distinct-x collapse, per-bucket windows, broadcast thresholds - nothing quadratic"),
  ("q162_symbol_trend", "per-key OLS: ONE sufficient-statistics aggregate, map-side combined"),
  ("q194_fifo_match", "FIFO lot matching: prefix-sum windows + BANDED interval-overlap equi-join, no cartesian/NLJ"),
  ("q195_item_neighbors", "item-item CF: edge MV + degree joins, map-side partial k-heaps, no rank window"),
  ("q197_abc_parts", "ABC classification: bucketed global cumsum, band offsets broadcast back, no single-partition window over the catalog"),
  ("q202_rfm_segments", "RFM: three banded distributed ntiles - cross-band prefix broadcast + in-band row_number"),
  ("q205_pq_knn", "PQ kNN: MV-persisted codebooks (train-once), broadcast ADC lookup join, k-heap coarse cut + bounded float rescore"),
  ("q211_kcore", "k-core: node-set peel rounds — edge MV re-scanned per round against a broadcast keep set, no edge materialization"),
  ("q212_prefix_join", "prefix similarity join: PPJoin prefix+length+positional filters over the shingle universe, exact array-intersect verify (direct path at gate SF)"),
  ("q213_domain_quota", "domain quota: ONE k-heap hash aggregate per domain — map-side partial heaps, k-bounded shuffle, no window sort"),
  ("q98_copurchase_pagerank", "PageRank over the symmetrized-adjacency MV: per-iteration cost is the contribution join + partial-aggregate combine; setup reads materialized (u,v,deg_u)"),
  ("q214_span_cut", "span-cut cleaner: vocabulary-sized df aggregate, covered positions via left-anti join, per-doc re-collect — no pair space"),
  ("q215_semdedup_multiprobe", "multi-probe SemDeDup: ONE broadcast probed-assignment pass (checkpointed), cell-equi-join pair space, primary-cell census"),
  ("q216_url_domain_quota", "eTLD+1 quota: pure string expressions (host extract + suffix rule) feeding the same k-heap aggregate as q213"),
  ("q217_sym_incremental", "incremental sym maintenance (join-form, r14): base LEFT-joins the delta-sized aggregate on (u,v), anti-join isolates fresh pairs, node-sized degrees broadcast back — the base shuffles at most once (zero times under the q232 bucketed layout)"),
  ("q232_sym_incremental_bucketed", "bucketed-base sym merge: the standing relation reads as a catalog bucketed scan — NO exchange over the base anywhere in the merge; only the delta aggregate shuffles"),
  ("q231_psl_full_domain_quota", "full published PSL (9.5k rules) + IDN: staged url→lower→idn_ascii→labels projection, ~12-branch when-chain with InSet lookups (codegen size independent of rule count), fenced NULL drop, q213 k-heap"),
  ("q234_centroid_drift", "embedding-drift monitor: two scans (centroid aggregate + broadcast-centroid cosine binning), PSI fold on the bounded labels×bins relation"),
  ("q235_multibench_decontam", "multi-benchmark decontam: ONE probe join against the tagged (bench, sg) cut-set MV; leak-sized hits checkpointed once, feeding the span cut AND the per-benchmark audit aggregate"),
  ("q237_ivf_incremental_bucketed", "incremental IVF: fixed centroid MV broadcast into delta assignment (zero shuffles), standing assignment read as ONLY the probed buckets' files (file-level pruning), k-heap top-k"),
  ("q238_ivf_durable_refresh", "durable incremental IVF: probe reads ONLY the latest chain publish's probed bucket files — q237's plan with the per-call delta leg GONE (the deltas live in the standing MV, landed once by the batchId-guarded republish chain)"),
  ("q239_stream_multibench_decontam", "streaming multi-benchmark decontam: the emitted sink relation of the per-batch tagged probe — final read is a scan+sort of the appended parquet; the probe work lives in the foreachBatch plans (q235's shape per batch)"),
  ("q240_int8_ivf_durable", "int8 durable IVF probe: ONE pruned int8 standing scan (no floats, no delta leg), coarse k-heap at rescoreFactor*k, survivor-sized float rescore joins, final k-heap"),
  ("q241_int8_ivf_stream", "stream-maintained int8 chain probe: q240's plan against the publish the AvailableNow lifecycle grew - same pruned scan, same two-stage ranking"),
  ("q218_psl_domain_quota", "full-PSL quota: staged url→labels projection, codegen'd when-chain matcher, NULL-drop FENCED above the aggregate (PushdownBarrier — see the 40s scan-inlining pathology), q213 k-heap"),
  ("q219_stream_domain_quota", "streaming domain quota: mapGroupsWithState bounded heap (cap ids + monotone counter per domain), latest-emission selection, replayed as a batch relation here"),
  ("q242_semantic_dedup_durable", "durable SemDeDup census: ONE exchange-free hash aggregate over the latest chain publish's bucketed scan - the pair work lives in the chain steps (standing x broadcast-batch cell joins, delta-sized)"),
  ("q244_semantic_dedup_stream", "streaming SemDeDup census: q242's exchange-free aggregate over the publish the AvailableNow lifecycle grew (split -> batchGate -> chainLatest) - the pair work lives in the per-batch chain steps, the gate adds no plan of its own"),
  ("q245_pq_durable", "durable PQ probe: broadcast ADC lookup join over the LATEST chain publish's code table (m codes/vector - no re-encode, no delta leg), deterministic m-term fold, k-heap coarse cut, survivor-sized float rescore joins"),
  ("q248_pq_stream", "stream-maintained PQ chain probe: q245's broadcast ADC plan against the publish the AvailableNow lifecycle grew - per-batch work is m broadcast-books encodes (batch is the probe side, no single-partition hazard), the gate adds no plan of its own"),
  ("q246_semantic_decontam", "semantic decontam: benchmark-sized probe relation BROADCAST into the cell equi-join against the broadcast-assigned corpus - pair space |bench|*nProbe*|cell|, never |bench|*|corpus|; one hash aggregate to the flagged audit set"),
  ("q247_semantic_decontam_stream", "streaming semantic decontam: the emitted sink relation of the per-batch probe (q246's shape per micro-batch against the standing benchmark relation) - final read is a scan+sort of the batch-stamped parquet"),
  ("q243_span_cut_min_run", "min-run span cut: q214's linear machinery + two doc-sharded windows (island id + run length) on the covered-position stream - no corpus-wide sort, no pair space"),
  ("q221_shingle_df_incremental", "incremental shingle-df: base ∪ delta-df merged by ONE vocabulary-keyed sum aggregate — delta tokenize only, no corpus-history re-scan"),
  ("q222_benchmark_decontam", "benchmark decontamination: benchmark-sized distinct-shingle cut set BROADCAST into the probe, then q214's anti-join + per-doc re-collect — no product join"),
  ("q223_token_budget_select", "token-budget selection: range-partitioned (score, id) ordering materialized once, two-phase prefix sum via mapPartitions — NO single-partition window"))
val sb = new StringBuilder
sb.append("# PLANS - formatted physical plans of flagship queries (sf0.01, local)\n\n")
sb.append("Auto-generated by `tools/dump_plans.scala` (spark-shell -I). What to look\n")
sb.append("for per query is noted above each plan; the shapes are pinned by PlanSpec\n")
sb.append("so refactors cannot silently regress them. Plans over 4000 chars are\n")
sb.append("truncated - regenerate for the full text.\n")
for ((name, note) <- picks) {
  val df = graft.SparkEntry.queries(name)(spark, sf)
  df.collect()
  sb.append(s"\n## $name\n\n$note\n\n```\n")
  val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  sb.append(p.take(4000))
  if (p.length > 4000) sb.append("\n... (truncated)")
  sb.append("\n```\n")
}
java.nio.file.Files.write(java.nio.file.Paths.get("/root/repo/PLANS.md"), sb.toString.getBytes("UTF-8"))
println("PLANS written: " + sb.length + " chars")
sys.exit(0)
