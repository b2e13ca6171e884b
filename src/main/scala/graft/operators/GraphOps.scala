package graft.operators

import graft.functions.Fx._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed graph analytics over relations the engine already produces —
  * the iterative-join family (the same execution shape as
  * [[TextOps.nearDupClusters]]' connected components, applied to ranking).
  *
  * PageRank here serves the data-curation use the training-pipeline surface
  * cares about: centrality over an item-similarity / co-occurrence graph is
  * a coreset-selection and influence signal (which parts anchor the
  * co-purchase structure; which documents anchor a near-dup neighborhood).
  *
  * Scale design: one iteration = one equi-join of the rank relation against
  * the edge relation on `src` + one aggregation by `dst` — both shuffles
  * keyed by node id, so a 1000-executor cluster shards them like any other
  * key. Lineage is cut per iteration with `localCheckpoint` (the CC loop's
  * pattern) so 5 iterations stay 5 stages, not an exponentially re-derived
  * DAG. Ranks are QUANTIZED to 6 decimals each iteration — the q73 k-means
  * determinism contract: erasing float-sum-order noise at every step makes
  * the whole loop replayable in unrolled oracle SQL.
  */
object GraphOps {

  /** Node-relation broadcast ceiling for the iterative-join family. Below
    * this node count, every round broadcasts the node-sized relation
    * (ranks / frontier / labels) so the big edge relation is neither
    * shuffled nor broadcast; above it, rounds switch to a shuffled
    * equi-join with the edge relation PRE-PARTITIONED on the join key, so
    * each round shuffles only the node relation.
    *
    * Rationale (recorded for a 10⁹-node graph in SCALING.md): a
    * (node, long, double) broadcast hash relation costs ~50–80 B/row, so
    * 2M nodes ≈ 100–160 MB — about the largest payload worth shipping to
    * every executor per round on a 1000-executor cluster (aggregate network
    * = size × executors × rounds). Beyond that, hash-partitioning the node
    * relation (one keyed shuffle of |V| rows per round against a
    * co-partitioned edge list) is strictly cheaper and has no single-JVM
    * memory ceiling; at 10⁹ nodes a broadcast would be ~60 GB and is simply
    * impossible, while the shuffled round is the standard Pregel shape.
    */
  val BroadcastNodeLimit: Long = 2000000L

  private def maybeBroadcast(nodes: DataFrame, bcast: Boolean): DataFrame =
    if (bcast) broadcast(nodes) else nodes

  /** Undirected co-purchase edges over `lineitem`: parts appearing in the
    * same order, weight = number of distinct orders sharing them. The
    * self-join is keyed by l_orderkey, so the pair fan-out is bounded by
    * per-order line count (TPC-H: ≤ 7) — never a cross product.
    */
  def copurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    copurchaseEdgesOf(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")))

  /** Edge derivation over any (ok, pk) line relation — the unit the
    * incremental refresh path feeds with order-grained deltas.
    *
    * Shape (optimization round r20, guide §2.4): one exchange keyed by the
    * order id (groupBy + collect_set — the dedup the old `distinct` did
    * rides the same aggregate), ordered pairs expanded IN-MEMORY from each
    * order's sorted part array, then the (src, dst) aggregate. The previous
    * distinct + self-join form paid a (ok, pk) distinct exchange PLUS both
    * self-join sides (and at gate SF the planner broadcast the whole
    * corpus-sized line relation for the self-join under the parquet size
    * estimate — a latent scale hazard). Pair fan-out is bounded by
    * per-order line count exactly as the self-join was; the per-order array
    * is order-sized (TPC-H: ≤ 7). Values identical: sorted-set pairs with
    * i < j ⇔ the a.pk < b.pk join over distinct (ok, pk).
    */
  def copurchaseEdgesOf(lines: DataFrame): DataFrame =
    lines.groupBy(col("ok")).agg(array_sort(collect_set(col("pk"))).as("pks"))
      .select(explode(expr(
        "flatten(transform(pks, (x, i) -> " +
          "transform(slice(pks, i + 2, size(pks)), " +
          "y -> named_struct('src', x, 'dst', y))))")).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))

  /** INCREMENTAL edge-MV refresh (q127): merge a delta edge relation into
    * the standing one. Edge weight = number of distinct orders sharing the
    * pair, and an order's lines never span refresh batches (orders are the
    * CDC grain — a batch carries whole orders), so per-batch pair counts
    * are ADDITIVE: merging is one union + re-aggregation keyed by the edge,
    * never a rescan of history. This is the reference's REFRESH
    * MATERIALIZED VIEW upgraded to the q100 partial-merge discipline: at
    * 100 TB the standing edge relation refreshes at the cost of the new
    * orders, and q127's oracle proves base ⊎ delta ≡ the full rebuild
    * hash-exactly.
    */
  def mergeEdgeDelta(base: DataFrame, delta: DataFrame): DataFrame =
    base.union(delta)
      .groupBy("src", "dst")
      .agg(sum(col("w")).as("w"))

  /** Registered q127: split the line relation on the order key (delta =
    * every 10th order — the deterministic stand-in for "the orders that
    * arrived since the last refresh"), refresh incrementally, and emit the
    * merged edge relation for the full-rebuild oracle to hash against.
    */
  def edgeIncrementalParity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val base = copurchaseEdgesOf(li.filter(col("ok") % 10 =!= 0))
    val delta = copurchaseEdgesOf(li.filter(col("ok") % 10 === 0))
    mergeEdgeDelta(base, delta)
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .orderBy("src", "dst")
  }

  /** INCREMENTAL symmetrized-adjacency maintenance (q217) — q127's
    * base ⊎ delta discipline lifted to the [[symAdjMV]] relation (round-13,
    * VERDICT r12 item 3: the edge MV refreshed at delta cost, but the sym
    * MV rebuilt from scratch — a 36.3 s source self-join at 100× — on ANY
    * source change).
    *
    * Both components of the sym relation are ADDITIVE under the CDC grain
    * (whole orders per batch, so per-batch pair weights sum — the q127
    * argument):
    *   - pair weights: w'(u,v) = w_base(u,v) + w_delta(u,v);
    *   - degrees: deg'(u) = deg_base(u) + |new neighbors of u| — a pair
    *     already present in the base adjusts only its weight, never the
    *     neighbor count, so the adjustment is the node-sized census of
    *     delta pairs ABSENT from the base.
    * Cost shape: one (u,v)-keyed merge of base ∪ symmetrized-delta (the
    * indicator `max` rides the same map-side-combined aggregate, so "is
    * this pair new?" costs no second pass over the base), one node-sized
    * degree adjustment, one node-keyed join — the standing relation is
    * scanned ONCE and the source self-join never reruns. The result is
    * column- and value-identical to `symmetrizeWithDegrees(merged edges)`;
    * q217's oracle proves it against the full rebuild by hash equality.
    *
    * `baseSym` is the standing (u, v, w, deg_u) relation (the MV);
    * `deltaEdges` is the new batch's canonical (src, dst, w) edge relation.
    */
  def mergeSymDelta(baseSym: DataFrame, deltaEdges: DataFrame,
                    broadcastDegrees: Option[Boolean] = None,
                    broadcastRowLimit: Long = BroadcastNodeLimit): DataFrame = {
    val symDelta = deltaEdges
      .select(col("src").as("u"), col("dst").as("v"), col("w"))
      .union(deltaEdges.select(col("dst").as("u"), col("src").as("v"), col("w")))
    // MATERIALIZE the delta-sized aggregate ONLY (round-15, VERDICT r14
    // item 1, then re-measured): it is referenced from the grown-join, the
    // anti-join, and (via `fresh`) the degree census, and an unmaterialized
    // subtree is re-derived per reference. The checkpointed job is strictly
    // delta-shaped (the batch's union + one aggregation — no base scan).
    // The round-15 100× A/B (SCALING.md) went further and checkpointed
    // `fresh` and `newDeg` too — and RETIRED that: those relations are
    // delta-/node-SIZED but their derivations are base-SHAPED (anti-join,
    // degree distinct), so materializing them serializes full base passes
    // into their own jobs that the single consuming job used to pipeline —
    // measured 2–3× slower end-to-end (65.6/69.3 s vs 29.6/22.1 s,
    // interleaved, healthy canaries). Lazy, they re-derive per branch
    // INSIDE one job where exchange reuse and shared scans recover the
    // overlap for free.
    val deltaAgg = symDelta.groupBy("u", "v").agg(sum(col("w")).as("dw"))
      .localCheckpoint(true)
    // r20 (VERDICT r19 item 9 / ADVICE medium): the broadcast-form merge's
    // shipped relations (deltaAgg, hit ⊆ deltaAgg, fresh ⊆ deltaAgg, and
    // the node-sized censuses) are all bounded by deltaAgg's row count, and
    // deltaAgg is already eagerly checkpointed — so counting it is one
    // cheap job and gates the form AUTOMATICALLY: an oversized delta takes
    // the shuffled join-form below instead of driving a forced broadcast
    // toward the 8 GB/512M-row hard cap. Callers can still force either
    // form; the limit is parameterized for the spec's synthetic-delta
    // fallback proof.
    val bcast = broadcastDegrees.getOrElse(deltaAgg.count() <= broadcastRowLimit)
    if (bcast) {
      // BROADCAST-form merge (optimization round r19, guide §3.1/§2.4 —
      // measured at sf0.1 against the r14 join-form below, which was still
      // paying per merge: a 2.15M-row base.select(u,v) BROADCAST for the
      // anti-join (the planner's pick under the 10 MB estimate — a latent
      // scale hazard on top of the cost), a full-base two-exchange
      // (u, deg_u) distinct, a full-outer SMJ for newDeg, and base-side
      // sorts under the grown SMJ. Every decision in the merge depends only
      // on DELTA-sized relations (the guide §8 rule: decide with small
      // rows, move big rows once), so all of those collapse to delta-sized
      // broadcasts probed INTO exchange-free base scans:
      //   - `probe` (r20, second pass) = the base rows whose u appears in
      //     the delta at all — ONE base scan semi-filtered by the broadcast
      //     delta node set, checkpointed once (delta-NEIGHBORHOOD-sized).
      //     `hit` (delta pairs already present) and `degFresh` (base
      //     degrees of delta-touched nodes) are both in-memory projections
      //     of it, so neither costs its own base scan and every broadcast
      //     build below reads a checkpoint instead of re-scanning the base
      //     inside its future (the r19 form paid a base scan in the `hit`
      //     checkpoint AND another inside the degFresh broadcast build);
      //   - `fresh` = broadcast anti of two delta-sized in-memory relations
      //     (the old form shuffled-or-broadcast the BASE for this);
      //   - grown rows take deg' = their OWN deg_u + the broadcast fresh
      //     census — the full-base distinct + full-outer newDeg join is
      //     gone entirely (deg_u is constant per u on the standing
      //     relation, so the row's copy IS baseDeg's value);
      //   - fresh rows read deg_base for JUST their nodes from the same
      //     probe (degFresh covers every delta-touched u ⊇ fresh u's; the
      //     left join picks only matching u, so the superset is harmless).
      // The base is scanned 2× (probe, grown) — both scan-only under the
      // bucketed layout — and is never shuffled, sorted, or broadcast
      // at ANY scale; every broadcast is delta- or delta-neighborhood-
      // sized. Callers whose delta exceeds broadcast capacity pass
      // Some(false) for the shuffled join form below ([[pageRank]]'s
      // `broadcastNodes` escape-hatch pattern).
      val probe = baseSym
        .join(broadcast(deltaAgg.select(col("u")).distinct()), Seq("u"), "left_semi")
        .select(col("u"), col("v"), col("deg_u"))
        .localCheckpoint(true)
      val hit = probe.select(col("u"), col("v"))
        .join(broadcast(deltaAgg.select(col("u"), col("v"))), Seq("u", "v"))
      val fresh = deltaAgg.join(broadcast(hit), Seq("u", "v"), "left_anti")
        .select(col("u"), col("v"), col("dw").as("w"))
      val freshCnt = fresh.groupBy("u").agg(count(lit(1)).as("d"))
      val grown = baseSym.join(broadcast(deltaAgg), Seq("u", "v"), "left")
        .join(broadcast(freshCnt), Seq("u"), "left")
        .select(col("u"), col("v"),
          (col("w") + coalesce(col("dw"), lit(0L))).as("w"),
          (col("deg_u") + coalesce(col("d"), lit(0L))).as("deg_u"))
      val degFresh = probe.select(col("u"), col("deg_u")).distinct()
      val freshOut = fresh
        .join(broadcast(degFresh), Seq("u"), "left")
        .join(broadcast(freshCnt), Seq("u"))
        .select(col("u"), col("v"), col("w"),
          (coalesce(col("deg_u"), lit(0L)) + col("d")).as("deg_u"))
      grown.union(freshOut)
    } else {
    // JOIN-form merge (round-14, VERDICT r13 item 2): the standing relation
    // is unique by (u, v), so the union-then-reaggregate form — which
    // shuffled all 239M base rows at 100× and made the merge LOSE to the
    // rebuild (57 vs 47.8 s) — is equivalent to one LEFT join against the
    // delta-sized aggregate. With the base persisted in the (u, v)-bucketed
    // standing layout ([[Tables.bucketedMv]], gate q232) the base side
    // plans ZERO exchanges end-to-end: only the delta shuffles. An
    // unbucketed base degrades to one base shuffle — the old cost, never
    // worse. This is the no-broadcast escape path: nothing here ships more
    // than the node-sized newDeg, and with Some(false) not even that.
    val grown = baseSym.join(deltaAgg, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        (col("w") + coalesce(col("dw"), lit(0L))).as("w"))
    // pairs ABSENT from the base (delta-sized) — the only rows that can
    // change a degree, so the degree adjustment reads them, never the base
    val fresh = deltaAgg.join(baseSym.select("u", "v"), Seq("u", "v"), "left_anti")
      .select(col("u"), col("v"), col("dw").as("w"))
    // base degrees ride the standing relation (deg_u is constant per u);
    // under the bucketed layout the distinct collapses map-side to node
    // cardinality before its exchange
    val baseDeg = baseSym.select(col("u"), col("deg_u")).distinct()
    val freshCnt = fresh.groupBy("u").agg(count(lit(1)).as("d"))
    val newDeg = baseDeg.join(freshCnt, Seq("u"), "full_outer")
      .select(col("u"),
        (coalesce(col("deg_u"), lit(0L)) + coalesce(col("d"), lit(0L))).as("deg_u"))
    grown.join(newDeg, "u").select("u", "v", "w", "deg_u")
      .union(fresh.join(newDeg, "u").select("u", "v", "w", "deg_u"))
    }
  }

  /** Registered q217: q127's deterministic order split (delta = every 10th
    * order), base sym relation derived from the base orders, delta merged
    * incrementally via [[mergeSymDelta]]; the oracle is the FULL REBUILD of
    * the symmetrized adjacency over all orders — hash equality is the
    * incremental-maintenance proof.
    */
  def symIncrementalParity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    // the standing relation is MATERIALIZED by definition (production holds
    // it as an MV — q232 scans the bucketed publish); checkpointing the
    // gate's in-memory stand-in mirrors that, so the merge's internal
    // materialization jobs (deltaAgg/fresh/newDeg) scan it instead of
    // re-running the base self-join once per job
    val baseSym = symmetrizeWithDegrees(copurchaseEdgesOf(li.filter(col("ok") % 10 =!= 0)))
      .localCheckpoint(true)
    val delta = copurchaseEdgesOf(li.filter(col("ok") % 10 === 0))
    mergeSymDelta(baseSym, delta)
      .select(col("u"), col("v"), col("w").cast("long").as("w"),
        col("deg_u").cast("long").as("deg_u"))
      .orderBy("u", "v")
  }

  /** Registered q232: q217's incremental-maintenance contract with the base
    * sym relation PERSISTED in the bucketed standing layout
    * ([[Tables.bucketedMv]], bucketed + sorted on (u, v)) and the merge run
    * against the catalog read-back — the layout that makes
    * [[mergeSymDelta]]'s base side exchange-free (only the delta shuffles).
    * Oracle: the same full rebuild as q217; hash equality proves the whole
    * bucketed path end-to-end (bucketed write, atomic publish, catalog
    * read-back, join-form merge).
    */
  def symIncrementalParityBucketed(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val baseSym = graft.sources.Tables.bucketedMv(spark,
      java.nio.file.Paths.get(dir, "lineitem.parquet"),
      "copurchase_symb90", 32, Seq("u", "v"), Seq("u", "v")) {
      symmetrizeWithDegrees(copurchaseEdgesOf(li.filter(col("ok") % 10 =!= 0)))
    }
    val delta = copurchaseEdgesOf(li.filter(col("ok") % 10 === 0))
    mergeSymDelta(baseSym, delta)
      .select(col("u"), col("v"), col("w").cast("long").as("w"),
        col("deg_u").cast("long").as("deg_u"))
      .orderBy("u", "v")
  }

  /** PageRank over an undirected edge list (columns src/dst), in the scaled
    * formulation (sum of ranks = N): r⁰ = 1, rᵗ⁺¹ = (1−d) + d·Σ rᵗ(u)/deg(u)
    * over neighbors u. Nodes are every endpoint of the edge relation, so
    * deg ≥ 1 everywhere — no dangling mass term. Returns
    * (node, degree, rank) with rank quantized per iteration (see object doc).
    */
  def pageRank(edges: DataFrame, iterations: Int, damping: Double = 0.85,
               broadcastNodes: Option[Boolean] = None): DataFrame = {
    // materialize the symmetrized edge list ONCE: und is referenced by both
    // deg and adj, and is itself a union scanning the edge build twice — an
    // un-checkpointed und recomputes the whole edge derivation ~4×
    val und = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
      .localCheckpoint(true)
    // deg is referenced by adj, by EVERY iteration's dangling-safe left
    // join, and by the final projection — un-checkpointed, each reference
    // re-runs the groupBy over the full edge list (measured 7× the whole
    // query at 100×); checkpointed it is a node-sized in-memory relation
    val deg = und.groupBy("u").agg(count(lit(1)).as("deg"))
      .select(col("u").as("node"), col("deg"))
      .localCheckpoint(true)
    val bcast = broadcastNodes.getOrElse(deg.count() <= BroadcastNodeLimit)
    val adjRaw = und.join(maybeBroadcast(deg, bcast), und("u") === deg("node"))
      .select(col("u"), col("v"), col("deg").as("deg_u"))
    // broadcast mode pins the DERIVED adjacency once (re-deriving the join
    // per iteration would rescan und ×5); shuffle mode pins inside
    // pageRankOn, where the repartition is fused with the materialization
    val adj = if (bcast) adjRaw.localCheckpoint(true) else adjRaw
    pageRankOn(adj, deg, iterations, damping, Some(bcast))
  }

  /** PageRank over an ALREADY-SYMMETRIZED adjacency relation (u, v, deg_u) —
    * typically the materialized [[symAdjMV]], so the symmetrize + degree
    * derivation that [[pageRank]] repeats per call is a one-time MV build.
    * `adjIn` is by-name: in broadcast mode each iteration references it
    * fresh (for an MV that is a columnar parquet re-scan — the
    * labelPropagation re-scan discipline, nothing corpus-sized pinned in
    * the block manager); in shuffle mode it is repartitioned on the join
    * key ONCE and materialized so every round reuses the partitioning.
    *
    * ADAPTIVE round strategy (see BroadcastNodeLimit): node-sized
    * broadcast below the ceiling; above it, a shuffled equi-join with the
    * adjacency pre-partitioned on u, so each round exchanges only ranks.
    */
  def pageRankOn(adjIn: => DataFrame, degIn: DataFrame, iterations: Int,
                 damping: Double = 0.85,
                 broadcastNodes: Option[Boolean] = None): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val deg = degIn.localCheckpoint(true)
    val bcast = broadcastNodes.getOrElse(deg.count() <= BroadcastNodeLimit)
    lazy val adjPart = adjIn.repartition(col("u")).localCheckpoint(true)
    def adj = if (bcast) adjIn else adjPart
    var ranks = deg.select(col("node"), lit(1.0).as("rank"))
    for (_ <- 1 to iterations) {
      // ranks is node-cardinality (tiny next to the edge list) — in
      // broadcast mode it ships to every task so the big adjacency relation
      // never re-shuffles per iteration; the only exchange left is the
      // partial-aggregate combine on v.
      // NO per-iteration checkpoint: each rank relation is referenced
      // exactly once by the next iteration, so the DAG is linear (adj is
      // scanned once per iteration from its checkpoint/MV) — materializing
      // 5 intermediate 20k-row relations only adds job barriers. (The CC
      // loop keeps per-round checkpoints because it iterates to an
      // UNBOUNDED fixpoint with a count() action per round; a fixed
      // 5-iteration chain is one job.)
      val a = adj
      val contrib = a.join(maybeBroadcast(ranks, bcast), a("u") === ranks("node"))
        .select(col("v"), (col("rank") / col("deg_u")).as("c"))
        .groupBy("v").agg(sum("c").as("inflow"))
      // contrib is node-sized by construction (one row per inflow target);
      // in broadcast mode ship it to the dangling-safe join instead of
      // letting the planner SMJ two node-sized relations of unknown
      // estimated size (r20: the before-plan carried 10 SortMergeJoins —
      // 2 per iteration — each with its exchanges and sorts)
      ranks = deg
        .join(maybeBroadcast(contrib, bcast), deg("node") === contrib("v"), "left")
        .select(col("node"),
          rd(lit(1.0 - damping) + lit(damping) * coalesce(col("inflow"), lit(0.0)), 6)
            .as("rank"))
    }
    deg.join(maybeBroadcast(ranks, bcast), "node")
      .select(col("node"), col("deg").as("degree"), col("rank"))
  }

  /** MATERIALIZED co-purchase edge relation — the reference's S6
    * materialized-view pattern (`dags/financial_pipeline.py:203-212`,
    * CREATE MATERIALIZED VIEW + REFRESH) applied to the graph family: the
    * one-time derivation that dominated both graph queries at 100× (the
    * 150M-instance per-order self-join inside [[copurchaseEdges]]) is
    * computed once, written as parquet, and every graph query reads the
    * materialization.
    *
    * Freshness contract: the MV path carries a fingerprint (size + mtime
    * inventory) of the SOURCE lineitem relation, so a rebuilt/changed
    * corpus can never silently serve a stale edge set — it simply misses
    * and rebuilds (the same staleness discipline Bench's data_sha applies
    * to merge eligibility). `refresh = true` is the explicit REFRESH
    * MATERIALIZED VIEW: it recomputes even on a fingerprint hit.
    * Idempotent per JVM via the object lock + `_SUCCESS` marker; a
    * partial/aborted write (no marker) is overwritten on next access.
    */
  def copurchaseEdgesMV(spark: SparkSession, dir: String,
                        refresh: Boolean = false): DataFrame =
    graft.sources.Tables.fingerprintedMv(spark,
      java.nio.file.Paths.get(dir, "lineitem.parquet"),
      "copurchase_edges", refresh)(copurchaseEdges(spark, dir))

  /** MATERIALIZED symmetrized adjacency (u, v, w, deg_u) — round-12: every
    * iterative operator (PageRank, BFS, Bellman–Ford, LPA, k-core, CF) was
    * re-deriving the symmetrize union + degree join from the edge MV per
    * CALL (and the union per ROUND); this persists that shared relation
    * once, fingerprinted against the same lineitem source as the edge MV,
    * so the per-round "re-scan the MV" discipline reads the final shape
    * directly. deg_u rides every row so adjacency consumers (PageRank's
    * contribution division) need no extra join; w rides for the weighted
    * operators. At 100 TB this is exactly the adjacency relation a cluster
    * deployment would keep next to the edge list in object storage.
    */
  def symAdjMVPath(spark: SparkSession, dir: String,
                   refresh: Boolean = false): java.nio.file.Path =
    graft.sources.Tables.fingerprintedMvPath(spark,
      java.nio.file.Paths.get(dir, "lineitem.parquet"),
      "copurchase_sym", refresh) {
      val e = copurchaseEdgesMV(spark, dir, refresh)
      symmetrizeWithDegrees(e)
    }

  def symAdjMV(spark: SparkSession, dir: String,
               refresh: Boolean = false): DataFrame =
    spark.read.parquet(symAdjMVPath(spark, dir, refresh).toString)

  /** The sym-MV derivation factored out so the INCREMENTAL maintenance path
    * ([[mergeSymDelta]]) and the full rebuild share one definition: (src,
    * dst, w) edges → symmetrized (u, v, w) with the u-side neighbor count
    * riding every row. */
  private[graft] def symmetrizeWithDegrees(e: DataFrame): DataFrame = {
    // r20 (guide §2.4): ONE u-keyed exchange — each node's neighbor list is
    // collected once and deg_u read off its size, instead of the old
    // aggregate-then-join form (same exchange, but + a sort-merge join that
    // SORTED the full sym relation; measured 2.5 → 1.6 s on the sf0.1 base
    // build, value-identical). The per-node array is adjacency-sized — the
    // same bound q212's per-doc token sets and q195's k-heaps already
    // accept; ObjectHashAggregate falls back to sort-based spill under
    // pressure, and a pathological hub's array is max-degree-sized, never
    // corpus-sized. sym is unique by (u, v) (edges are unique by
    // (src, dst)), so deg_u = size(neighbor list) exactly.
    val halves = e.select(col("src").as("u"), col("dst").as("v"), col("w"))
      .union(e.select(col("dst").as("u"), col("src").as("v"), col("w")))
    halves.groupBy("u").agg(collect_list(struct(col("v"), col("w"))).as("nb"))
      .select(col("u"), explode(col("nb")).as("e"),
        size(col("nb")).cast("long").as("deg_u"))
      .select(col("u"), col("e.v").as("v"), col("e.w").as("w"), col("deg_u"))
  }

  /** Block-manager pin ceiling for the symmetrized relation, in ROWS. The
    * per-round "re-scan the MV" discipline is the memory-safe 100× shape
    * (an eager pin of the 239M-row relation OOM'd — the LPA doctrine), but
    * at gate scale the re-scan pays parquet listing + scan setup per round
    * for a relation that fits memory trivially: q144 measured 3.1 → 4.1 s
    * in the r12 bench session from exactly this. Below the bound (≈1–2 GB
    * pinned at 50M rows of (u,v,w,deg_u) longs) the projected relation is
    * localCheckpointed once and every round reuses it; above, rounds
    * re-scan the MV. The bound is read off parquet METADATA (row-count
    * stats — no scan).
    */
  val PinEdgeLimit: Long = 50000000L

  /** JVM-SHARED pinned-MV cache, keyed by (Spark application id, published
    * MV path) — round-13, VERDICT r12 item 1. Round 12 pinned per gate CALL
    * (`proj.localCheckpoint(true)` inside `gateSym`), so every timed bench
    * invocation of every graph query re-scanned the MV and re-wrote its
    * blocks: 6 graph queries × 3 timed passes = 18 redundant pins per bench
    * JVM — exactly the cost the same-JVM A/B (which built its pin OUTSIDE
    * the timed region, `tools/ab_pin_r12.scala`) never measured, and the
    * whole bench-vs-A/B discrepancy the r12 verdict flagged. Now the FULL
    * (u,v,w,deg_u) relation is localCheckpointed once per (app, MV) and
    * every gate projects from the shared pin; a refreshed source publishes
    * a new fingerprint path → new cache entry, and entries for superseded
    * paths of the same MV name are dropped so their blocks become
    * ContextCleaner-collectable. The path key is exact: two corpora (two
    * `dir`s) never share a pin because the fingerprint hashes the absolute
    * source path.
    */
  private val pinCache =
    scala.collection.mutable.HashMap.empty[(String, String), (DataFrame, Long)]

  /** MV name prefix of a published path's directory name (`name_<16hex>`). */
  private def mvNameOf(path: java.nio.file.Path): String = {
    val fn = path.getFileName.toString
    fn.substring(0, math.max(0, fn.length - 17)) // strip "_<16-hex fp>"
  }

  /** The published MV at `path`, PROJECTED to `cols` (all columns when
    * empty) and localCheckpointed once per (application, path, projection)
    * when its row count (parquet metadata, no scan) is within `pinLimit`;
    * above the limit the relation is NOT pinned and callers fall back to
    * the per-round MV re-scan discipline. Pins are per-PROJECTION, not one
    * wide pin projected late: localCheckpoint stores full rows, so an
    * iterative gate scanning a 2-col slice of a 4-col pin would deserialize
    * double the bytes every round (measured ~1.5× on the sf0.1 BFS). The
    * gates use 3 distinct projections, so at most 3 pins per MV per JVM —
    * bounded, and each built exactly once. Returns the relation and the
    * MV's row count. */
  private def cachedPin(spark: SparkSession, path: java.nio.file.Path,
                        pinLimit: Long, cols: Seq[String] = Nil,
                        partCol: Option[String] = None): (DataFrame, Long) =
    pinCache.synchronized {
      val key = (spark.sparkContext.applicationId,
        path.toString + "#" + cols.mkString(",") + "@" + partCol.getOrElse(""))
      pinCache.getOrElseUpdate(key, {
        // same app + same MV name + different fingerprint = superseded pins
        val name = mvNameOf(path)
        val prefix = path.getParent.resolve(name + "_").toString
        pinCache.filterInPlace { case ((app, p), _) =>
          !(app == key._1 && !p.startsWith(path.toString + "#") && p.startsWith(prefix))
        }
        val mv = spark.read.parquet(path.toString)
        val proj = if (cols.isEmpty) mv else mv.select(cols.map(col): _*)
        val n = mv.count()
        val pinned = if (n > pinLimit) proj else partCol match {
          case None => proj.localCheckpoint(true)
          // r20 (guide §2.4): pin HASH-PARTITIONED on the iterative gates'
          // AGGREGATION key, so every round's groupBy on it plans ZERO
          // exchange over the edge relation (broadcast joins preserve the
          // streamed side's partitioning). The checkpoint must be built
          // with AQE off for that one job: an AdaptiveSparkPlanExec's
          // outputPartitioning is not final at checkpoint capture, so a
          // pin built under AQE records UnknownPartitioning and every
          // downstream aggregate re-exchanges (measured: groupBy(v) plans
          // 1 exchange from an AQE-built pin, 0 from this one). Consumers
          // keep AQE; only this eager build job is scoped.
          case Some(pc) =>
            val k = "spark.sql.adaptive.enabled"
            val prev = spark.conf.getOption(k)
            spark.conf.set(k, "false")
            try proj.repartition(
              spark.sessionState.conf.numShufflePartitions, col(pc))
              .localCheckpoint(true)
            finally prev match {
              case Some(v) => spark.conf.set(k, v)
              case None => spark.conf.unset(k)
            }
        }
        (pinned, n)
      })
    }

  /** Partition column choice for the iterative gates' sym-relation pins:
    * every round of PageRank / BFS / Bellman–Ford / LPA / k-core aggregates
    * its message relation by the EDGE TARGET (v), so the pin is
    * pre-partitioned on v and each round's aggregate reuses that layout
    * with no exchange (the sym relation is symmetric, so operators that
    * naturally key on u read the same rows with u/v roles swapped). */
  private val GatePinPartCol: Option[String] = Some("v")

  /** The symmetrized relation projected for an iterative gate — the
    * JVM-shared per-projection pin when the MV is small (see
    * [[PinEdgeLimit]]), a fresh per-round-re-scanned read above it. */
  private def gateSym(spark: SparkSession, dir: String, cols: String*): DataFrame = {
    val path = symAdjMVPath(spark, dir)
    val (proj, n) = cachedPin(spark, path, PinEdgeLimit, cols, GatePinPartCol)
    if (n <= PinEdgeLimit) proj
    else spark.read.parquet(path.toString).select(cols.map(col): _*)
  }

  /** The node-degree MV pinned the same way (node-cardinality — orders of
    * magnitude under any sane pin bound), with its row count cached so the
    * gates' adaptive-branch `nNodes` reads cost no job at all. */
  private def gateDeg(spark: SparkSession, dir: String): (DataFrame, Long) =
    cachedPin(spark, nodeDegMVPath(spark, dir), PinEdgeLimit)

  /** MATERIALIZED node-degree relation (node, deg) of the co-purchase graph
    * — the node-sized companion of [[symAdjMV]]: seeds, adaptive-branch
    * counts (metadata-fast on parquet), label/keep-set initialization, and
    * PageRank's dangling-safe join all read it without touching the edge
    * relation.
    */
  def nodeDegMVPath(spark: SparkSession, dir: String,
                    refresh: Boolean = false): java.nio.file.Path =
    graft.sources.Tables.fingerprintedMvPath(spark,
      java.nio.file.Paths.get(dir, "lineitem.parquet"),
      "copurchase_deg", refresh) {
      symAdjMV(spark, dir, refresh)
        .select(col("u").as("node"), col("deg_u").as("deg")).distinct()
    }

  def nodeDegMV(spark: SparkSession, dir: String,
                refresh: Boolean = false): DataFrame =
    spark.read.parquet(nodeDegMVPath(spark, dir, refresh).toString)

  /** Registered query: 5-iteration PageRank over the co-purchase graph,
    * full node relation ordered by (rank desc, node). Reads the symmetrized
    * adjacency + degree MVs — the symmetrize/degree derivation that
    * dominated per-call setup is a one-time MV build shared with
    * q144/q184/q195/q206/q211.
    */
  def copurchasePageRank(spark: SparkSession, dir: String,
                         iterations: Int = 5): DataFrame =
    pageRankOn(gateSym(spark, dir, "u", "v", "deg_u"),
      gateDeg(spark, dir)._1, iterations)
      .select(col("node").as("partkey"), col("degree"), col("rank"))
      .orderBy(col("rank").desc, col("partkey").asc)

  /** Triangle census with local clustering coefficients — the density
    * signal community detection and spam/botnet analysis read off a graph.
    * Per node: degree, triangle count, clustering = 2·T/(deg·(deg−1)).
    *
    * Algorithm (Suri & Vassilvitskii 2011's MapReduce node-iterator++):
    * orient every undirected edge from its LOWER endpoint to its higher
    * under the total order (degree, id). Each triangle then has EXACTLY one
    * apex with two out-edges (its order-minimum corner), so enumerating
    * out-wedges (u → a, u → b with a < b by id) and closing them against
    * the canonical (src < dst) edge relation counts each triangle once —
    * no double counting, no post-dedup.
    *
    * Scale shape: the out-degree under degree orientation is O(√m) on any
    * graph (arboricity bound), so the wedge self-join — the only
    * super-linear step — costs Σ out-deg² ≤ m^{3/2} REGARDLESS of hub
    * sizes: a 10M-degree hub never materializes its neighborhood squared,
    * because almost all its edges point INTO it. The closing step is a
    * plain equi-join on the canonical pair. Orientation is one broadcast
    * join of the node-sized degree relation.
    */
  def triangleCensus(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")) // canonical: src < dst by id
    val deg = e.select(col("src").as("node")).union(e.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true) // referenced by the orientation joins AND the final census
    val srcLower = // is (deg, id) of src below (deg, id) of dst?
      col("ds") < col("dd") || (col("ds") === col("dd") && col("src") < col("dst"))
    val oriented = e
      .join(broadcast(deg.select(col("node").as("src"), col("deg").as("ds"))), Seq("src"))
      .join(broadcast(deg.select(col("node").as("dst"), col("deg").as("dd"))), Seq("dst"))
      .select(
        when(srcLower, col("src")).otherwise(col("dst")).as("u"),
        when(srcLower, col("dst")).otherwise(col("src")).as("v"))
      .localCheckpoint(true) // both wedge sides read one materialization
    val wedges = oriented.select(col("u"), col("v").as("a"))
      .join(oriented.select(col("u"), col("v").as("b")), Seq("u"))
      .filter(col("a") < col("b"))
    val tri = wedges.join(e, col("a") === col("src") && col("b") === col("dst"))
      .select(col("u"), col("a"), col("b"))
    val perNode = tri
      .select(explode(array(col("u"), col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg").cast("long").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        graft.functions.Fx.rd(
          when(col("deg") >= 2,
            lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
              (col("deg") * (col("deg") - lit(1L)))).otherwise(lit(null)), 6)
          .as("clustering"))
      .orderBy("node")
  }

  def copurchaseTriangles(spark: SparkSession, dir: String): DataFrame =
    triangleCensus(copurchaseEdgesMV(spark, dir))
      .withColumnRenamed("node", "partkey")

  /** Bounded-hop BFS distances from a seed set: `hops` rounds of
    * frontier-join + min-aggregate over the symmetrized edge relation —
    * the iterative-equi-join shape every distributed BFS/SSSP takes
    * (Pregel's message round as a join). Unreached nodes are simply absent.
    *
    * Scale shape: each round shuffles at most |reached| × avg-degree rows
    * keyed by node; the edge relation is checkpointed once and reused, and
    * the bounded hop count keeps the lineage linear. At 100 TB the frontier
    * join is the same keyed shuffle as any groupBy — no driver-side
    * traversal anywhere.
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, hops: Int,
                   broadcastFrontier: Option[Boolean] = None): DataFrame = {
    val symFlat = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
      .localCheckpoint(true) // reused by every round
    bfsDistancesOn(symFlat, seeds, hops,
      symFlat.select(col("u")).distinct().count(), broadcastFrontier)
  }

  /** BFS over an ALREADY-SYMMETRIZED (u, v, …) relation — typically the
    * materialized [[symAdjMV]]. `nNodes` is the DISTINCT NODE count the
    * adaptive branch keys on (by-name: never evaluated under a forced
    * mode) — the broadcast payload per round is the node-sized frontier,
    * so the ceiling compares node counts, not edge rows (ADVICE r11: the
    * old edge-row stand-in switched broadcast off on any ≥1M-edge graph
    * even with 500k nodes). Broadcast mode re-references `symIn` per round
    * (a columnar MV re-scan, nothing pinned); shuffle mode repartitions on
    * the join key once and materializes.
    */
  def bfsDistancesOn(symIn: => DataFrame, seeds: DataFrame, hops: Int,
                     nNodes: => Long,
                     broadcastFrontier: Option[Boolean] = None): DataFrame = {
    val bcast = broadcastFrontier.getOrElse(nNodes <= BroadcastNodeLimit)
    lazy val symPart = symIn.repartition(col("u")).localCheckpoint(true)
    def sym = if (bcast) symIn else symPart
    var dist = seeds.select(col("node"), lit(0L).as("dist"))
    for (_ <- 1 to hops) {
      // broadcast mode ships the NODE-SIZED frontier so the edge relation
      // is neither shuffled nor broadcast (the q98 rank-relation pattern;
      // AQE left to itself may try to broadcast the far larger edge side).
      // Shuffled mode exchanges only the frontier against the
      // pre-partitioned edge relation (see BroadcastNodeLimit).
      // r20: the frontier-fanout relation is min-reduced to node size
      // BEFORE the union (two-level aggregation, guide §2.3 — min∘min =
      // min): under the v-partitioned gate pin the inner aggregate plans
      // ZERO exchange, so the union's exchange carries two node-sized
      // relations instead of frontier × degree rows.
      val next = maybeBroadcast(dist, bcast).join(sym, col("node") === col("u"))
        .select(col("v").as("node"), (col("dist") + 1L).as("dist"))
        .groupBy("node").agg(min("dist").as("dist"))
      // per-round eager checkpoint of the NODE-SIZED distance relation:
      // unlike PageRank's linear rank lineage, dist is referenced TWICE
      // per round (probe side of the join AND union arm), so an
      // unmaterialized chain doubles per hop — 2^hops subtree executions,
      // one per broadcast build. Cheap when the driver is idle, but in a
      // long-lived many-query JVM each redundant job pays scheduler/GC
      // latency and the measured cost quadrupled (full-bench 5.7 s vs
      // 1.5 s isolated). Checkpointing makes each round's work run ONCE
      // (guide §5 — cut lineage when an intermediate is multiply
      // referenced); rows are identical.
      dist = dist.union(next).groupBy("node").agg(min("dist").as("dist"))
        .localCheckpoint(true)
    }
    dist
  }

  /** Registered query (q144): 4-hop BFS from the minimum canonical-src
    * node of the co-purchase graph, profiled per distance ring; oracle =
    * the same rounds unrolled in SQL over the same edge derivation. Seed =
    * min node of the degree MV — identical to min canonical src (the
    * globally minimum node id heads every one of its canonical edges).
    */
  def bfsGate(spark: SparkSession, dir: String, hops: Int = 4): DataFrame = {
    val (deg, nNodes) = gateDeg(spark, dir)
    val seed = deg.agg(min(col("node")).as("node"))
    bfsDistancesOn(gateSym(spark, dir, "u", "v"), seed, hops, nNodes)
      .groupBy("dist")
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy("dist")
  }

  /** Bounded-round single-source WEIGHTED shortest paths (q184): Bellman–
    * Ford relaxation as keyed equi-join + min-agg rounds over the
    * symmetrized weighted edge relation — [[bfsDistances]] lifted from the
    * boolean to the min-plus (tropical) semiring. After k rounds the
    * distance is exact for every node whose cheapest path uses <= k edges
    * — the bounded-round contract the oracle unrolls. Integer edge weights
    * keep every candidate distance an exact BIGINT, so min-agg ties are
    * engine-independent.
    *
    * Scale shape: identical to BFS — the edge relation is checkpointed
    * once and each round is one equi-join keyed by node + a min
    * aggregate; the distances relation never exceeds |V| rows.
    */
  def weightedDistances(edges: DataFrame, seeds: DataFrame, rounds: Int,
                        broadcastFrontier: Option[Boolean] = None): DataFrame = {
    val symFlat = edges.select(col("src").as("u"), col("dst").as("v"), col("w"))
      .union(edges.select(col("dst").as("u"), col("src").as("v"), col("w")))
      .localCheckpoint(true)
    weightedDistancesOn(symFlat, seeds, rounds,
      symFlat.select(col("u")).distinct().count(), broadcastFrontier)
  }

  /** Bellman–Ford over an already-symmetrized weighted (u, v, w, …)
    * relation — [[bfsDistancesOn]]'s contract lifted to the min-plus
    * semiring; same adaptive node-count branch and per-round re-scan
    * discipline.
    */
  def weightedDistancesOn(symIn: => DataFrame, seeds: DataFrame, rounds: Int,
                          nNodes: => Long,
                          broadcastFrontier: Option[Boolean] = None): DataFrame = {
    val bcast = broadcastFrontier.getOrElse(nNodes <= BroadcastNodeLimit)
    lazy val symPart = symIn.repartition(col("u")).localCheckpoint(true)
    def sym = if (bcast) symIn else symPart
    var dist = seeds.select(col("node"), lit(0L).as("dist"))
    for (_ <- 1 to rounds) {
      // adaptive frontier strategy — see bfsDistancesOn / BroadcastNodeLimit;
      // r20 two-level min before the union, exactly as in bfsDistancesOn,
      // and the same per-round eager checkpoint: dist is multiply
      // referenced per round, so the unmaterialized chain re-executes
      // 2^rounds subtrees (see bfsDistancesOn for the measured cost)
      val next = maybeBroadcast(dist, bcast).join(sym, col("node") === col("u"))
        .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
        .groupBy("node").agg(min("dist").as("dist"))
      dist = dist.union(next).groupBy("node").agg(min("dist").as("dist"))
        .localCheckpoint(true)
    }
    dist
  }

  /** Registered query (q184): 4-round Bellman–Ford from the minimum
    * canonical-src node, edge cost = co-purchase weight; per-node exact
    * integer distances. Reads the symmetrized-adjacency MV (see [[bfsGate]]
    * for the seed-equivalence argument).
    */
  def weightedPathsGate(spark: SparkSession, dir: String, rounds: Int = 4): DataFrame = {
    val (deg, nNodes) = gateDeg(spark, dir)
    val seed = deg.agg(min(col("node")).as("node"))
    weightedDistancesOn(gateSym(spark, dir, "u", "v", "w"),
      seed, rounds, nNodes)
      .select(col("node"), col("dist").cast("long").as("dist"))
      .orderBy("node")
  }

  /** Item-item collaborative filtering (q195): top-k nearest neighbors per
    * part under co-occurrence cosine — the classic "customers who bought X
    * also bought Y" recommender primitive (Sarwar et al., WWW 2001).
    *
    *   cosine(i, j) = |orders with both| / sqrt(|orders with i| * |orders with j|)
    *
    * Inputs are all integers; sqrt and divide are single correctly-rounded
    * IEEE ops over identical operands, so the score is bit-identical on any
    * engine — no rounding contract needed for the RANKING, only for the
    * published score column.
    *
    * Scale shape: the pair relation is the co-purchase edge MV (bounded by
    * Σ order_size² — order sizes are capped, so linear in orders, never
    * |parts|²); degrees join on the part key; and the per-item top-k is the
    * q113 k-heap aggregate, so the ranking shuffle carries at most
    * k rows/partition/item instead of every scored pair. The symmetrize
    * union doubles the edge scan, not the shuffle (both halves partial-agg
    * into the same k-heaps).
    */
  /** MATERIALIZED per-part distinct-order counts (pk, n) — q195's cosine
    * denominator relation (NOT the graph degree: a part's neighbor count
    * and its order count differ). Re-derived per call it cost a full
    * 120M-row distinct + aggregate at 100×; as a fingerprinted MV it is a
    * part-sized read, invalidated with the same lineitem staleness contract
    * as the edge MVs.
    */
  def partOrderCountMVPath(spark: SparkSession, dir: String,
                           refresh: Boolean = false): java.nio.file.Path =
    graft.sources.Tables.fingerprintedMvPath(spark,
      java.nio.file.Paths.get(dir, "lineitem.parquet"),
      "part_order_counts", refresh) {
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
        .groupBy("pk").agg(count(lit(1)).as("n"))
    }

  def itemNeighbors(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // r20: i reads the pin's v column (the sym relation is symmetric, so
    // (v, u, w) is the same row set as (u, v, w)) — the per-item k-heap
    // aggregate then reuses the gate pin's v-partitioning; and the
    // part-sized count relation is broadcast below the node ceiling
    // instead of SMJ'd twice (before-plan: 8 exchanges → after: the heap
    // aggregate alone)
    val sym = gateSym(spark, dir, "u", "v", "w")
      .select(col("v").as("i"), col("u").as("j"), col("w"))
    val (degPin, nDeg) = cachedPin(spark, partOrderCountMVPath(spark, dir), PinEdgeLimit)
    val deg = maybeBroadcast(degPin, nDeg <= BroadcastNodeLimit)
    val scored = sym
      .join(deg.select(col("pk").as("i"), col("n").as("n_i")), "i")
      .join(deg.select(col("pk").as("j"), col("n").as("n_j")), "j")
      .select(col("i"), col("j"),
        (col("w").cast("double")
          / sqrt(col("n_i").cast("double") * col("n_j").cast("double"))).as("cosine"))
    scored.groupBy("i")
      .agg(graft.functions.TopKByScore.topK(col("cosine"), col("j"), k).as("top"))
      .select(col("i").as("p_partkey"), explode(col("top")).as("e"))
      .select(col("p_partkey"), col("e.rk").as("rk"),
        col("e.id").as("neighbor"), rd(col("e.score"), 6).as("cosine"))
      .orderBy("p_partkey", "rk")
  }

  /** The q195 oracle: same edge/degree derivation, ranking stated as the
    * window row_number over the exact (unrounded) cosine.
    */
  def itemNeighborsOracleSql(k: Int = 5): String = s"""
WITH lp AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), e AS (
  SELECT a.pk AS src, b.pk AS dst, count(*) AS w
  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
), sym AS (
  SELECT src AS i, dst AS j, w FROM e
  UNION ALL
  SELECT dst AS i, src AS j, w FROM e
), deg AS (
  SELECT pk, count(*) AS n FROM lp GROUP BY pk
), scored AS (
  SELECT s.i, s.j,
         CAST(s.w AS DOUBLE) / sqrt(CAST(di.n * dj.n AS DOUBLE)) AS cosine
  FROM sym s
  JOIN deg di ON di.pk = s.i
  JOIN deg dj ON dj.pk = s.j
), ranked AS (
  SELECT i, j, cosine,
         row_number() OVER (PARTITION BY i ORDER BY cosine DESC, j) AS rk
  FROM scored
)
SELECT i AS p_partkey, CAST(rk AS BIGINT) AS rk, j AS neighbor,
       round(cosine, 6) + 0 AS cosine
FROM ranked WHERE rk <= $k ORDER BY p_partkey, rk"""

  /** Synchronous label propagation (q206) — Raghavan, Albert & Kumara 2007,
    * made fully deterministic: every node simultaneously adopts the MODE of
    * its neighbors' previous-round labels, ties broken by the SMALLEST
    * label. Synchronous update + total tie order ⇒ round r is a pure
    * function of round r−1, so the oracle can replay the rounds verbatim.
    * Bounded rounds (the q144/q184 contract): communities are exact w.r.t.
    * the r-round recursion the oracle states.
    *
    * Scale shape: one round = one equi-join of the label relation against
    * the symmetrized edges + one (node, label) count + one per-node argmax
    * — all keyed by node id; labels never exceed |V| rows and lineage cuts
    * per round. The argmax is a hash aggregate (max of a (count, −label)
    * struct), not a window.
    */
  def labelPropagation(edges: DataFrame, rounds: Int,
                       broadcastLabels: Option[Boolean] = None,
                       delta: Boolean = true): DataFrame = {
    def sym = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
    labelPropagationOn(sym, sym.select(col("u").as("node")).distinct(),
      rounds, broadcastLabels, delta)
  }

  /** LPA over an already-symmetrized (u, v, …) relation + node relation.
    *
    * NO block-storage pin of the edge relation: the callers feed a
    * materialized parquet MV (or a cheap derivation), and re-referencing it
    * per round is cheaper and safer than caching a quarter-billion
    * symmetrized rows (measured OOM at 100× with an eager localCheckpoint
    * here). Only node-sized relations checkpoint per round.
    *
    * DELTA-FRONTIER rounds (round 12, default on): synchronous LPA makes
    * round r a pure function of round r−1's labels, so if NO neighbor of v
    * changed label between rounds r−2 and r−1, v's neighbor-label multiset
    * is unchanged and its round-r argmax equals its round-(r−1) label —
    * v need not be recomputed. A delta round therefore (a) derives the
    * AFFECTED set = nodes with ≥1 changed-label neighbor (one semi-join of
    * the edge relation against the node-sized changed set), (b) recomputes
    * the mode argmax only for edges INTO affected nodes (a second semi-join
    * cutting the aggregate's input), and (c) carries every other label
    * forward via a node-sized left join. An empty frontier short-circuits
    * the remaining rounds (fixpoint).
    *
    * The delta machinery is ADAPTIVE, keyed on the measured frontier: a
    * delta round runs only when the previous round's changed count fell
    * below nodes/4; otherwise the round is a plain full aggregate. LPA
    * frontiers collapse abruptly at convergence, not gradually — measured
    * on the sf0.1 co-purchase graph (20k nodes) the per-round changed
    * counts are 100% → 75% → 73% → 69% → 3.8%: while most labels are still
    * moving, "nodes with a changed neighbor" is essentially everyone and
    * the affected-set derivation is a pure extra edge-scan; once the
    * frontier collapses, a delta round touches the tiny frontier's
    * neighborhood instead of all edges — the k-core keep-set discipline
    * applied to LPA's one asymptote (to-fixpoint runs). Round 1 is always
    * full (labels just initialized). `delta = false` disables frontier
    * rounds entirely; both paths are spec-pinned row-identical (they
    * compute the same recursion by the invariance argument above).
    */
  def labelPropagationOn(symIn: => DataFrame, nodes: DataFrame, rounds: Int,
                         broadcastLabels: Option[Boolean] = None,
                         delta: Boolean = true): DataFrame = {
    def sym = symIn
    var labels = nodes.select(col("node"))
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    // adaptive round strategy (see BroadcastNodeLimit): label relation is
    // exactly node-sized and checkpointed, so its count is free; above the
    // ceiling the join stays a shuffled equi-join (the edge side re-scans
    // from the MV each round by design, so there is no partitioning to
    // carry across rounds — the label shuffle is the bounded cost)
    val nNodes = labels.count()
    val bcast = broadcastLabels.getOrElse(nNodes <= BroadcastNodeLimit)
    var changed = labels.select(col("node")) // round-0 frontier: everyone
    var changedCount = nNodes
    var converged = false
    var r = 1
    while (r <= rounds && !converged) {
      // adaptive: delta machinery only once the frontier has collapsed
      // (< nodes/4) — see the Scaladoc's measured frontier curve
      val full = !delta || r == 1 || changedCount * 4L > nNodes
      // (a) nodes whose neighbor-label multiset may have changed
      val affected =
        if (full) None
        else Some(sym
          .join(maybeBroadcast(changed.withColumnRenamed("node", "u"), bcast), "u")
          .select(col("v")).distinct().localCheckpoint(true))
      // (b) recompute the argmax only where needed
      val symScan = affected match {
        case Some(aff) => sym.join(maybeBroadcast(aff, bcast), "v")
        case None => sym
      }
      val newLabs = symScan
        .join(maybeBroadcast(labels, bcast), col("u") === col("node"))
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("v").as("node"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("nl"))
      // (c) carry unaffected labels forward; track the new frontier.
      // newLabs is node-sized — broadcast it below the ceiling (r20: the
      // planner SMJ'd two node-sized relations of unknown estimate here,
      // one exchange + sort pair per round)
      val merged = labels.join(maybeBroadcast(newLabs, bcast), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("nl"), col("label")).as("label"),
          (col("nl").isNotNull && col("nl") =!= col("label")).as("ch"))
        .localCheckpoint(true)
      labels = merged.select(col("node"), col("label"))
      if (delta) {
        changed = merged.filter(col("ch")).select(col("node"))
        changedCount = changed.count() // node-sized, on the round checkpoint
        // fixpoint: an empty frontier makes every later round the identity
        if (r < rounds && changedCount == 0L) converged = true
      }
      r += 1
    }
    labels
  }

  /** Registered q206: 3 LPA rounds over the symmetrized-adjacency MV;
    * community census (size, representative = min node, membership
    * checksum). Delta-frontier rounds — identical labels to the full
    * recomputation by labelPropagationOn's invariance argument.
    */
  def communityGate(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame =
    labelPropagationOn(gateSym(spark, dir, "u", "v"),
      gateDeg(spark, dir)._1.select(col("node")), rounds)
      .groupBy("label")
      .agg(count(lit(1)).as("size"), min(col("node")).as("min_node"),
        sum(col("node")).as("node_checksum"))
      .orderBy("label")

  /** The q206 oracle: the same synchronous rounds unrolled, argmax stated
    * as a row_number window over (count DESC, label ASC).
    */
  def communityOracleSql(rounds: Int = 3): String = {
    val roundCtes = (1 to rounds).map { i =>
      s""", cand$i AS (
  SELECT s.v, l.label, count(*) AS cnt
  FROM sym s JOIN l${i - 1} l ON l.node = s.u
  GROUP BY 1, 2
), l$i AS (
  SELECT v AS node, label FROM (
    SELECT v, label,
           row_number() OVER (PARTITION BY v ORDER BY cnt DESC, label) AS rk
    FROM cand$i
  ) t WHERE rk = 1
)"""
    }.mkString
    s"""WITH lp AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), e AS (
  SELECT a.pk AS src, b.pk AS dst
  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
), sym AS (
  SELECT src AS u, dst AS v FROM e
  UNION ALL
  SELECT dst AS u, src AS v FROM e
), l0 AS (
  SELECT DISTINCT u AS node, u AS label FROM sym
)$roundCtes
SELECT label, CAST(count(*) AS BIGINT) AS size,
       min(node) AS min_node, CAST(sum(node) AS BIGINT) AS node_checksum
FROM l$rounds GROUP BY label ORDER BY label"""
  }

  /** Bounded k-core peeling (q211): repeatedly delete nodes of degree < k
    * (with their edges) — after `rounds` passes the survivors approximate
    * the k-core from above, exactly matching the r-round recursion the
    * oracle unrolls (the q144/q184/q206 bounded-round contract). The
    * density census of the core is the cohesion diagnostic used to find
    * the "always bought together" backbone of the co-purchase graph.
    *
    * Scale shape: one round = one degree aggregate + two semi-join filters
    * of the edge relation against the surviving node set — all keyed by
    * node id; lineage cut per round.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int,
            broadcastKeep: Option[Boolean] = None): DataFrame = {
    def sym = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
    kCoreOn(sym, sym.select(col("u")).distinct(), k, rounds, broadcastKeep)
  }

  /** k-core over an already-symmetrized (u, v, …) relation + node relation
    * (columns beyond u/v are ignored).
    *
    * NODE-SET peeling (round 11; replaces per-round DISK_ONLY edge
    * materialization): because keep_i ⊆ keep_{i-1} (a node outside the
    * previous keep set has zero induced edges, hence degree < k), the
    * round-i induced edge relation equals sym ∩ (keep_i × keep_i) — only
    * the LATEST node-sized keep set is needed to re-derive it from the
    * edge MV, the labelPropagation re-scan discipline. Per-round state is
    * one node-sized relation (eagerly checkpointed, tiny); the 240M-row
    * symmetrized relation is never persisted anywhere. Previously each
    * round wrote the shrinking edge set DISK_ONLY: 119 s warm at 100×,
    * dominated by those writes.
    */
  def kCoreOn(symIn: => DataFrame, nodesIn: DataFrame, k: Int, rounds: Int,
              broadcastKeep: Option[Boolean] = None): DataFrame = {
    require(k >= 1, "k-core needs k >= 1")
    def sym = symIn.select(col("u"), col("v"))
    val nodes = nodesIn.select(col("u")).localCheckpoint(true)
    // keep is node-sized: broadcast below BroadcastNodeLimit so each
    // round's two semi-joins stream the edge scan with zero edge shuffle;
    // above it, shuffled equi-joins (the q98 adaptive branch)
    val bcast = broadcastKeep.getOrElse(nodes.count() <= BroadcastNodeLimit)
    // r20: the per-round census groups by the edge TARGET v instead of u —
    // identical counts because the keep-filtered sym relation stays
    // symmetric ((u,v) survives iff both endpoints survive, so (v,u)
    // survives too) — which lets the aggregate reuse the gate pin's
    // v-partitioning: zero edge exchange per peeling round (guide §2.4).
    def induced(keepSet: DataFrame) = sym
      .join(maybeBroadcast(keepSet, bcast), "u")
      .join(maybeBroadcast(keepSet.withColumnRenamed("u", "v"), bcast), "v")
      .groupBy("v").agg(count(lit(1)).as("d"))
      .select(col("v").as("u"), col("d"))
    var keep = nodes
    for (_ <- 1 to rounds) {
      keep = induced(keep)
        .filter(col("d") >= k).select("u")
        .localCheckpoint(true)
    }
    val deg = induced(keep)
    deg.agg(count(lit(1)).as("n_nodes"),
      expr("sum(d) div 2").as("n_edges"),
      min(col("d")).as("min_degree"), max(col("d")).as("max_degree"),
      sum(col("u")).as("node_checksum"))
  }

  /** Registered q211 is served by [[kCoreOn]] over the symmetrized-adjacency
    * MV (k=60, 4 peeling rounds — measured at both gate SFs: the peel
    * genuinely removes nodes AND genuinely keeps a core; k at the median
    * degree cascades to an empty graph here, which verifies nothing).
    */
  def kCoreGate(spark: SparkSession, dir: String, k: Int = 60,
                rounds: Int = 4): DataFrame =
    kCoreOn(gateSym(spark, dir, "u", "v"),
      gateDeg(spark, dir)._1.select(col("node").as("u")), k, rounds)

  /** The q211 oracle: the same peeling rounds unrolled. */
  def kCoreOracleSql(k: Int = 60, rounds: Int = 4): String = {
    val roundCtes = (1 to rounds).map { i =>
      s""", k$i AS (
  SELECT u FROM (SELECT u, count(*) AS c FROM s${i - 1} GROUP BY 1) t
  WHERE c >= $k
), s$i AS (
  SELECT s.u, s.v FROM s${i - 1} s
  JOIN k$i a ON a.u = s.u
  JOIN k$i b ON b.u = s.v
)"""
    }.mkString
    s"""WITH lp AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), e AS (
  SELECT a.pk AS src, b.pk AS dst
  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
), s0 AS (
  SELECT src AS u, dst AS v FROM e
  UNION ALL
  SELECT dst AS u, src AS v FROM e
)$roundCtes, deg AS (
  SELECT u, count(*) AS d FROM s$rounds GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(d) // 2 AS BIGINT) AS n_edges,
       CAST(min(d) AS BIGINT) AS min_degree,
       CAST(max(d) AS BIGINT) AS max_degree,
       CAST(sum(u) AS BIGINT) AS node_checksum
FROM deg"""
  }
}
