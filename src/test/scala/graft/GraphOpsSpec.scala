package graft

import graft.operators.GraphOps
import org.apache.spark.sql.functions._

class GraphOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("pageRank: one iteration on a path graph matches the hand computation") {
    // 1 - 2 - 3: deg(1)=deg(3)=1, deg(2)=2
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r1 = GraphOps.pageRank(edges, 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // r1(1) = 0.15 + 0.85 * r0(2)/deg(2) = 0.15 + 0.425 = 0.575 (and 3 by symmetry)
    // r1(2) = 0.15 + 0.85 * (r0(1)/1 + r0(3)/1) = 1.85
    assert(r1(1L) == ((1L, 0.575)))
    assert(r1(3L) == ((1L, 0.575)))
    assert(r1(2L) == ((2L, 1.85)))
  }

  test("pageRank: scaled formulation conserves total rank = N (no dangling nodes on an undirected graph)") {
    val edges = GraphOps.copurchaseEdges(spark, sf)
    val pr = GraphOps.pageRank(edges, 3)
    val n = pr.count().toDouble
    val total = pr.agg(sum("rank")).as[Double].head()
    // exact up to the per-iteration 6-decimal quantization
    assert(math.abs(total - n) < n * 1e-5, s"rank mass $total != $n")
  }

  test("copurchaseEdges: src<dst, no self loops, weights = shared-order counts") {
    val edges = GraphOps.copurchaseEdges(spark, sf).collect()
    assert(edges.nonEmpty)
    edges.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "edge not canonicalized src<dst")
      assert(r.getLong(2) >= 1L)
    }
    // recompute one edge's weight from first principles
    val (s, d, w) = (edges.head.getLong(0), edges.head.getLong(1), edges.head.getLong(2))
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val expect = li.filter(col("pk") === s).select("ok")
      .join(li.filter(col("pk") === d).select("ok"), "ok").count()
    assert(w == expect, s"edge ($s,$d) weight $w != recomputed $expect")
  }

  test("triangleCensus: hand-counted graph — K4 + attached triangle + pendant edge") {
    // K4 on {1,2,3,4} (4 triangles); node 5 joined to 1 and 2 (adds {1,2,5});
    // pendant edge 6-7 (no triangles, clustering NULL at deg 1)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (2L, 5L), (6L, 7L)).toDF("src", "dst")
    val out = GraphOps.triangleCensus(edges)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    // nodes 1 and 2: degree 4 (three K4 edges + the edge to 5), 4 triangles
    // (three K4 faces + {1,2,5}), clustering 2·4/(4·3) = 0.666667
    assert(out(1L) == ((4L, 4L, Some(0.666667))))
    assert(out(2L) == ((4L, 4L, Some(0.666667))))
    assert(out(3L) == ((3L, 3L, Some(1.0))))
    assert(out(4L) == ((3L, 3L, Some(1.0))))
    assert(out(5L) == ((2L, 1L, Some(1.0))))
    assert(out(6L) == ((1L, 0L, None)) && out(7L) == ((1L, 0L, None)))
  }

  test("triangleCensus: equals brute-force triple enumeration on a seeded random graph") {
    val rnd = new scala.util.Random(13)
    val n = 40
    val es = (for (a <- 1 to n; b <- a + 1 to n if rnd.nextDouble() < 0.12)
      yield (a.toLong, b.toLong)).toVector
    val eset = es.toSet
    val brute = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (a <- 1 to n; b <- a + 1 to n; c <- b + 1 to n
         if eset((a.toLong, b.toLong)) && eset((a.toLong, c.toLong)) && eset((b.toLong, c.toLong))) {
      brute(a.toLong) += 1; brute(b.toLong) += 1; brute(c.toLong) += 1
    }
    val out = GraphOps.triangleCensus(es.toDF("src", "dst"))
      .select("node", "n_triangles").as[(Long, Long)].collect().toMap
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.foreach { nd =>
      assert(out(nd) == brute(nd), s"node $nd: engine ${out(nd)} vs brute ${brute(nd)}")
    }
    assert(out.values.sum == brute.values.sum && brute.values.sum > 0)
  }

  test("mergeEdgeDelta: incremental refresh equals the full rebuild for every whole-order split") {
    import spark.implicits._
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("src"), col("dst"), col("w").cast("long"))
        .as[(Long, Long, Long)].collect().toSet
    val full = key(GraphOps.copurchaseEdgesOf(li))
    // two different order-grained splits — additivity must hold for any
    for (m <- Seq(3L, 7L)) {
      val inc = key(GraphOps.mergeEdgeDelta(
        GraphOps.copurchaseEdgesOf(li.filter(col("ok") % m =!= 0)),
        GraphOps.copurchaseEdgesOf(li.filter(col("ok") % m === 0))))
      assert(inc == full && full.nonEmpty, s"split mod $m: incremental != full rebuild")
    }
  }

  test("mergeSymDelta: incremental sym maintenance equals the full rebuild (weights AND degrees) for every whole-order split") {
    import spark.implicits._
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("u"), col("v"), col("w").cast("long"), col("deg_u").cast("long"))
        .as[(Long, Long, Long, Long)].collect().toSet
    val full = key(GraphOps.symmetrizeWithDegrees(GraphOps.copurchaseEdgesOf(li)))
    for (m <- Seq(3L, 7L, 10L)) {
      val baseSym = GraphOps.symmetrizeWithDegrees(
        GraphOps.copurchaseEdgesOf(li.filter(col("ok") % m =!= 0)))
      val delta = GraphOps.copurchaseEdgesOf(li.filter(col("ok") % m === 0))
      val inc = key(GraphOps.mergeSymDelta(baseSym, delta))
      assert(inc == full && full.nonEmpty, s"split mod $m: incremental sym != full rebuild")
    }
    // degenerate batches: an empty delta is the identity; a delta landing
    // entirely on NEW nodes extends the relation without touching base degs
    val all = GraphOps.symmetrizeWithDegrees(GraphOps.copurchaseEdgesOf(li))
    val empty = GraphOps.copurchaseEdgesOf(li.filter(lit(false)))
    assert(key(GraphOps.mergeSymDelta(all, empty)) == full, "empty delta must be the identity")
  }

  test("mergeSymDelta: an over-limit delta auto-selects the shuffled join-form and stays exact (r20 escape hatch)") {
    import spark.implicits._
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("u"), col("v"), col("w").cast("long"), col("deg_u").cast("long"))
        .as[(Long, Long, Long, Long)].collect().toSet
    val full = key(GraphOps.symmetrizeWithDegrees(GraphOps.copurchaseEdgesOf(li)))
    val baseSym = GraphOps.symmetrizeWithDegrees(
      GraphOps.copurchaseEdgesOf(li.filter(col("ok") % 10 =!= 0)))
      .localCheckpoint(true)
    val delta = GraphOps.copurchaseEdgesOf(li.filter(col("ok") % 10 === 0))
    // broadcastRowLimit = 0: every real delta is "oversized", so the
    // adaptive gate must take the join-form fallback; the result is the
    // same full rebuild either way
    val fallback = GraphOps.mergeSymDelta(baseSym, delta,
      broadcastDegrees = None, broadcastRowLimit = 0L)
    // the fallback plan must not force-broadcast the delta aggregate: the
    // join-form's only broadcast candidates are planner-chosen, and its
    // signature full-outer newDeg join exists ONLY on that path
    assert(fallback.queryExecution.optimizedPlan.toString.contains("FullOuter"),
      "limit 0 must route to the shuffled join-form (full-outer newDeg join)")
    assert(key(fallback) == full, "join-form fallback must equal the full rebuild")
    val forced = GraphOps.mergeSymDelta(baseSym, delta, broadcastDegrees = Some(true))
    assert(key(forced) == full, "forced broadcast-form must equal the full rebuild")
  }

  test("copurchaseEdgesMV: materialization equals the direct build; reuse, REFRESH, and staleness are pinned") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // run against a COPY of the source so the staleness leg can touch mtimes
    // without writing to the shared testdata
    val work = Files.createTempDirectory("graft_mv_spec")
    Files.copy(Paths.get(sf, "lineitem.parquet"), work.resolve("lineitem.parquet"),
      StandardCopyOption.COPY_ATTRIBUTES)
    val dir = work.toString
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst", "w").as[(Long, Long, Long)].collect().toSet
    val direct = key(GraphOps.copurchaseEdges(spark, dir))
    val mv1 = GraphOps.copurchaseEdgesMV(spark, dir)
    assert(key(mv1) == direct && direct.nonEmpty, "MV read diverges from the direct edge build")
    // reuse: a second access serves the SAME files (no rewrite)
    val mvPath = Paths.get(mv1.inputFiles.head.stripPrefix("file:")).getParent
    val stamps1 = Files.list(mvPath).toArray.map(_.toString).sorted.toSeq
      .map(p => p -> Files.getLastModifiedTime(Paths.get(p)).toMillis)
    assert(key(GraphOps.copurchaseEdgesMV(spark, dir)) == direct)
    val stamps2 = Files.list(mvPath).toArray.map(_.toString).sorted.toSeq
      .map(p => p -> Files.getLastModifiedTime(Paths.get(p)).toMillis)
    assert(stamps1 == stamps2, "second MV access must reuse the materialization, not rewrite it")
    // REFRESH: recomputes in place (new files, same content)
    Thread.sleep(1100) // parquet mtime granularity
    assert(key(GraphOps.copurchaseEdgesMV(spark, dir, refresh = true)) == direct)
    val stamps3 = Files.list(mvPath).toArray.map(_.toString).sorted.toSeq
      .map(p => p -> Files.getLastModifiedTime(Paths.get(p)).toMillis)
    assert(stamps3 != stamps2, "refresh = true must rewrite the materialization")
    // staleness: a changed source (new mtime) must MISS the old MV path
    Files.setLastModifiedTime(work.resolve("lineitem.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    val mv2 = GraphOps.copurchaseEdgesMV(spark, dir)
    val mvPath2 = Paths.get(mv2.inputFiles.head.stripPrefix("file:")).getParent
    assert(mvPath2 != mvPath, "a rebuilt source corpus must never serve the stale edge MV")
    assert(key(mv2) == direct)
  }

  test("bfsDistances: hop-bounded rings on a path graph, unreached absent") {
    import spark.implicits._
    // path 1-2-3-4-5, detached pair 8-9
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("src", "dst").withColumn("w", lit(1L))
    val seeds = Seq(1L).toDF("node")
    def run(h: Int): Map[Long, Long] =
      GraphOps.bfsDistances(edges, seeds, h).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(2) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    assert(run(4) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // cycle shortcut: adding 1-4 pulls 4 and 5 closer
    val cyc = edges.union(Seq((1L, 4L)).toDF("src", "dst")
      .withColumn("w", lit(1L)))
    val d = GraphOps.bfsDistances(cyc, seeds, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d(4L) == 1L && d(5L) == 2L && d(3L) == 2L)
  }

  test("kCore: peeling a hand graph — pendant chain falls, K4 survives") {
    // K4 on 1-4, a chain 4-5-6 hanging off it
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val core3 = GraphOps.kCore(edges, 3, 4).collect().head
    // 3-core: 5 and 6 peel (degree 2 and 1), then 4 keeps degree 3 in K4
    assert(core3.getLong(0) == 4, core3.toString)   // n_nodes
    assert(core3.getLong(1) == 6, core3.toString)   // n_edges = K4
    assert(core3.getLong(2) == 3 && core3.getLong(3) == 3)
    assert(core3.getLong(4) == 1L + 2 + 3 + 4)
    // 4-core: nothing has degree 4 -> empty, all-null census
    val core4 = GraphOps.kCore(edges, 4, 4).collect().head
    assert(core4.getLong(0) == 0)
    assert(core4.isNullAt(2) && core4.isNullAt(3))
  }

  test("labelPropagation: disjoint cliques get distinct labels; ties pick the smallest") {
    // two disjoint triangles + an isolated edge pair
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("src", "dst")
    val out = GraphOps.labelPropagation(edges, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // within a triangle every node sees the other two: round 1 gives each
    // node the smallest OTHER label; by round 2 the min label dominates
    assert(Set(1L, 2L, 3L).map(out) == Set(1L), out.toString)
    assert(Set(10L, 11L, 12L).map(out) == Set(10L), out.toString)
    // a 2-cycle oscillates labels between its endpoints — but stays inside
    // the pair (never leaks a foreign label)
    assert(Set(20L, 21L).map(out).subsetOf(Set(20L, 21L)), out.toString)
    // no label crosses a component boundary
    assert(out.filterKeys(Set(1L, 2L, 3L)).values.forall(Set(1L, 2L, 3L)), out.toString)
  }

  test("adaptive graph rounds: forced-shuffle mode is row-identical to broadcast mode (q98/q144/q184/q206 shapes)") {
    // the same gate relations computed with broadcastNodes/broadcastFrontier
    // forced OFF (the >BroadcastNodeLimit path: pre-partitioned edge side,
    // per-round node-relation shuffle) must hash-equal the broadcast path
    val edges = GraphOps.copurchaseEdgesMV(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val prB = rows(GraphOps.pageRank(edges, 3, broadcastNodes = Some(true))
      .orderBy(col("rank").desc, col("node")))
    val prS = rows(GraphOps.pageRank(edges, 3, broadcastNodes = Some(false))
      .orderBy(col("rank").desc, col("node")))
    assert(prB == prS, "pageRank shuffled mode diverges from broadcast mode")
    val seed = edges.agg(min(col("src")).as("node"))
    val bfsB = rows(GraphOps.bfsDistances(edges, seed, 3, Some(true)).orderBy("node"))
    val bfsS = rows(GraphOps.bfsDistances(edges, seed, 3, Some(false)).orderBy("node"))
    assert(bfsB == bfsS, "bfs shuffled mode diverges from broadcast mode")
    val wB = rows(GraphOps.weightedDistances(edges, seed, 3, Some(true)).orderBy("node"))
    val wS = rows(GraphOps.weightedDistances(edges, seed, 3, Some(false)).orderBy("node"))
    assert(wB == wS, "bellman-ford shuffled mode diverges from broadcast mode")
    val lpB = rows(GraphOps.labelPropagation(edges, 2, Some(true)).orderBy("node"))
    val lpS = rows(GraphOps.labelPropagation(edges, 2, Some(false)).orderBy("node"))
    assert(lpB == lpS, "LPA shuffled mode diverges from broadcast mode")
    val kcB = rows(GraphOps.kCore(edges, 3, 2, Some(true)))
    val kcS = rows(GraphOps.kCore(edges, 3, 2, Some(false)))
    assert(kcB == kcS, "kCore shuffled mode diverges from broadcast mode")
  }

  test("labelPropagation: delta-frontier rounds equal the full recomputation (hand graph and co-purchase MV)") {
    // hand graph: two triangles bridged by a path — labels keep moving for
    // several rounds, so the frontier genuinely shrinks rather than being
    // all-or-nothing; pin every round count 1..4
    val hand = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(_.toSeq).toSeq
    for (r <- 1 to 4) {
      val d = rows(GraphOps.labelPropagation(hand, r, delta = true))
      val f = rows(GraphOps.labelPropagation(hand, r, delta = false))
      assert(d == f && d.nonEmpty, s"hand graph: delta != full at rounds=$r")
    }
    // and at the registered gate's shape over the real edge MV
    val edges = GraphOps.copurchaseEdgesMV(spark, sf)
    val d = rows(GraphOps.labelPropagation(edges, 3, delta = true))
    val f = rows(GraphOps.labelPropagation(edges, 3, delta = false))
    assert(d == f && d.nonEmpty, "co-purchase MV: delta != full at rounds=3")
  }

  test("labelPropagation: delta ≡ full on seeded random graphs across round counts (exercises frontier collapse + short-circuit)") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(_.toSeq).toSeq
    for (seed <- Seq(5, 17)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val es = (for (a <- 1 to n; b <- a + 1 to n if rnd.nextDouble() < 0.06)
        yield (a.toLong, b.toLong)).toVector
      val edges = es.toDF("src", "dst")
      // 9 rounds runs past convergence on a 60-node sparse graph, so the
      // adaptive guard's delta rounds AND the empty-frontier short-circuit
      // both execute — and must still equal the blind full recursion
      for (r <- Seq(2, 5, 9)) {
        val d = rows(GraphOps.labelPropagation(edges, r, delta = true))
        val f = rows(GraphOps.labelPropagation(edges, r, delta = false))
        assert(d == f && d.nonEmpty, s"seed $seed rounds $r: delta != full")
      }
    }
  }

  test("symAdjMV/nodeDegMV equal the direct derivation; the MV-fed pageRank gate equals the edge-fed operator") {
    val edges = GraphOps.copurchaseEdgesMV(spark, sf)
    val symDirect = edges.select(col("src").as("u"), col("dst").as("v"), col("w"))
      .union(edges.select(col("dst").as("u"), col("src").as("v"), col("w")))
    val degDirect = symDirect.groupBy("u").agg(count(lit(1)).as("deg_u"))
    val adjDirect = symDirect.join(degDirect, "u")
      .select("u", "v", "w", "deg_u").as[(Long, Long, Long, Long)].collect().toSet
    val adjMv = GraphOps.symAdjMV(spark, sf)
      .select("u", "v", "w", "deg_u").as[(Long, Long, Long, Long)].collect().toSet
    assert(adjMv == adjDirect && adjDirect.nonEmpty, "symAdjMV diverges from the direct derivation")
    val degMv = GraphOps.nodeDegMV(spark, sf)
      .select("node", "deg").as[(Long, Long)].collect().toSet
    val degExp = degDirect.select(col("u"), col("deg_u")).as[(Long, Long)].collect().toSet
    assert(degMv == degExp, "nodeDegMV diverges from the direct degree relation")
    // gate parity: the MV-fed pageRankOn path is row-identical to pageRank
    // over the edge relation (same recursion, different setup plumbing)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val viaMv = rows(GraphOps.copurchasePageRank(spark, sf, 3))
    val viaEdges = rows(GraphOps.pageRank(edges, 3)
      .select(col("node").as("partkey"), col("degree"), col("rank"))
      .orderBy(col("rank").desc, col("partkey").asc))
    assert(viaMv == viaEdges && viaMv.nonEmpty, "MV-fed pageRank gate diverges from the edge-fed operator")
  }

  test("itemNeighbors matches a brute-force co-occurrence cosine ranking") {
    val lp = graft.sources.Tables.lineitem(spark, sf)
      .selectExpr("l_orderkey", "l_partkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val orders = lp.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val byOrder = lp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = orders.keys.map { i =>
      val cand = byOrder.filter(_._2.contains(i)).values.flatten.toSet - i
      val top = cand.toSeq.map { j =>
        val w = orders(i).intersect(orders(j)).size
        (j, w.toDouble / math.sqrt((orders(i).size.toLong * orders(j).size).toDouble))
      }.sortBy { case (j, c) => (-c, j) }.take(5)
      i -> top
    }.toMap
    val got = GraphOps.itemNeighbors(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    assert(got.keySet == expected.filter(_._2.nonEmpty).keySet)
    got.foreach { case (i, rows) =>
      val exp = expected(i)
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._3).toSeq == exp.map(_._1), s"part $i neighbor ids")
      sorted.map(_._4).zip(exp.map(_._2)).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-6, s"part $i cosine")
      }
    }
  }
}
