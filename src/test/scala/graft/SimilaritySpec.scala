package graft

import graft.operators.Similarity
import graft.sources.Tables
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  test("bruteKnn: k rows per query, ranks 1..k, self excluded, sims descending") {
    val out = Similarity.bruteKnnFrom(Tables.embeddings(spark, sf), 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == 15)
    out.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == Seq(1L, 2L, 3L))
      assert(rows.forall(_._2 != q))
      val byRank = rows.sortBy(_._3).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("lshKnn: high recall vs exact top-k on clustered vectors") {
    // LSH recall is a function of true neighbor similarity, so test it where
    // neighbors actually ARE similar: 10 cluster centers, 20 noisy members
    // each (cosine within a cluster ≈ 0.95+). The testdata embeddings are
    // uniform random (top-3 sims ~0.35) — no bucketing scheme separates that
    // regime from brute force, which is why q35 is a rows-only check.
    val rng = new scala.util.Random(7)
    val dim = 16
    val centers = Array.fill(10, dim)(rng.nextGaussian())
    val rows = for (c <- 0 until 10; m <- 0 until 20) yield {
      val v = centers(c).map(x => x + 0.15 * rng.nextGaussian())
      (c * 20L + m, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val exact = Similarity.bruteKnnFrom(emb, 5, 3)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshKnnFrom(emb, 5, 3, dim)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall too low (approx=$approx exact=$exact)")
  }

  test("ivfKnn: near-perfect recall on clustered vectors where cells match clusters") {
    val rng = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(10, dim)(rng.nextGaussian())
    val rows = for (c <- 0 until 10; m <- 0 until 20) yield
      (c * 20L + m, c.toLong, centers(c).map(x => x + 0.15 * rng.nextGaussian()))
    val emb = rows.toDF("vec_id", "label", "embedding")
    val exact = Similarity.bruteKnnFrom(
      emb.select(col("vec_id"), col("embedding")), 5, 3)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnnFrom(emb, 5, 3, nProbe = 2)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall too low")
  }

  test("ivfKnnKmeans: trained centroids recover clusters without labels") {
    val rng = new scala.util.Random(13)
    val dim = 16
    val centers = Array.fill(8, dim)(rng.nextGaussian())
    val rows = for (c <- 0 until 8; m <- 0 until 25) yield
      (c * 25L + m, centers(c).map(x => x + 0.12 * rng.nextGaussian()))
    val emb = rows.toDF("vec_id", "embedding") // NOTE: no label column at all
    val exact = Similarity.bruteKnnFrom(emb, 5, 3)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnnKmeans(emb, 5, 3, nCells = 8, nProbe = 2)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.85, s"k-means IVF recall $recall too low")
  }

  test("q73 registered path: ivfKnnKmeans on testdata — ranked rows per query, self excluded") {
    val out = SparkEntry.queries("q73_ivf_knn_kmeans")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"ranks not contiguous for query $q: ${rows.toSeq}")
      assert(rows.forall(_._2 != q), s"self-match for query $q")
      val byRank = rows.sortBy(_._3).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"sims not descending for query $q")
    }
    assert(out.map(_._1).distinct.length == 5)
  }

  test("ivfKnnKmeans recall at the registered q73 parameters (nCells=8, nProbe=3)") {
    val rng = new scala.util.Random(17)
    val dim = 16
    val centers = Array.fill(8, dim)(rng.nextGaussian())
    val rows = for (c <- 0 until 8; m <- 0 until 25) yield
      (c * 25L + m, centers(c).map(x => x + 0.12 * rng.nextGaussian()))
    val emb = rows.toDF("vec_id", "embedding")
    val exact = Similarity.bruteKnnFrom(emb, 5, 3)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnnKmeans(emb, 5, 3, nCells = 8, nProbe = 3)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.85, s"k-means IVF recall $recall at registered params too low")
  }

  test("assignCells ≡ the window-argmax formulation it replaced (ties + zero-norms included)") {
    import graft.functions.VectorFunctions.cosineSim
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(23)
    val dim = 8
    val vecs = (0L until 40L).map(i => (i, Array.fill(dim)(rng.nextGaussian()))) :+
      (40L, Array.fill(dim)(0.0)) // zero-norm vector: ALL csims NULL
    val emb = vecs.toDF("vec_id", "e")
    val shared = Array.fill(dim)(rng.nextGaussian()).toSeq
    val cents = Seq(
      (0L, shared), (1L, shared), // identical centroids: exact csim tie -> cell asc
      (2L, Array.fill(dim)(rng.nextGaussian()).toSeq),
      (3L, Seq.fill(dim)(0.0))) // zero-norm centroid: NULL csim, never wins
      .toDF("cell", "cvec")
    val got = Similarity.assignCells(emb, cents)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    // the pre-round-5 formulation, verbatim (full-corpus window shuffle)
    val wAssign = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("cell").asc)
    val want = emb.crossJoin(broadcast(cents))
      .withColumn("csim", cosineSim(col("e"), col("cvec")))
      .withColumn("crk", row_number().over(wAssign))
      .filter(col("crk") === 1)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(got == want)
    assert(got(40L) == 0L) // all-NULL ranking degenerates to smallest cell, both paths
  }

  test("assignCells: NULL embeddings are out of contract — cell = NULL, row drops from the inverted list") {
    // the embeddings table declares non-null vectors; this pins the documented
    // degenerate behavior (CellRank is null-intolerant) so it stays explicit
    val rng = new scala.util.Random(29)
    val dim = 4
    val emb = Seq(
      (0L, Option(Array.fill(dim)(rng.nextGaussian()))),
      (1L, Option.empty[Array[Double]]))
      .toDF("vec_id", "e")
    val cents = Seq((0L, Seq.fill(dim)(1.0))).toDF("cell", "cvec")
    val got = Similarity.assignCells(emb, cents)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(0L).isDefined)
    assert(got(1L).isEmpty)
  }

  test("persisted LSH index: write -> read -> probe is row-identical to the in-session path") {
    val dir = tempDir("graft_lshidx").toString
    val emb = graft.sources.Tables.embeddings(spark, sf)
    Similarity.writeLshIndex(emb, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val persisted = rows(Similarity.lshKnnIndexed(
      Similarity.readLshIndex(spark, dir), emb.filter(col("vec_id") < 5), 3))
    val inSession = rows(Similarity.lshKnnFrom(Tables.embeddings(spark, sf), 5, 3))
    assert(persisted == inSession,
      s"persisted-index probe diverges: $persisted vs $inSession")
  }

  test("persisted IVF centroids: write -> read -> probe is row-identical to training in session") {
    val dir = tempDir("graft_ivfcents").toString
    val emb = graft.sources.Tables.embeddings(spark, sf)
    Similarity.writeIvfCentroids(Similarity.kmeansCentroids(emb, 8, 3), dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val persisted = rows(Similarity.ivfKnnWithCentroids(
      emb, Similarity.readIvfCentroids(spark, dir), 5, 3, nProbe = 3))
    val inSession = rows(Similarity.ivfKnnKmeans(emb, 5, 3, nCells = 8, nProbe = 3))
    assert(persisted == inSession,
      s"persisted-centroid probe diverges: $persisted vs $inSession")
  }

  test("persisted PQ codebooks: write -> read -> probe is row-identical to training in session") {
    val dir = tempDir("graft_pqbooks").toString
    val emb = graft.sources.Tables.embeddings(spark, sf)
    Similarity.writePqCodebooks(Similarity.pqTrainCodebooks(emb), dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val persisted = rows(Similarity.pqKnnWithCodebooks(
      emb, Similarity.readPqCodebooks(spark, dir)))
    val inSession = rows(Similarity.pqKnn(emb))
    assert(persisted == inSession,
      s"persisted-codebook probe diverges: $persisted vs $inSession")
    // the registered q205 path (fingerprinted MV) agrees too
    val viaMv = rows(Similarity.pqKnnWithCodebooks(
      emb, Similarity.pqCodebooksMV(spark, sf)))
    assert(viaMv == inSession, "MV-codebook probe diverges from in-session")
  }

  test("topSimilarPairs: k pairs, ordered by sim desc, each pair unordered-unique") {
    val out = Similarity.topSimilarPairs(spark, sf, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 10)
    assert(out.forall { case (a, b, _) => a < b })
    assert(out.map(_._3).sliding(2).forall(s => s.head >= s.last))
  }

  test("lshNearDup finds the planted near-duplicate pair") {
    val rng = new scala.util.Random(3)
    val dim = 16
    val base = Array.fill(dim)(rng.nextGaussian())
    val rows = Seq(
      (0L, base),
      (1L, base.map(_ + 1e-3 * rng.nextGaussian())),  // near-dup of 0
      (2L, Array.fill(dim)(rng.nextGaussian())),
      (3L, Array.fill(dim)(rng.nextGaussian()))
    )
    val out = Similarity.lshNearDup(rows.toDF("vec_id", "embedding"), 0.99, dim)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 1L)))
  }

  test("labelCentroids: one row per (label, dim); centroid of a label with one vector is the vector") {
    val out = Similarity.labelCentroids(spark, sf)
    val dims = out.groupBy("label").count().select("count").distinct().as[Long].collect()
    assert(dims.toSeq == Seq(64L))
  }

  test("centroidSimilarity: all unordered label pairs, sim in [-1, 1]") {
    val out = Similarity.centroidSimilarity(spark, sf).collect()
    val labels = Similarity.labelCentroids(spark, sf)
      .select("label").distinct().count()
    assert(out.length == (labels * (labels - 1) / 2).toInt)
    assert(out.forall { r =>
      val s = r.getDouble(2); s >= -1.0000001 && s <= 1.0000001
    })
  }

  test("semanticDedup: census integrity, τ-monotonicity, and the τ=-1 keep-one-per-cell limit") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val total = emb.count()
    def census(tau: Double) = Similarity.semanticDedup(emb, 8, 3, tau)
      .select("cell", "n_vecs", "n_dropped", "n_kept")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val at35 = census(0.35)
    assert(at35.map(_._2).sum == total, "cells don't partition the corpus")
    assert(at35.forall(r => r._3 + r._4 == r._2), "dropped + kept != vecs")
    assert(at35.map(_._3).sum > 0, "τ=0.35 should drop some near-dups on this corpus")
    // lowering τ can only drop MORE (the drop predicate is monotone in τ)
    val at50 = census(0.5)
    assert(at35.map(_._3).sum >= at50.map(_._3).sum, "drop count not monotone in τ")
    // τ ≤ -1 accepts every pair: each cell keeps exactly its lowest vec_id
    val atAll = census(-1.0)
    assert(atAll.forall(_._4 == 1L), s"τ=-1 must keep exactly one per cell: $atAll")
  }

  test("cellSilhouette: census integrity, [-1,1] range, formula parity with a driver-side replay, k=1 NULL contract") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val total = emb.count()
    val out = Similarity.cellSilhouette(emb, 4, 2).collect()
    assert(out.map(_.getLong(1)).sum == total, "cells don't partition the corpus")
    out.foreach { r =>
      assert(r.getDouble(3) >= -1.0 - 1e-9 && r.getDouble(4) <= 1.0 + 1e-9,
        s"silhouette outside [-1,1]: $r")
      assert(r.getDouble(3) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(4),
        s"min <= mean <= max violated: $r")
    }
    // driver-side replay of the formula from the SAME trained centroids:
    // rank raw cosines (desc, cell asc), round top-2 at 6, silhouette
    // (s1-s2)/max(1-s1, 1-s2) rounded at 6, per-cell mean/min/max
    val cents = Similarity.kmeansCentroids(emb, 4, 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val m = math.min(a.length, b.length)
      while (i < m) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    val expected = emb
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map { r =>
        val v = r.getSeq[Double](1).toArray
        val ranked = cents.map { case (c, cv) => (c, cos(v, cv)) }
          .sortBy { case (c, s) => (-s, c) }
        val s1 = r6(ranked(0)._2); val s2 = r6(ranked(1)._2)
        val den = math.max(1 - s1, 1 - s2)
        (ranked(0)._1, if (den == 0.0) None else Some(r6((s1 - s2) / den)))
      }
      .groupBy(_._1).map { case (cell, xs) =>
        val sils = xs.flatMap(_._2)
        cell -> (xs.length.toLong, r6(sils.sum / sils.length), sils.min, sils.max)
      }
    out.foreach { r =>
      val (n, mean, mn, mx) = expected(r.getLong(0))
      assert(r.getLong(1) == n, s"cell ${r.getLong(0)} census off")
      assert(math.abs(r.getDouble(2) - mean) < 1e-6, s"mean ${r.getDouble(2)} vs $mean")
      assert(r.getDouble(3) == mn && r.getDouble(4) == mx, s"min/max off in $r")
    }
    // k = 1: no second centroid — silhouette NULL, vectors still counted
    val k1 = Similarity.cellSilhouette(emb, 1, 1).collect()
    assert(k1.length == 1 && k1.head.getLong(1) == total)
    assert(k1.head.isNullAt(2) && k1.head.isNullAt(3) && k1.head.isNullAt(4),
      "k=1 silhouettes must be NULL")
  }

  test("hybridRrf: fusion arithmetic — both-list docs score both terms, single-list docs one; k-heap ranks match row_number") {
    import spark.implicits._
    val out = Similarity.hybridRrf(spark, sf, 3, 5)
      .select("q_id", "neighbor_id", "rk", "score")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.nonEmpty)
    // ranks are 1..k dense per query, scores non-increasing with rank
    out.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1L to sorted.length).toSeq, s"q$q ranks not dense")
      assert(sorted.sliding(2).forall { case Array(a, b) => a._4 >= b._4; case _ => true },
        s"q$q scores not monotone in rank")
    }
    // every fused score is expressible as 1/(60+i) [+ 1/(60+j)] with
    // 1 ≤ i, j ≤ 50 — the RRF arithmetic, no other mass
    val legal = (for { i <- 1 to 50; j <- 0 to 50 } yield
      1.0 / (60 + i) + (if (j == 0) 0.0 else 1.0 / (60 + j))).map(s => math.round(s * 1e6) / 1e6.toDouble).toSet
    assert(out.forall(r => legal.contains(r._4)),
      s"scores outside the RRF lattice: ${out.filterNot(r => legal.contains(r._4)).take(3).mkString(",")}")
  }

  test("q238 durable probe shape: one pruned standing scan, no delta leg, result == q237") {
    val durable = Similarity.ivfDurableRefreshBucketed(spark, sf)
    // the probe plan must read ONE parquet relation (the latest chain
    // publish's probed bucket files) and contain NO union with a per-call
    // delta leg — q237's plan with the delta gone (the q238 contract)
    val plan = durable.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"durable probe must scan exactly the standing publish:\n$plan")
    assert(!plan.contains("Union"), s"durable probe still unions a delta leg:\n$plan")
    // the scanned files all come from the latest chain publish directory
    val chainDirs = durable.inputFiles.filter(_.contains("ivf_assign_d90"))
    assert(chainDirs.nonEmpty && chainDirs.length == durable.inputFiles
      .count(_.endsWith(".parquet")),
      s"probe reads outside the chain publish: ${durable.inputFiles.toSeq}")
    // and the answer equals q237's (same knobs, same oracle relation)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(snap(durable) == snap(Similarity.ivfIncrementalParityBucketed(spark, sf)))
  }

  test("q240 int8 index shape: the standing MV stores tinyint codes and no floats; the chain holds one publish") {
    val out = Similarity.int8IvfDurableRefresh(spark, sf)
    assert(out.collect().nonEmpty)
    val src = java.nio.file.Paths.get(sf, "embeddings.parquet")
    val chainIds = graft.sources.Tables.chainPublishedIds(src,
      s"ivf_q8_d90_${Similarity.IvfNCells}_${Similarity.IvfIters}")
    // default retain=2 (round-17): the newest publish plus its predecessor
    // stay live so a concurrent reader holding b0 survives b1's republish
    assert(chainIds == Seq(0L, 1L),
      s"retention should keep the newest publish + predecessor: $chainIds")
    val mv = graft.sources.Tables.publishedMvPath(src,
      s"ivf_q8_d90_${Similarity.IvfNCells}_${Similarity.IvfIters}_b1").get
    val schema = spark.read.parquet(mv.toString).schema
    // the 4x resident-index claim: int8 codes + one double scale, no
    // float vector column survives into the standing index
    assert(schema("q").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, true)
      || schema("q").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, false),
      s"codes are not tinyint: ${schema("q").dataType}")
    assert(!schema.fieldNames.contains("e") && !schema.fieldNames.contains("embedding"),
      s"float vectors leaked into the int8 index: ${schema.fieldNames.toSeq}")
  }

  test("q241 streaming int8 chain: stream-driven maintenance == the batch q240 gate, retention holds one publish") {
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._3)).toSeq
    val stream = snap(graft.streaming.StreamingOps.int8IvfStreamParity(spark, sf))
    assert(stream.nonEmpty)
    // per-vector assignment makes the chain state batching-invariant: the
    // range-split stream and q240's %20 batch split land the SAME index,
    // so the probes must agree row-for-row (the shared-oracle argument)
    assert(stream == snap(Similarity.int8IvfDurableRefresh(spark, sf)),
      "stream-maintained int8 index diverged from the batch chain")
    val src = java.nio.file.Paths.get(sf, "embeddings.parquet")
    val chainIds = graft.sources.Tables.chainPublishedIds(src,
      s"ivf_q8_s90_${Similarity.IvfNCells}_${Similarity.IvfIters}")
    // default retain=2 (round-17): newest publish + predecessor stay live
    assert(chainIds.length == 2,
      s"retention should keep the newest stream-chain publish + predecessor: $chainIds")
  }

  test("q242 durable SemDeDup: census == batch rule; replayed batch skips; batching-invariant") {
    import graft.sources.Tables
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val gate = snap(Similarity.semanticDedupDurable(spark, sf))
    assert(gate.nonEmpty && gate.exists(_._3 > 0), s"no drops measured: $gate")
    // batch rule over the fully-assigned corpus with the same fixed
    // centroids — what the DuckDB oracle states
    val src = java.nio.file.Paths.get(sf, "embeddings.parquet")
    val inputs = Similarity.semDedupChainInputs(spark, sf)
    val embAll = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // single-batch re-batching of the whole delta through a private chain:
    // the final state must be identical (each pair examined exactly once)
    val chain1 = "semdedup_test_onebatch"
    Tables.resetChain(spark, src, chain1)
    try {
      Similarity.applySemDedupBatch(spark, sf, chain1, 0L,
        embAll.filter(col("vec_id") % 10 === 0), inputs)
      // at-least-once replay of the same batchId: chain state unchanged
      Similarity.applySemDedupBatch(spark, sf, chain1, 0L,
        embAll.filter(col("vec_id") % 10 === 0), inputs)
      assert(Tables.chainPublishedIds(src, chain1) == Seq(0L))
      val oneBatch = snap(Tables.chainLatest(spark, src, chain1,
          Similarity.IvfNCells, Seq("cell"), Seq("cell", "vec_id")).get
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          coalesce(sum(when(col("dropped"), 1L)), lit(0L)).as("n_dropped"))
        .select(col("cell"), col("n_vecs"), col("n_dropped"),
          (col("n_vecs") - col("n_dropped")).as("n_kept"))
        .orderBy("cell"))
      assert(oneBatch == gate,
        s"one-batch chain diverged from the two-batch gate:\n$oneBatch\nvs\n$gate")
    } finally Tables.resetChain(spark, src, chain1)
  }

  test("q245 durable PQ chain: replayed batch skips; batching-invariant; drift diagnostic sane") {
    import graft.sources.Tables
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val gate = snap(Similarity.pqDurableRefresh(spark, sf))
    assert(gate.nonEmpty && gate.size == Similarity.PqNQueries * Similarity.PqK)
    val src = java.nio.file.Paths.get(sf, "embeddings.parquet")
    // default retain=2: newest publish + predecessor stay live
    val chainIds = Tables.chainPublishedIds(src,
      s"pq_codes_s90_${Similarity.PqM}_${Similarity.PqNCodes}_" +
        s"${Similarity.PqIters}_${Similarity.PqDim}")
    assert(chainIds.length == 2,
      s"retention should keep the newest publish + predecessor: $chainIds")
    // single-batch re-batching of the whole delta through a private chain:
    // encoding is per-vector, so the probe must be identical (the shared-
    // oracle argument); an at-least-once replay of the batchId must skip
    val embAll = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val inputs = Similarity.pqChainInputs(spark, sf)
    val chain1 = "pq_codes_test_onebatch"
    Tables.resetChain(spark, src, chain1)
    try {
      Similarity.applyPqBatch(spark, sf, chain1, 0L,
        embAll.filter(col("vec_id") % 10 === 0), inputs)
      Similarity.applyPqBatch(spark, sf, chain1, 0L,
        embAll.filter(col("vec_id") % 10 === 0), inputs) // replay: must skip
      assert(Tables.chainPublishedIds(src, chain1) == Seq(0L))
      val oneBatch = snap(Similarity.pqChainProbe(spark, sf, chain1))
      assert(oneBatch == gate,
        s"one-batch chain probe diverged from the two-batch gate:\n$oneBatch\nvs\n$gate")
    } finally Tables.resetChain(spark, src, chain1)
    // codebook-drift diagnostic: the undrifted corpus holds arrivals'
    // reconstruction quality at the base's level (the retrain trigger
    // watches exactly this gap)
    val drift = Similarity.pqCodebookDrift(Tables.embeddings(spark, sf))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(2)).toMap
    assert(drift.keySet == Set(false, true))
    assert(drift(true) >= drift(false) - 0.05,
      s"undrifted arrivals reconstruct materially worse than base: $drift")
  }

  test("q248 streaming PQ chain: stream-driven maintenance == the batch q245 gate, retention holds one publish") {
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val stream = snap(graft.streaming.StreamingOps.pqStreamParity(spark, sf))
    assert(stream.nonEmpty && stream.size == Similarity.PqNQueries * Similarity.PqK)
    // per-vector encoding against the FIXED books makes the chain state
    // batching-invariant: the range-split stream and q245's %20 batch
    // split land the SAME code table, so the ADC probes must agree
    // row-for-row (the shared-oracle argument)
    assert(stream == snap(Similarity.pqDurableRefresh(spark, sf)),
      "stream-maintained PQ code table diverged from the batch chain")
    val src = java.nio.file.Paths.get(sf, "embeddings.parquet")
    val chainIds = graft.sources.Tables.chainPublishedIds(src,
      s"pq_codes_strm90_${Similarity.PqM}_${Similarity.PqNCodes}_" +
        s"${Similarity.PqIters}_${Similarity.PqDim}")
    // default retain=2: newest stream-chain publish + predecessor stay live
    assert(chainIds.length == 2,
      s"retention should keep the newest stream-chain publish + predecessor: $chainIds")
  }

  test("retrainPqBooks (r19): spiked arrivals trip the drift diagnostic under the STANDING books, retrain restores reconstruction + probe recall, chain resets") {
    import graft.sources.Tables
    val src = java.nio.file.Paths.get(sf, "embeddings.parquet")
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // distribution shift with a drift story: the held-out decile arrives
    // with its norm concentrated on ONE coordinate (an upstream embedder
    // change) — cosine-assigned books trained on the dense base cannot
    // tile the spiked direction (measured mean_recon 0.66 -> 0.25)
    val spike = transform(col("e"), (x, i) =>
      when(i === 3, lit(1.0)).otherwise(x * lit(0.02)))
    val shifted = emb.select(col("vec_id"),
      when(col("vec_id") % 10 === 0, spike).otherwise(col("e")).as("e"))

    // gen-0 = the q245 STANDING split-trained books MV passed via booksOpt
    // — the production monitoring arm (VERDICT r18 item 3: previously only
    // the None self-training arm had spec coverage)
    val (books0, _) = Similarity.pqChainInputs(spark, sf)
    def driftMap(corpus: org.apache.spark.sql.DataFrame,
                 books: org.apache.spark.sql.DataFrame): Map[Boolean, Double] =
      Similarity.pqCodebookDrift(
        corpus.select(col("vec_id"), col("e").as("embedding")),
        booksOpt = Some(books))
        .collect().map(r => r.getBoolean(0) -> r.getDouble(2)).toMap

    // standing-books arm on the UNDRIFTED corpus reproduces the healthy
    // self-training figures (the MV IS that training run persisted)
    val healthy = driftMap(emb, books0)
    assert(healthy(true) >= healthy(false) - 0.05,
      s"undrifted arrivals should reconstruct at the base's level: $healthy")

    // 1. drift TRIPS: spiked arrivals reconstruct materially below base
    val tripped = driftMap(shifted, books0)
    info(f"gen-0 mean_recon base=${tripped(false)}%.3f arrivals=${tripped(true)}%.3f")
    assert(tripped(false) == healthy(false),
      "the base split's figure must not move — only arrivals drifted")
    assert(tripped(true) < tripped(false) - 0.2,
      s"the spiked arrivals should trip the drift monitor: $tripped")

    // 2. RETRAIN: new generation books + full re-encode + chain reset
    val chain = "pq_codes_retrain_spec"
    Tables.resetChain(spark, src, chain)
    try {
      graft.sources.Tables.chainStep(spark, src, chain, 0L,
        Similarity.PqNBuckets, Seq("vec_id"), Seq("vec_id", "sub")) { _ =>
        Similarity.pqEncode(shifted, books0, Similarity.PqM, Similarity.PqDim)
      }
      assert(Tables.chainPublishedIds(src, chain).nonEmpty)
      val (books1, codes1) = Similarity.retrainPqBooks(spark, sf,
        generation = 901, corpusOpt = Some(shifted), resetChains = Seq(chain))
      // the old generation's chain is gone: the next refresh cycle grows
      // the NEW standing table from batch 0
      assert(Tables.chainPublishedIds(src, chain).isEmpty,
        "retrain must reset the named maintenance chains")
      val recovered = driftMap(shifted, books1)
      info(f"gen-1 mean_recon base=${recovered(false)}%.3f arrivals=${recovered(true)}%.3f")
      assert(recovered(true) >= tripped(false) - 0.05,
        s"retrained books should restore arrivals to the base floor: $recovered")

      // 3. probe recall recovers: ADC+rescore over the re-encoded corpus
      //    vs brute force on the same shifted corpus
      def knnSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("q_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val withEmb = shifted.select(col("vec_id"), col("e").as("embedding"))
      val brute = knnSet(Similarity.bruteKnnFrom(withEmb,
        Similarity.PqNQueries, Similarity.PqK))
      val probe0 = knnSet(Similarity.pqAdcProbe(shifted, books0,
        Similarity.pqEncode(shifted, books0, Similarity.PqM, Similarity.PqDim),
        Similarity.PqM, Similarity.PqNQueries, Similarity.PqK,
        Similarity.PqRescoreFactor, Similarity.PqDim))
      val probe1 = knnSet(Similarity.pqAdcProbe(shifted, books1,
        spark.read.parquet(codes1.toString)
          .select("vec_id", "sub", "code"),
        Similarity.PqM, Similarity.PqNQueries, Similarity.PqK,
        Similarity.PqRescoreFactor, Similarity.PqDim))
      val (r0, r1) = (probe0.intersect(brute).size.toDouble / brute.size,
        probe1.intersect(brute).size.toDouble / brute.size)
      info(f"probe recall on the drifted corpus: gen-0 books $r0%.3f, retrained $r1%.3f")
      assert(r1 >= r0,
        f"retraining must not lose recall on the drifted corpus: $r1%.3f < $r0%.3f")
      assert(r1 >= 0.6,
        f"retrained probe recall $r1%.3f fell below the q205 base floor")
    } finally Tables.resetChain(spark, src, chain)
  }

  test("retrainIvfCents (r19): q234's PSI trips on spiked arrivals (the m=1 recon signal measurably does NOT), retrain owns the new cluster + holds probe recall, chain resets") {
    import graft.sources.Tables
    val src = java.nio.file.Paths.get(sf, "embeddings.parquet")
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // the retrainPqBooks drift story verbatim: arrivals' norm concentrates
    // on ONE coordinate — coarse centroids trained on the dense base
    // cannot tile the spiked direction
    val spike = transform(col("e"), (x, i) =>
      when(i === 3, lit(1.0)).otherwise(x * lit(0.02)))
    val shifted = emb.select(col("vec_id"),
      when(col("vec_id") % 10 === 0, spike).otherwise(col("e")).as("e"))

    // gen-0 = centroids trained on the UNDRIFTED base split under the
    // generation machinery itself
    val (cents0, _) = Similarity.retrainIvfCents(spark, sf, generation = 900,
      corpusOpt = Some(emb.filter(col("vec_id") % 10 =!= 0)))
    // cell-assignment drift IS pqCodebookDrift at m=1: reconstruction from
    // a 1-subspace book = the assigned coarse centroid, so mean_recon is
    // each split's mean cosine to its ASSIGNED cell centroid
    def cellDrift(corpus: org.apache.spark.sql.DataFrame,
                  cents: org.apache.spark.sql.DataFrame): Map[Boolean, Double] =
      Similarity.pqCodebookDrift(
        corpus.select(col("vec_id"), col("e").as("embedding")),
        m = 1, nCodes = Similarity.IvfNCells, iters = Similarity.IvfIters,
        booksOpt = Some(cents.select(lit(0).as("sub"), col("cell"), col("cvec"))))
        .collect().map(r => r.getBoolean(0) -> r.getDouble(2)).toMap

    // the healthy held-out gap is wider here than in the PQ twin (0.268 vs
    // 0.185 measured): ONE 8-cell space tiles a 64-dim isotropic corpus far
    // more loosely than PQ's m=8 sub-space books, so held-out assignment
    // cosine is noisier
    val healthy = cellDrift(emb, cents0)
    assert(healthy(true) >= healthy(false) - 0.1,
      s"undrifted arrivals should assign near the base's quality: $healthy")

    // MEASURED NEGATIVE, kept as an assertion so the doc claim stays
    // honest: the PQ recon trigger does NOT generalize to the coarse cell
    // space — the baseline tiling is so loose that the axis-spike arrivals
    // measure 0.211 assigned cosine, INSIDE the healthy held-out band
    // (0.185), not below it. The cell family's registered drift gate is
    // q234, asserted to trip next.
    val reconDrift = cellDrift(shifted, cents0)
    info(f"recon-style signal does not trip: healthy arrivals=${healthy(true)}%.3f, spiked arrivals=${reconDrift(true)}%.3f")
    assert(reconDrift(true) >= healthy(true) - 0.05,
      s"unexpected: the recon signal now trips at nCells=8 — revisit which monitor this family uses: $reconDrift")

    // 1. the q234 centroid-drift monitor (the cell family's registered
    //    trigger) TRIPS. At sf0.001 the per-label windows are too sparse
    //    for the first-moment stat (≈6 arrivals/label of 64-dim noise —
    //    healthy min centroid_cos is already −0.18), so the monitor runs
    //    single-window (label collapsed): the PSI shape stat over each
    //    vector's cosine to the reference centroid is what fires — the
    //    spiked arrivals pile into one bin
    val embL = Tables.embeddings(spark, sf).withColumn("label", lit(0L))
    def q234Psi(df: org.apache.spark.sql.DataFrame): Double =
      Similarity.centroidDriftMonitor(df).collect()
        .map(_.getDouble(4)).max
    val healthyPsi = q234Psi(embL)
    val shiftedL = embL.select(col("vec_id"), col("label"),
      when(col("vec_id") % 10 === 0,
        transform(col("embedding").cast("array<double>"), (x, i) =>
          when(i === 3, lit(1.0)).otherwise(x * lit(0.02))))
        .otherwise(col("embedding").cast("array<double>")).as("embedding"))
    val trippedPsi = q234Psi(shiftedL)
    info(f"q234 single-window psi: healthy=$healthyPsi%.4f drifted=$trippedPsi%.4f")
    assert(trippedPsi > healthyPsi * 5,
      f"the spiked arrivals should trip q234's PSI: $healthyPsi%.4f -> $trippedPsi%.4f")

    // 2. RETRAIN: new generation centroids + full re-assignment + chain
    //    reset (the named chain stands in for a q238/q241 maintenance chain)
    val chain = "ivf_assign_retrain_spec"
    Tables.resetChain(spark, src, chain)
    try {
      Tables.chainStep(spark, src, chain, 0L, Similarity.IvfNCells,
        Seq("cell"), Seq("cell", "vec_id")) { _ =>
        Similarity.assignCells(shifted, cents0)
          .select(col("cell"), col("vec_id"), col("e"))
      }
      assert(Tables.chainPublishedIds(src, chain).nonEmpty)
      val (cents1, assign1) = Similarity.retrainIvfCents(spark, sf,
        generation = 901, corpusOpt = Some(shifted), resetChains = Seq(chain))
      assert(Tables.chainPublishedIds(src, chain).isEmpty,
        "retrain must reset the named maintenance chains")
      val recovered = cellDrift(shifted, cents1)
      info(f"gen-1 mean cell cosine base=${recovered(false)}%.3f arrivals=${recovered(true)}%.3f")
      // the spiked arrivals share one direction — a gen-1 centroid owns it
      // outright, so their assigned cosine jumps from ~0.21 to ~1.0
      assert(recovered(true) >= 0.9,
        s"retrained cells should own the arrival cluster: $recovered")
      assert(recovered(false) >= healthy(false) - 0.1,
        s"the base split must not pay for the new cluster's centroid: $recovered")
      // the standing assignment table is the full corpus, cell-bucketed
      val standing = spark.read.parquet(assign1.toString)
      assert(standing.count() == shifted.count(),
        "gen-1 standing assignment must cover the full corpus")

      // 3. probe recall on the drifted corpus: gen-1 centroids must not
      //    lose to the stale gen-0 space and must hold the q73 floor
      def knnSet(cents: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        Similarity.ivfKnnWithCentroids(
          shifted.select(col("vec_id"), col("e").as("embedding")), cents,
          Similarity.IvfNQueries, Similarity.IvfK, Similarity.IvfNProbe)
          .select("q_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = Similarity.bruteKnnFrom(
        shifted.select(col("vec_id"), col("e").as("embedding")),
        Similarity.IvfNQueries, Similarity.IvfK)
        .select("q_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val (r0, r1) = (knnSet(cents0).intersect(brute).size.toDouble / brute.size,
        knnSet(cents1).intersect(brute).size.toDouble / brute.size)
      info(f"probe recall on the drifted corpus: gen-0 cells $r0%.3f, retrained $r1%.3f")
      assert(r1 >= r0,
        f"retraining must not lose recall on the drifted corpus: $r1%.3f < $r0%.3f")
      assert(r1 >= 0.5,
        f"retrained probe recall $r1%.3f fell below the q73 nProbe floor")
    } finally Tables.resetChain(spark, src, chain)
  }

  test("q246 semantic decontam: precision 1.0 vs brute pairs; benchmark rows never flagged; probe recall measured") {
    import graft.sources.Tables
    val flagged = Similarity.semanticDecontam(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(flagged.forall(_._3 >= Similarity.SemDeDupTau))
    val bench = Tables.documents(spark, sf).filter(col("source") === "src0")
      .select("doc_id").as[Long].collect().toSet
    assert(flagged.forall(f => !bench.contains(f._1)),
      "a benchmark vector leaked into the flagged corpus set")
    // brute reference: EVERY (corpus, bench) pair at rounded cosine >= τ —
    // the cell probe can only lose pairs (precision 1), never invent them
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val srcOf = Tables.documents(spark, sf)
      .select(col("doc_id").as("vec_id"), col("source"))
    val tagged = emb.join(srcOf, "vec_id")
    val b = tagged.filter(col("source") === "src0")
      .select(col("vec_id").as("b_id"), col("e").as("be"))
    val brute = tagged.filter(col("source") =!= "src0")
      .crossJoin(broadcast(b))
      .filter(graft.functions.Fx.rd(
        graft.functions.VectorFunctions.cosineSim(col("e"), col("be")), 6)
        >= Similarity.SemDeDupTau)
      .select("vec_id").distinct().as[Long].collect().toSet
    val flaggedIds = flagged.map(_._1).toSet
    assert(flaggedIds.subsetOf(brute),
      s"cell probe flagged pairs brute force doesn't have: ${flaggedIds -- brute}")
    val recall = if (brute.isEmpty) 1.0
      else flaggedIds.size.toDouble / brute.size
    info(f"semantic-decontam doc recall vs brute at sf0.001: $recall%.3f (${flaggedIds.size}/${brute.size})")
    assert(recall >= 0.5, f"nProbe=${Similarity.IvfNProbe} recall $recall%.3f below floor")
  }

  test("q247 streaming semantic decontam: stream-emitted flags == the batch q246 relation") {
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val stream = snap(
      graft.streaming.StreamingOps.semanticDecontamStreamParity(spark, sf))
    assert(stream.nonEmpty, "stream gate flagged nothing")
    // flagging is per-vector given the standing benchmark relation, so the
    // range-split stream must land exactly the batch q246 rows
    assert(stream == snap(Similarity.semanticDecontam(spark, sf)),
      "stream-emitted decontam flags diverged from the batch relation")
  }

  test("q244 streaming SemDeDup chain: stream-driven maintenance == the batch q242 gate") {
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val stream = snap(graft.streaming.StreamingOps.semDedupStreamParity(spark, sf))
    assert(stream.nonEmpty)
    // pair coverage is batching-invariant (each final same-cell pair is
    // examined exactly once), so the range-split stream and q242's %20
    // split land the SAME state — census must agree row-for-row
    assert(stream == snap(Similarity.semanticDedupDurable(spark, sf)),
      "stream-maintained dedup state diverged from the batch chain")
    val src = java.nio.file.Paths.get(sf, "embeddings.parquet")
    val chainIds = graft.sources.Tables.chainPublishedIds(src,
      s"semdedup_s90_${Similarity.semDedupTag(Similarity.IvfNCells,
        Similarity.IvfIters, Similarity.SemDeDupTau)}")
    assert(chainIds.length == 2,
      s"retention should keep the newest stream-chain publish + predecessor: $chainIds")
  }
}
