package graft

import graft.functions.VectorFunctions.cosineSim
import graft.operators.Similarity
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall guarantees for the ANN scale paths (q56 LSH near-dup, q73 IVF kNN)
  * at their REGISTERED configurations — the numbers a user sizes bands/nProbe
  * by, pinned against brute force (VERDICT r6 item 4).
  *
  * Everything here is deterministic: fixed-seed hyperplanes, fixed testdata,
  * fixed-seed planted pairs — so the asserted bounds are stable floors, not
  * flaky statistical tests. The measured curves live in SCALING.md §ANN
  * recall.
  */
class AnnRecallSpec extends SparkSpecBase {
  import spark.implicits._

  private val sf01 = "/root/testdata/sf0.1"

  private def knnSet(df: DataFrame): Set[(Long, Long)] =
    df.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet

  /** The sizing law: a pair at cosine s collides per hyperplane with
    * p = 1 − acos(s)/π, so the registered L=8 tables × B=8 bits give
    * candidate probability 1 − (1 − p^B)^L. Verified on pairs planted at an
    * EXACT angle: v = s·u + √(1−s²)·w with w ⊥ u, so cos(u,v) = s by
    * construction. This is the guarantee users size the amplification by —
    * at the near-dup operating point (s ≥ 0.8) recall is ≥ 0.75 and rises
    * steeply (s = 0.9 ⇒ ≥ 0.93 theoretical).
    */
  test("q56 amplification law: recall on exact-angle planted pairs ≥ theory − margin (registered L=8, B=8)") {
    val rng = new scala.util.Random(31)
    val dim = 64
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def planted(s: Double, nPairs: Int, idBase: Long) = {
      (0 until nPairs).flatMap { i =>
        val u = unit(Array.fill(dim)(rng.nextGaussian()))
        val r = Array.fill(dim)(rng.nextGaussian())
        val proj = u.zip(r).map { case (a, b) => a * b }.sum
        val w = unit(r.zip(u).map { case (b, a) => b - proj * a }) // ⊥ u
        val v = u.zip(w).map { case (a, b) => s * a + math.sqrt(1 - s * s) * b }
        Seq((idBase + 2L * i, u.map(_.toFloat)), (idBase + 2L * i + 1, v.map(_.toFloat)))
      }
    }
    def measuredRecall(s: Double, thr: Double): Double = {
      val nPairs = 200
      val rows = planted(s, nPairs, 0L)
      val emb = rows.toDF("vec_id", "embedding")
      val found = Similarity.lshNearDup(emb, thr)
        .select("vec_a", "vec_b").as[(Long, Long)].collect()
        .count { case (a, b) => b == a + 1 && a % 2 == 0 } // planted partner pairs
      found.toDouble / nPairs
    }
    def theory(s: Double): Double = {
      val p = 1.0 - math.acos(s) / math.Pi
      1.0 - math.pow(1.0 - math.pow(p, Similarity.Bits_B), Similarity.Tables_L)
    }
    val r08 = measuredRecall(0.8, 0.75)
    val r09 = measuredRecall(0.9, 0.85)
    assert(r08 >= theory(0.8) - 0.10, f"s=0.8: measured $r08%.3f vs theory ${theory(0.8)}%.3f")
    assert(r09 >= theory(0.9) - 0.08, f"s=0.9: measured $r09%.3f vs theory ${theory(0.9)}%.3f")
    assert(r08 >= 0.65 && r09 >= 0.85, f"near-dup operating floors violated: $r08%.3f / $r09%.3f")
  }

  /** Registered q56 config on the REAL sf0.1 corpus: the embeddings are
    * uniform random (hardest regime — cross-pair sims barely clear the 0.35
    * threshold, max 0.60), so recall is amplification-bound ≈ 0.17; the
    * spec pins that measured floor AND perfect precision: exact-cosine verify
    * means every emitted pair is a true pair, so tightening bands can only
    * lose candidates, never fabricate them.
    */
  test("q56 registered config at sf0.1: precision 1.0, recall ≥ the measured uniform-regime floor") {
    val emb = Tables.embeddings(spark, sf01)
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val a = e.select(col("vec_id").as("vec_a"), col("e").as("ea"))
    val b = e.select(col("vec_id").as("vec_b"), col("e").as("eb"))
    val brute = a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        graft.functions.Fx.rd(cosineSim(col("ea"), col("eb")), 6).as("sim"))
      .filter(col("sim") >= 0.35)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val lsh = SparkEntry.queries("q56_embedding_neardup_lsh")(spark, sf01)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute), s"precision < 1: ${lsh.diff(brute).take(5)}")
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.16, f"uniform-regime recall floor violated: $recall%.3f (expected ≈ 0.169)")
  }

  /** Registered q73 config (nCells=8, nProbe=3) on the REAL sf0.1 corpus,
    * plus the exactness anchor: probing ALL cells must reproduce brute force
    * EXACTLY (same candidates through the same rankTopK), so recall loss is
    * attributable to probe pruning alone — the knob the user turns.
    */
  test("q205 PQ at sf0.1: ADC recall@5 vs brute ≥ floor; index is m codes/vector") {
    val emb = Tables.embeddings(spark, sf01)
    val brute = knnSet(Similarity.bruteKnnFrom(emb, 5, 5))
    val pq = Similarity.pqKnn(emb)
    val pqSet = knnSet(pq.withColumnRenamed("neighbor_id", "neighbor_id"))
    val recall = brute.intersect(pqSet).size.toDouble / brute.size
    info(f"PQ recall@5 vs brute at sf0.1: $recall%.3f")
    // 256 float bytes -> 8 one-byte codes (32x compression); registered
    // rescoreFactor=20 measured 0.680 on the uniform-regime corpus (PQ's
    // worst case — real clustered embeddings do better); floor just below
    assert(recall >= 0.6, f"PQ recall@5 $recall%.3f fell below the pinned floor (measured 0.680)")
    assert(pq.columns.toSet == Set("q_id", "rk", "neighbor_id", "sim"))
    // every query returns exactly k ranked neighbors
    val perQ = pq.groupBy("q_id").count().collect().map(_.getLong(1)).toSet
    assert(perQ == Set(5L))
  }

  /** q245 durable PQ (round-18): the chain probe reads the STANDING code
    * table (split-trained fixed books — the q238 centroid discipline), so
    * two recall questions need pinning: (1) the absolute floor vs brute
    * force at the registered config, and (2) the cost of training the
    * books on the 90% split instead of the full corpus — the drift the
    * fixed-codebook policy accepts between retrains. Both measured at
    * sf0.1 on the uniform-regime corpus (PQ's worst case): durable 0.680,
    * static 0.680 — the split-training loss is ZERO here (the q240
    * int8-rescore result's analogue for codebooks).
    */
  test("q245 durable PQ at sf0.1: chain-probe recall@5 vs brute ≥ floor; split-trained books within margin of the static q205 probe") {
    val emb = Tables.embeddings(spark, sf01)
    val brute = knnSet(Similarity.bruteKnnFrom(emb, Similarity.PqNQueries,
      Similarity.PqK))
    val durable = knnSet(SparkEntry.queries("q245_pq_durable")(spark, sf01))
    val static205 = knnSet(Similarity.pqKnn(emb))
    val recallD = brute.intersect(durable).size.toDouble / brute.size
    val recallS = brute.intersect(static205).size.toDouble / brute.size
    info(f"durable-PQ recall@5 vs brute at sf0.1: $recallD%.3f (static q205: $recallS%.3f)")
    assert(recallD >= 0.6,
      f"durable PQ recall@5 $recallD%.3f fell below the pinned floor")
    assert(recallD >= recallS - 0.1,
      f"split-trained books lost more than the accepted margin vs full-corpus books: $recallD%.3f vs $recallS%.3f")
  }

  test("q73 registered config at sf0.1: recall@3 ≥ 0.7; exhaustive probe ≡ brute force") {
    val emb = Tables.embeddings(spark, sf01)
    val brute = knnSet(Similarity.bruteKnnFrom(Tables.embeddings(spark, sf01), 5, 3))
    val ivf3 = knnSet(SparkEntry.queries("q73_ivf_knn_kmeans")(spark, sf01))
    val recall = brute.intersect(ivf3).size.toDouble / brute.size
    assert(recall >= 0.7, f"registered nProbe=3 recall@3 $recall%.3f < 0.7 (measured 0.733)")
    val ivfAll = knnSet(Similarity.ivfKnnKmeans(emb, 5, 3, nCells = 8, nProbe = 8))
    assert(ivfAll == brute, "exhaustive probe diverged from brute force")
  }

  /** Registered q125 config (rescoreFactor=4, same L=8×B=8 probe): the
    * recall decomposition measured at sf0.1 — int8 ≡ the float LSH result
    * SET (quantization cost: ZERO at this config; the 127-level grid moves
    * no vector across a hyperplane or past the 4k coarse cut), and both
    * paths lose the same 0.333 vs brute to LSH BUCKETING (the q35 envelope,
    * shared). So the floors pin: quantization-attributable loss vs the
    * float path ≥ 0.9 (measured 1.0), end-to-end ≥ the bucketing envelope's
    * own floor. The storage claim — the index carries tinyint, 4× smaller
    * than float32 — is pinned structurally.
    */
  test("q125 int8 ANN at sf0.1: recall vs float LSH ≥ 0.9 (measured 1.0), end-to-end within the LSH envelope; the index stores tinyint") {
    val emb = Tables.embeddings(spark, sf01)
    val brute = knnSet(Similarity.bruteKnnFrom(Tables.embeddings(spark, sf01), 5, 3))
    val float = knnSet(Similarity.lshKnnFrom(Tables.embeddings(spark, sf01), 5, 3))
    val int8 = knnSet(SparkEntry.queries("q125_int8_knn")(spark, sf01))
    val vsFloat = int8.intersect(float).size.toDouble / float.size
    val vsBrute = int8.intersect(brute).size.toDouble / brute.size
    val floatVsBrute = float.intersect(brute).size.toDouble / brute.size
    assert(vsFloat >= 0.9, f"int8 recall vs float LSH $vsFloat%.3f < 0.9 (measured 1.0)")
    assert(vsBrute >= floatVsBrute - 0.1,
      f"int8 end-to-end recall $vsBrute%.3f fell more than 0.1 below the float LSH envelope $floatVsBrute%.3f")
    val qField = Similarity.int8QuantizeFrom(emb).schema("q").dataType
    assert(qField == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType, containsNull = true) ||
      qField == org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = false),
      s"the index must store tinyint (4× lever), got $qField")
  }

  /** q240/q241 coarse-cut quality (round-17 — VERDICT r16 item 5): the
    * DuckDB oracle proves ALGORITHM parity, not ranking quality — a
    * too-small rescoreFactor would be replayed faithfully by the oracle
    * while quietly shipping bad neighbors. This pins recall@3 of the
    * coarse-int8-then-float-rescore chain probe (q240) against the FLOAT
    * durable probe (q238 — same centroids, same probed cells, same chain
    * state, no quantization), the q125 discipline applied to the IVF path.
    * Measured at the registered rescoreFactor=4: int8 ≡ float recall 1.0
    * (the rescore pool recovers every coarse-ranking perturbation the
    * 127-level grid introduces); both share the IVF nProbe=3 envelope vs
    * brute (0.733, the q73 number — the loss is BUCKETING, not
    * quantization). The rescoreFactor sweep is recorded in
    * DEDUP_QUALITY.md §int8-IVF.
    */
  test("q240 int8 IVF chain at sf0.1: recall vs the float durable probe ≥ 0.9 (measured 1.0); bucketing envelope shared") {
    val brute = knnSet(Similarity.bruteKnnFrom(Tables.embeddings(spark, sf01), 5, 3))
    val float = knnSet(Similarity.ivfDurableRefreshBucketed(spark, sf01))
    val int8 = knnSet(Similarity.int8IvfDurableRefresh(spark, sf01))
    val vsFloat = int8.intersect(float).size.toDouble / float.size
    val vsBrute = int8.intersect(brute).size.toDouble / brute.size
    val floatVsBrute = float.intersect(brute).size.toDouble / brute.size
    info(f"int8-IVF recall@3 vs float-IVF: $vsFloat%.3f; vs brute: $vsBrute%.3f (float envelope $floatVsBrute%.3f)")
    assert(vsFloat >= 0.9,
      f"int8 chain recall vs the float durable probe $vsFloat%.3f < 0.9")
    assert(vsBrute >= floatVsBrute - 0.1,
      f"int8 end-to-end recall $vsBrute%.3f fell more than 0.1 below the float IVF envelope $floatVsBrute%.3f")
  }
}
