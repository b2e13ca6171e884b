package graft.operators

import graft.functions.Fx._
import graft.functions.VectorFunctions.{cellRank, cosineSim, vecDot}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (north-star extension).
  *
  * Two tiers, per the standard ANN playbook:
  *  - `bruteKnnFrom`: exact top-k — broadcast the (small) query set against the
  *    full corpus; one scan, no shuffle of the corpus, codegen'd cosine. At
  *    100 TB this is the "small query batch × huge corpus" shape: corpus stays
  *    partition-local, per-partition top-k folds into a global
  *    TakeOrderedAndProject.
  *  - `lshKnnFrom`: approximate — random-hyperplane signatures bucket the corpus;
  *    queries probe their own bucket plus all Hamming-1 neighbors (multi-probe)
  *    so candidate count ~ corpus/2^bits × (bits+1), independent of corpus².
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector (`vec_id < nQueries`). */
  def bruteKnnFrom(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").cast("array<double>").as("qe"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").cast("array<double>").as("ce"))
    rankTopK(
      c.crossJoin(broadcast(q))
        .filter(col("q_id") =!= col("neighbor_id"))
        .withColumn("sim", cosineSim(col("qe"), col("ce"))),
      k)
  }

  /** Rank candidates (q_id, neighbor_id, sim) to top-k per query via the
    * bounded-heap TopKByScore aggregate: partial k-heaps are built map-side,
    * so the shuffle carries ≤ k rows per (query, partition) — the window
    * row_number formulation would shuffle and sort EVERY candidate row into
    * one partition per query (skew + volume, fatal at corpus scale).
    */
  private def rankTopK(cand: DataFrame, k: Int): DataFrame =
    cand.groupBy("q_id")
      .agg(graft.functions.TopKByScore.topK(col("sim"), col("neighbor_id"), k).as("nn"))
      .select(col("q_id"), explode(col("nn")).as("x"))
      .select(col("q_id"), col("x.id").as("neighbor_id"), col("x.rk").as("rk"),
        rd(col("x.score"), 6).as("sim"))
      .orderBy("q_id", "rk")

  /** Multi-table random-hyperplane LSH: L independent tables of B sign bits.
    * Collision probability per plane is 1 − θ/π, so a pair at cosine s lands
    * in the same bucket of at least one table with prob 1−(1−p^B)^L — the
    * standard amplification; Hamming-1 multi-probe on the query side adds
    * B·p^(B−1)(1−p) per table without growing the corpus index.
    */
  private[graft] val Tables_L = 8
  private[graft] val Bits_B = 8

  /** Deterministic random hyperplanes (fixed seed, fixed dim). Exposed
    * package-wide so the DuckDB oracle for the LSH near-dup query can embed
    * the SAME plane values as SQL literals and replicate the bucketing
    * bit-for-bit.
    */
  private[graft] def planes(dim: Int): Array[Array[Double]] = {
    val rng = new scala.util.Random(42)
    Array.fill(Tables_L * Bits_B, dim)(rng.nextGaussian())
  }

  /** Per-table bucket ids: element t is the B-bit signature under table t's
    * hyperplanes, via the single LshBuckets expression (one tight loop per
    * row; composing 64 vec_dot columns instead overflows codegen and runs
    * interpreted at ~40× the flop cost — see VectorExpressions.LshBuckets).
    */
  private def buckets(vec: org.apache.spark.sql.Column, dim: Int) =
    graft.functions.VectorFunctions.lshBuckets(vec, planes(dim), Tables_L, Bits_B)

  /** Approximate top-k cosine neighbors via multi-table LSH with Hamming-1
    * multi-probe. The corpus index is n·L rows keyed by (table, bucket); the
    * join is a plain equi-join on that short key, so candidate volume tracks
    * true bucket collisions — never corpus². The index (`lshIndexOf`) is
    * deterministic per corpus, so one build serves any number of query
    * batches through `lshKnnIndexed`.
    */
  def lshKnnFrom(embeddings: DataFrame, nQueries: Int, k: Int, dim: Int = 64): DataFrame =
    lshKnnIndexed(lshIndexOf(embeddings, dim),
      embeddings.filter(col("vec_id") < nQueries), k, dim)

  /** The LSH corpus index relation: (vec_id, e, tbl, bucket) — n·L rows.
    * Deterministic for a given corpus (fixed-seed hyperplanes), so it is
    * write-once per corpus version.
    */
  private[graft] def lshIndexOf(embeddings: DataFrame, dim: Int = 64): DataFrame =
    embeddings.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("bks", buckets(col("e"), dim))
      .select(col("vec_id"), col("e"), posexplode(col("bks")).as(Seq("tbl", "bucket")))

  /** Probe an LSH index relation with a query batch: per table, own bucket
    * + all B Hamming-1 neighbors (multi-probe).
    */
  def lshKnnIndexed(index: DataFrame, queries: DataFrame, k: Int, dim: Int = 64): DataFrame = {
    val corpus = index.select(
      col("vec_id").as("neighbor_id"), col("e").as("ce"), col("tbl"), col("bucket"))
    val probes = queries
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("bks", buckets(col("e"), dim))
      .select(col("vec_id").as("q_id"), col("e").as("qe"),
        posexplode(col("bks")).as(Seq("tbl", "b0")))
      .select(col("q_id"), col("qe"), col("tbl"),
        explode(array((Seq(col("b0")) ++
          (0 until Bits_B).map(r => col("b0").bitwiseXOR(lit(1L << r)))): _*)).as("bucket"))
    val cand = probes.join(corpus, Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("neighbor_id"))
      .select("q_id", "qe", "neighbor_id", "ce")
      .dropDuplicates("q_id", "neighbor_id")
    rankTopK(cand.withColumn("sim", cosineSim(col("qe"), col("ce"))), k)
  }

  /** Int8 scalar quantization of the embedding corpus — the 4× storage lever
    * at 100 TB (a 64-d float32 vector is 256 B; its int8 form is 64 B + one
    * float scale). Per-vector SYMMETRIC quantization:
    *   scale = max|x_i| / 127,  q_i = floor(x_i / scale + 0.5)  ∈ [−127, 127]
    * `floor(v + 0.5)` is the half-up rule both engines state identically
    * (SQL `round`'s half handling is the kind of dialect edge the oracle
    * discipline avoids); a zero vector quantizes to zeros with scale 0.
    * Output schema: (vec_id, q array<tinyint>, scale) — the tinyint array IS
    * the storage claim, pinned by SimilaritySpec.
    */
  def int8QuantizeFrom(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("scale", int8Scale(col("e")))
      .select(col("vec_id"), int8Codes(col("e"), col("scale"), "tinyint").as("q"),
        col("scale"))

  /** Per-vector symmetric-quantization scale: max|x_i| / 127 over a
    * double-array column. The ONE copy of the formula — q125's stored
    * index, q240's chain MV, and q240's probe-side codes all derive from
    * this + [[int8Codes]], so the rule cannot drift between call sites
    * (or out from under the oracle CTEs that replay it). */
  private def int8Scale(e: Column): Column =
    aggregate(transform(e, x => abs(x)), lit(0.0), (a, x) => greatest(a, x)) / 127.0

  /** Half-up int8 codes under `scale` (floor(x/scale + 0.5); zero vector →
    * zeros). `tpe` is "tinyint" where the codes are STORED (the 4× claim)
    * and "double" where they feed arithmetic directly. */
  private def int8Codes(e: Column, scale: Column, tpe: String): Column =
    when(scale > 0, transform(e, x => floor(x / scale + 0.5).cast(tpe)))
      .otherwise(transform(e, x => lit(0).cast(tpe)))

  /** Int8-quantized approximate kNN (q125): LSH-bucketed candidate
    * generation and COARSE scoring run entirely on the quantized corpus;
    * only the survivors are rescored in float.
    *
    *  1. bucket: the LSH signature of a quantized vector needs no scale —
    *     sign(Σ wᵢ·qᵢ·s) = sign(Σ wᵢ·qᵢ) for s > 0 — so the probe works on
    *     raw int arrays (the quantized index alone, floats untouched);
    *  2. coarse: int8 cosine — the per-vector scales CANCEL in cosine, and
    *     the integer dot (≤ 64·127² ≈ 10⁶) is exact in double, so the
    *     coarse ranking is deterministic across engines by construction;
    *     top rescoreFactor·k per query via the k-heap aggregate;
    *  3. rescore: exact float cosine over the survivors only, final top-k.
    * Same multi-table Hamming-1 multi-probe as [[lshKnnIndexed]]; recall vs
    * the float path is floored by AnnRecallSpec at the registered config.
    */
  def int8KnnFrom(embeddings: DataFrame, nQueries: Int, k: Int,
                  dim: Int = 64, rescoreFactor: Int = 4): DataFrame =
    int8KnnIndexed(int8QuantizeFrom(embeddings), embeddings, nQueries, k, dim, rescoreFactor)

  /** Probe a quantized index ([[int8QuantizeFrom]]'s relation).
    * `embeddings` is only read for the float rescore join. */
  def int8KnnIndexed(index: DataFrame, embeddings: DataFrame, nQueries: Int,
                     k: Int, dim: Int = 64, rescoreFactor: Int = 4): DataFrame = {
    val qd = index
      .select(col("vec_id"), transform(col("q"), x => x.cast("double")).as("qv"))
      .withColumn("bks", buckets(col("qv"), dim))
    val corpus = qd.select(col("vec_id").as("neighbor_id"), col("qv").as("cv"),
      posexplode(col("bks")).as(Seq("tbl", "bucket")))
    val probes = qd.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("qv").as("pv"),
        posexplode(col("bks")).as(Seq("tbl", "b0")))
      .select(col("q_id"), col("pv"), col("tbl"),
        explode(array((Seq(col("b0")) ++
          (0 until Bits_B).map(r => col("b0").bitwiseXOR(lit(1L << r)))): _*)).as("bucket"))
    val coarse = probes.join(corpus, Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("neighbor_id"))
      .dropDuplicates("q_id", "neighbor_id")
      .withColumn("sim8", cosineSim(col("pv"), col("cv")))
      .groupBy("q_id")
      .agg(graft.functions.TopKByScore.topK(col("sim8"), col("neighbor_id"),
        rescoreFactor * k).as("nn"))
      .select(col("q_id"), explode(col("nn")).as("x"))
      .select(col("q_id"), col("x.id").as("neighbor_id"))
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    rankTopK(
      coarse
        .join(emb.select(col("vec_id").as("q_id"), col("e").as("qe")), "q_id")
        .join(emb.select(col("vec_id").as("neighbor_id"), col("e").as("ce")), "neighbor_id")
        .withColumn("sim", cosineSim(col("qe"), col("ce"))),
      k)
  }

  /** INT8-QUANTIZED DURABLE IVF (q240, round-16 — VERDICT r15 item 7b):
    * the q238 refresh chain applied to the index production actually
    * refreshes — the QUANTIZED one. The standing assignment MV stores
    * (cell, vec_id, q tinyint[], scale) and NO float vectors: the resident
    * index is the 4× int8 form ([[int8QuantizeFrom]]'s storage claim), and
    * the float corpus is touched only to rescore ~rescoreFactor·k
    * survivors per query. Each arriving batch is float-assigned against
    * the FIXED centroids (assignment fidelity is not quantized away),
    * quantized, and landed in the standing MV exactly once through the
    * batchId-guarded chain; the probe is two-stage over the probed cells'
    * bucket files only — coarse int8 cosine (scales cancel; the integer
    * dot is exact in double, so coarse ranking is deterministic across
    * engines), k-heap cut at rescoreFactor·k, float rescore, final top-k.
    *
    * Fully oracled: split-trained Lloyd replay (cells), half-up
    * quantization, coarse + rescore ranking — all portable SQL; hash
    * equality proves quantization round-trip through the bucketed publish,
    * exactly-once chain landing, AND the two-stage ranking end-to-end.
    *
    * Scale shape: refresh cost ∝ batch (one broadcast assign + quantize)
    * + the int8-sized write-back (4× cheaper than a float republish);
    * probe scans |probed cells|/|cells| of an index already 4× smaller
    * than q238's, and the only float reads are survivor-sized.
    */
  def int8IvfDurableRefresh(spark: SparkSession, dir: String,
                            nQueries: Int = IvfNQueries, k: Int = IvfK,
                            nCells: Int = IvfNCells, nProbe: Int = IvfNProbe,
                            iters: Int = IvfIters,
                            rescoreFactor: Int = IvfRescoreFactor): DataFrame = {
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    val embAll = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val chain = s"ivf_q8_d90_${nCells}_$iters"
    graft.sources.Tables.resetChain(spark, src, chain)
    val inputs = int8ChainInputs(spark, dir, nCells, iters)
    // two arriving delta batches (the held-out decile split in two): each
    // step is one broadcast assignment + quantize + bucketed write-back —
    // a replayed batchId skips both
    Seq(0L, 1L).foreach { b =>
      applyInt8IvfBatch(spark, dir, chain, b,
        embAll.filter(col("vec_id") % 20 === lit(b * 10)), inputs, nCells)
    }
    int8ChainProbe(spark, dir, chain, nQueries, k, nCells, nProbe, iters,
      rescoreFactor)
  }

  /** Quantize an assigned (cell, vec_id, e) relation into the int8 chain-MV
    * schema (cell, vec_id, q tinyint[], scale). */
  private def quantizeAssigned(assigned: DataFrame): DataFrame = assigned
    .withColumn("scale", int8Scale(col("e")))
    .select(col("cell"), col("vec_id"),
      int8Codes(col("e"), col("scale"), "tinyint").as("q"), col("scale"))

  /** The pristine standing INT8 assignment MV (float-assigned, int8-stored),
    * cell-bucketed — built once per corpus, never mutated: maintenance
    * chains publish their grown steps under their own chain names. */
  private def int8StandingPath(spark: SparkSession, dir: String,
                               cents: DataFrame, nCells: Int,
                               iters: Int): java.nio.file.Path = {
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    graft.sources.Tables.bucketedMvPath(spark, src,
      s"ivf_q8_b90_${nCells}_$iters", nCells, Seq("cell"),
      Seq("cell", "vec_id")) {
      val base = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .filter(col("vec_id") % 10 =!= 0)
      quantizeAssigned(assignCells(base, cents))
    }
  }

  /** One replay-idempotent step of an int8 assignment chain — the loop body
    * of the batch gate (q240) and the foreachBatch body of the streaming
    * gate (q241): broadcast-assign the (vec_id, e) batch against the FIXED
    * centroids, quantize, and land it in `chain` exactly once (a replayed
    * batchId finds its own publish and skips). Union is per-vector, so the
    * final chain state is the same under ANY batching of the delta —
    * which is why the streaming gate shares q240's oracle verbatim. */
  private[graft] def applyInt8IvfBatch(s: SparkSession, dir: String,
                                       chain: String, batchId: Long,
                                       batch: DataFrame,
                                       inputs: (DataFrame, java.nio.file.Path),
                                       nCells: Int = IvfNCells): Unit = {
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    val (cents, standingPath) = inputs
    graft.sources.Tables.chainStep(s, src, chain, batchId, nCells,
      Seq("cell"), Seq("cell", "vec_id")) { prev =>
      val standing = prev.getOrElse(s.read.parquet(standingPath.toString))
      standing.select(col("cell"), col("vec_id"), col("q"), col("scale"))
        .union(quantizeAssigned(assignCells(batch, cents)))
    }
  }

  /** The fixed inputs every int8 chain step shares — the centroid MV
    * read-back and the pristine standing int8 MV path. Resolved ONCE per
    * gate run and passed into [[applyInt8IvfBatch]]: resolving per batch
    * would pay a redundant fingerprint walk + MV-lock round per
    * micro-batch (both are corpus-level, batch-invariant state). Building
    * the standing MV on first touch happens here, before any step runs. */
  private[graft] def int8ChainInputs(s: SparkSession, dir: String,
                                     nCells: Int = IvfNCells,
                                     iters: Int = IvfIters)
      : (DataFrame, java.nio.file.Path) = {
    val cents = ivfCentsMv(s, dir, nCells, iters)
    (cents, int8StandingPath(s, dir, cents, nCells, iters))
  }

  /** The two-stage probe of an int8 assignment chain's LATEST publish:
    * coarse int8 cosine over the probed cells' bucket files only (scales
    * cancel; the integer dot is exact in double, so coarse ranking is
    * deterministic across engines), k-heap cut at rescoreFactor·k, float
    * rescore of the survivors, final top-k. */
  private[graft] def int8ChainProbe(spark: SparkSession, dir: String,
                                    chain: String,
                                    nQueries: Int = IvfNQueries,
                                    k: Int = IvfK, nCells: Int = IvfNCells,
                                    nProbe: Int = IvfNProbe,
                                    iters: Int = IvfIters,
                                    rescoreFactor: Int = IvfRescoreFactor)
      : DataFrame = {
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    val embAll = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val cents = ivfCentsMv(spark, dir, nCells, iters)
    val latestPath = latestChainPath(src, chain,
      s"int8 IVF chain $chain published nothing")
    val probes = cellProbes(embAll, cents, nQueries, nProbe)
      .withColumn("scale", int8Scale(col("qe")))
      .select(col("q_id"), col("cell"),
        int8Codes(col("qe"), col("scale"), "double").as("pq"))
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    // coarse: int8 cosine inside the probed cells only — the index side is
    // the pruned standing scan, cast tinyint→double at the projection
    val index8 = prunedCellScan(spark, latestPath, probedCells, nCells)
      .select(col("vec_id").as("neighbor_id"),
        transform(col("q"), x => x.cast("double")).as("cq"), col("cell"))
    val coarse = probes.join(index8, Seq("cell"))
      .filter(col("q_id") =!= col("neighbor_id"))
      .withColumn("sim8", cosineSim(col("pq"), col("cq")))
      .groupBy("q_id")
      .agg(graft.functions.TopKByScore.topK(col("sim8"), col("neighbor_id"),
        rescoreFactor * k).as("nn"))
      .select(col("q_id"), explode(col("nn")).as("x"))
      .select(col("q_id"), col("x.id").as("neighbor_id"))
    // rescore: the ONLY float reads — survivor-sized joins back to the corpus
    rankTopK(
      coarse
        .join(embAll.select(col("vec_id").as("q_id"), col("e").as("qe")), "q_id")
        .join(embAll.select(col("vec_id").as("neighbor_id"), col("e").as("ce")),
          "neighbor_id")
        .withColumn("sim", cosineSim(col("qe"), col("ce"))),
      k)
  }

  /** q240's coarse-cut knob, pinned with the other IVF knobs. */
  val IvfRescoreFactor = 4

  /** The LATEST published step of a refresh chain, resolved from the
    * durable listing — never a hardcoded batch id, so the probe keeps
    * reading the newest publish if the gate's batch schedule changes. */
  private def latestChainPath(src: java.nio.file.Path, chain: String,
                              missing: String): java.nio.file.Path = {
    val id = graft.sources.Tables.chainPublishedIds(src, chain).lastOption
      .getOrElse(sys.error(missing))
    graft.sources.Tables.publishedMvPath(src, s"${chain}_b$id")
      .getOrElse(sys.error(missing))
  }

  /** HYBRID retrieval with reciprocal-rank fusion (q128): the standard
    * two-tower retrieval stack — a LEXICAL ranking (3-shingle Jaccard
    * between query documents and the corpus, candidates from the shingle
    * posting-list equi-join, never all-pairs) and a DENSE ranking (cosine
    * over the aligned embeddings) — fused per query as
    * Σ 1/(rrfK + rank) over the lists the document appears in (Cormack,
    * Clarke & Büttcher 2009's RRF; rrfK = 60, the paper's constant).
    *
    * Scale shape: both lists are cut at `depth` by the k-heap aggregate
    * (shuffle ≤ depth rows/query/partition), the fusion is a full-outer
    * equi-join of two depth-bounded relations keyed by (query, doc), and
    * the final cut is another k-heap. Query batches are small by
    * construction (a retrieval batch), so the corpus-side joins are the
    * bounded ones. Every stage is deterministic (integer set arithmetic for
    * Jaccard, exact-dot cosine, ties on id) — the whole fusion is
    * hash-oracled.
    */
  def hybridRrf(spark: SparkSession, dir: String, nQueries: Int, k: Int,
                depth: Int = 50, rrfK: Int = 60): DataFrame = {
    val sh = TextOps.shingleSet(Tables.documents(spark, dir)).select("doc_id", "sg")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val qsh = sh.filter(col("doc_id") < nQueries).select(col("doc_id").as("q_id"), col("sg"))
    val jac = qsh.join(sh, "sg")
      .filter(col("q_id") =!= col("doc_id"))
      .groupBy("q_id", "doc_id").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("q_id"), col("n").as("qn")), "q_id")
      .join(sizes, "doc_id")
      .select(col("q_id"), col("doc_id").as("neighbor_id"),
        (col("inter").cast("double") / (col("qn") + col("n") - col("inter"))).as("sim"))
    val textTop = rankTopK(jac, depth)
      .select(col("q_id"), col("neighbor_id"), col("rk").as("rank_text"))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    val vec = emb.select(col("vec_id").as("neighbor_id"), col("e").as("ce"))
      .crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineSim(col("qe"), col("ce")))
    val vecTop = rankTopK(vec, depth)
      .select(col("q_id"), col("neighbor_id"), col("rk").as("rank_vec"))
    val fused = textTop.join(vecTop, Seq("q_id", "neighbor_id"), "full_outer")
      .select(col("q_id"), col("neighbor_id"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("rank_text")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_vec")), lit(0.0))).as("sim"))
    rankTopK(fused, k)
      .withColumnRenamed("sim", "score")
  }

  /** Embedding-cosine near-dup: exact top-k most-similar unordered pairs.
    * Exact-by-construction (the DuckDB-oracled validation baseline for the
    * LSH path). The all-pairs product is expressed as a self-join blocked on
    * vec_id ordering; at corpus scale the same query runs with `lshNearDup`
    * candidates instead — identical verify arithmetic, bounded pair space.
    */
  def topSimilarPairs(spark: SparkSession, dir: String, k: Int): DataFrame = {
    // no array<double> cast: the codegen'd cosine reads float arrays directly
    // with double accumulation — casting would allocate 2 fresh arrays per
    // joined pair
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
    val a = emb.select(col("vec_id").as("vec_a"), col("e").as("ea"))
    val b = emb.select(col("vec_id").as("vec_b"), col("e").as("eb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        rd(cosineSim(col("ea"), col("eb")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(k)
  }

  /** Embedding-cosine near-dup at scale: multi-table LSH candidate pairs
    * verified with exact cosine — the embedding twin of minhash→jaccard.
    * Pair space comes from equi-joins on (table, bucket), never corpus².
    *
    * Like the text path (`TextOps.minHashLshPairs`), exact duplicates are
    * collapsed FIRST: identical vectors have identical buckets and identical
    * pairwise cosines, so LSH runs on one representative per distinct vector
    * and verified rep pairs expand back to member pairs (intra-cluster pairs
    * score exactly 1.0; zero-norm clusters are excluded — their cosine is
    * NULL in the raw algorithm). Output is EXACTLY the raw per-vector
    * algorithm's; on a dup-heavy corpus the candidate space scales with
    * distinct vectors, not members².
    */
  def lshNearDup(embeddings: DataFrame, threshold: Double, dim: Int = 64): DataFrame = {
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    // MATERIALIZE the two multiply-referenced relations (r20, guide §5 —
    // cut multiply-referenced lineage): `reps` feeds mem + idx and `mem`
    // feeds the two cross expansions + both intra self-join sides, and the
    // planner broadcasts those small sides, so every broadcast-build future
    // re-ran the corpus-wide groupBy-on-the-array exchange from scratch —
    // 20 corpus scans / 10 broadcast builds in the before-plan. Checkpointed,
    // the exchange runs once and every consumer (broadcast builds included)
    // reads the materialized rows: ZERO parquet scans remain in the final
    // plan (the two checkpoint builds are the only corpus passes); q56
    // min-of-3 isolated 1.95 -> 1.58 s. Both relations are distinct-vector-
    // sized. The same device measured 1.8x SLOWER on q178 (corpus-shaped
    // distinct builds serialized — the r15 rule), so it stays scoped to
    // relations whose derivation is one aggregate the consumers all share.
    val reps = emb.groupBy("e").agg(min("vec_id").as("rep")).localCheckpoint(true)
    val mem = emb.join(reps, "e").select(col("vec_id"), col("rep"), col("e"))
      .localCheckpoint(true)
    val idx = reps.select(col("rep").as("vec_id"), col("e"))
      .withColumn("bks", buckets(col("e"), dim))
      .select(col("vec_id"), col("e"), posexplode(col("bks")).as(Seq("tbl", "bucket")))
    val repPairs = idx.as("x").join(idx.as("y"), Seq("tbl", "bucket"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        col("x.e").as("ea"), col("y.e").as("eb"))
      .dropDuplicates("vec_a", "vec_b")
      .select(col("vec_a"), col("vec_b"), rd(cosineSim(col("ea"), col("eb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
    val cross = repPairs
      .join(mem.select(col("rep").as("vec_a"), col("vec_id").as("va")), "vec_a")
      .join(mem.select(col("rep").as("vec_b"), col("vec_id").as("vb")), "vec_b")
      .select(least(col("va"), col("vb")).as("vec_a"),
        greatest(col("va"), col("vb")).as("vec_b"), col("sim"))
    val intra = mem.as("x").join(mem.as("y"), "rep")
      .filter(col("x.vec_id") < col("y.vec_id"))
      .filter(vecDot(col("x.e"), col("x.e")) > 0)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        lit(1.0).as("sim"))
    cross.union(intra)
      .filter(col("sim") >= threshold)
      .orderBy(col("sim").desc, col("vec_a").asc, col("vec_b").asc)
  }

  /** Lloyd's k-means over embeddings, expressed as DataFrame ops: assignment
    * is a broadcast cross join against the (tiny) centroid relation + argmax,
    * the update is one hash aggregation per iteration. The per-iteration cost
    * is one scan + one shuffle of (cell, pos, partial-mean) — linear at any
    * corpus size; the centroid relation (k × dim) always fits in a broadcast.
    *
    * Two determinism contracts make the WHOLE training loop cross-engine
    * verifiable (the q73 oracle replays it in unrolled SQL):
    *  - seeds are the k vectors with the smallest `md5(vec_id)` (portable
    *    hash, lexicographic on hex — no engine-specific sampling);
    *  - centroid coordinates are QUANTIZED to 6 decimals after each mean
    *    update, which erases the ~1e-15 partial-aggregation-order noise that
    *    would otherwise make distributed float averages engine-specific. The
    *    ≤5e-7 perturbation is far below the clustering's own noise floor.
    */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    var cents = emb
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy("h").limit(k)
      .withColumn("cell", row_number().over(Window.orderBy("h")).cast("long") - 1)
      .select(col("cell"), col("e").as("cvec"))
    for (_ <- 0 until iters) {
      cents = assignCells(emb, cents)
        .select(col("cell"), posexplode(col("e")).as(Seq("pos", "v")))
        .groupBy("cell", "pos").agg(rd(avg(col("v")), 6).as("c"))
        .groupBy("cell").agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("cell"), transform(col("pc"), x => x.getField("c")).as("cvec"))
        .localCheckpoint(true) // cut lineage: each iteration re-reads 1 scan, not i scans
    }
    cents
  }

  /** IVF with TRAINED coarse centroids (k-means) instead of label seeding —
    * the honest variant when no meaningful partition label exists.
    */
  def ivfKnnKmeans(embeddings: DataFrame, nQueries: Int, k: Int,
                   nCells: Int, nProbe: Int, iters: Int = 3): DataFrame = {
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    ivfWithCentroids(emb, kmeansCentroids(embeddings, nCells, iters), nQueries, k, nProbe)
  }

  /** INCREMENTAL IVF INDEX MAINTENANCE, BUCKETED (q237, round-15 — VERDICT
    * r14 item 7b): the q232 standing-MV refresh discipline applied to the
    * ANN index. The index is two MVs — the trained centroid relation
    * (k×dim, fingerprinted) and the cell ASSIGNMENT persisted bucketed by
    * `cell` — and a delta of arriving vectors refreshes it at DELTA cost:
    * centroids stay FIXED (production retrains rarely and watches q234's
    * drift monitor instead; re-training per batch would re-assign the whole
    * corpus), so the refresh is one broadcast-centroid projection over the
    * batch — zero shuffles, nothing corpus-shaped.
    *
    * The probe exploits the bucketed layout the way IVF means it: the
    * probed cell set (nQueries × nProbe, driver-bounded) selects bucket
    * FILES by name ([[graft.sources.Tables.bucketFiles]]), so the
    * standing scan reads ONLY the probed buckets regardless of session
    * conf (Spark's own bucket-filter pruning needs autoBucketedScan off
    * for filter-only plans). At 100 TB that is the difference between
    * scanning the corpus per query batch and scanning |probed cells| /
    * |cells| of it.
    *
    * Oracle: train on the base split, assign EVERYTHING, probe — the q73
    * unrolled-Lloyd replay with training restricted to the standing split;
    * hash equality proves centroid persistence round-trip, bucketed
    * assignment publish/read-back, the delta-assign path, and the pruned
    * probe end-to-end.
    */
  def ivfIncrementalParityBucketed(spark: SparkSession, dir: String,
                                   nQueries: Int = IvfNQueries, k: Int = IvfK,
                                   nCells: Int = IvfNCells,
                                   nProbe: Int = IvfNProbe,
                                   iters: Int = IvfIters): DataFrame = {
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    val embAll = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val cents = ivfCentsMv(spark, dir, nCells, iters)
    val standingPath = ivfStandingAssignPath(spark, dir, cents, nCells, iters)
    // DELTA refresh: one broadcast pass over the arriving batch
    val delta = assignCells(embAll.filter(col("vec_id") % 10 === 0), cents)
      .select(col("cell"), col("vec_id"), col("e"))
    val probes = cellProbes(embAll, cents, nQueries, nProbe)
    // the probed cell set is (nQueries × nProbe)-bounded — a driver-side
    // list is the doctrine-legal way to turn it into file-level bucket
    // pruning on the standing scan (a join could never prune buckets)
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val standingProbed = prunedCellScan(spark, standingPath, probedCells, nCells)
    val index = standingProbed.select(col("cell"), col("vec_id"), col("e"))
      .union(delta.filter(col("cell").isin(probedCells: _*)))
      .select(col("vec_id").as("neighbor_id"), col("e").as("ce"), col("cell"))
    rankTopK(
      probes.join(index, "cell")
        .filter(col("q_id") =!= col("neighbor_id"))
        .withColumn("sim", cosineSim(col("qe"), col("ce"))),
      k)
  }

  /** q237/q238 knobs pinned ONCE (ADVICE r15 — the q234 `DriftSplitMod`
    * discipline): the engine defaults and the DuckDB oracle CTEs
    * (`SimilarityQueries.KmeansCellsSplitCtes` + the q237/q238 oracle SQL)
    * interpolate these same vals, so a knob change cannot silently break
    * parity — both sides move together or the diff shows the tie. */
  val IvfNQueries = 5
  val IvfK = 3
  val IvfNCells = 8
  val IvfNProbe = 3
  val IvfIters = 3

  /** The base-split-trained centroid MV shared by q237/q238 (quantized
    * means round-trip parquet bit-exactly — kmeansCentroids contract). */
  private def ivfCentsMv(spark: SparkSession, dir: String,
                         nCells: Int, iters: Int): DataFrame = {
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    val base = Tables.embeddings(spark, dir).filter(col("vec_id") % 10 =!= 0)
    graft.sources.Tables.fingerprintedMv(spark, src,
      s"ivf_cents_b90_${nCells}_$iters")(kmeansCentroids(base, nCells, iters))
      .select(col("cell"), col("cvec"))
  }

  /** The standing (base-split) cell-assignment MV, bucketed by cell —
    * shared by q237 (probes it ∪ a per-call delta) and q238 (grows it
    * durably through the republish chain). */
  private def ivfStandingAssignPath(spark: SparkSession, dir: String,
                                    cents: DataFrame, nCells: Int,
                                    iters: Int): java.nio.file.Path = {
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    val base = Tables.embeddings(spark, dir).filter(col("vec_id") % 10 =!= 0)
    graft.sources.Tables.bucketedMvPath(spark, src,
      s"ivf_assign_b90_${nCells}_$iters", nCells, Seq("cell"),
      Seq("cell", "vec_id")) {
      assignCells(base.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e")), cents)
        .select(col("cell"), col("vec_id"), col("e"))
    }
  }

  /** nProbe nearest cells per query vector under fixed centroids,
    * localCheckpointed once (referenced twice: probed-cell set + the probe
    * join). */
  private def cellProbes(embAll: DataFrame, cents: DataFrame,
                         nQueries: Int, nProbe: Int): DataFrame =
    embAll.filter(col("vec_id") < nQueries)
      .crossJoin(broadcast(centsArray(cents)))
      .select(col("vec_id").as("q_id"), col("e").as("qe"),
        explode(slice(cellRank(col("e"), col("cents")), 1, nProbe)).as("cc"))
      .select(col("q_id"), col("qe"), col("cc.cell").as("cell"))
      .localCheckpoint(true)

  /** File-level bucket-pruned scan of a cell-bucketed assignment publish:
    * the probed cells' bucket FILES selected by name
    * ([[graft.sources.Tables.bucketFiles]] — conf-independent, multi-file
    * buckets included), then the exact-cell filter on top. */
  private def prunedCellScan(spark: SparkSession, path: java.nio.file.Path,
                             probedCells: Seq[Long], nCells: Int): DataFrame = {
    // bucket ids via the writer's own murmur3+pmod rule
    val probedBuckets = spark.createDataset(probedCells.toSeq)(
        org.apache.spark.sql.Encoders.scalaLong).toDF("cell")
      .select(pmod(hash(col("cell")), lit(nCells)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val schema = spark.read.parquet(path.toString).schema
    val byBucket = graft.sources.Tables.bucketFiles(path)
    val files = probedBuckets.toSeq.sorted.flatMap(byBucket.getOrElse(_, Nil))
    (if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files: _*))
      .filter(col("cell").isin(probedCells: _*))
  }

  /** DURABLE INCREMENTAL IVF (q238, round-16 — VERDICT r15 item 3): q237
    * proves delta-assign parity within a session but recomputes the delta
    * per CALL — the index never durably grows, and after N batches a probe
    * unions N recomputed deltas. Here each arriving batch is
    * broadcast-assigned against the FIXED centroids and REPUBLISHED into
    * the standing cell-bucketed assignment MV through the replay-idempotent
    * chain ([[graft.sources.Tables.chainStep]] — the q236 discipline
    * applied to the assignment MV, batchId-guarded so an at-least-once
    * redelivery can never land a vector twice). The final probe reads ONE
    * standing relation — the latest chain publish's probed bucket FILES —
    * with NO per-call delta job and no union; the plan is the q237 pruned
    * probe with the delta leg gone.
    *
    * The per-step merge is base-scan ∪ broadcast-assigned batch — no join,
    * no corpus-shaped shuffle; the write-back skips the explicit
    * pre-shuffle (chainStep default — multi-file buckets are fine here:
    * the only consumer is the file-pruned probe, which needs neither the
    * one-file layout nor the scan-reported sort). Oracle: identical to
    * q237's assign-everything replay — hash equality proves both delta
    * cycles landed exactly once (a double-applied replay would duplicate
    * neighbor rows and shift every rank).
    */
  def ivfDurableRefreshBucketed(spark: SparkSession, dir: String,
                                nQueries: Int = IvfNQueries, k: Int = IvfK,
                                nCells: Int = IvfNCells,
                                nProbe: Int = IvfNProbe,
                                iters: Int = IvfIters): DataFrame = {
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    val embAll = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val cents = ivfCentsMv(spark, dir, nCells, iters)
    val standingPath = ivfStandingAssignPath(spark, dir, cents, nCells, iters)
    val chain = s"ivf_assign_d90_${nCells}_$iters"
    val bkt = Seq("cell")
    val srt = Seq("cell", "vec_id")
    // gate reset: replay the delta cycles from the pristine standing MV
    graft.sources.Tables.resetChain(spark, src, chain)
    // two arriving delta batches (the held-out decile split in two): each
    // chainStep is one broadcast assignment over the batch + the bucketed
    // write-back — a replayed batchId skips both
    Seq(0L, 1L).foreach { b =>
      // the held-out decile's even tens (vec_id % 20 == 0) arrive as batch
      // 0, the odd tens (% 20 == 10) as batch 1
      val batch = embAll.filter(col("vec_id") % 20 === lit(b * 10))
      graft.sources.Tables.chainStep(spark, src, chain, b, nCells, bkt, srt) {
        prev =>
          val standing = prev.getOrElse(
            spark.read.parquet(standingPath.toString))
          standing.select(col("cell"), col("vec_id"), col("e"))
            .union(assignCells(batch, cents)
              .select(col("cell"), col("vec_id"), col("e")))
      }
    }
    val latestPath = latestChainPath(src, chain,
      "durable IVF chain published nothing")
    val probes = cellProbes(embAll, cents, nQueries, nProbe)
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val index = prunedCellScan(spark, latestPath, probedCells, nCells)
      .select(col("vec_id").as("neighbor_id"), col("e").as("ce"), col("cell"))
    rankTopK(
      probes.join(index, "cell")
        .filter(col("q_id") =!= col("neighbor_id"))
        .withColumn("sim", cosineSim(col("qe"), col("ce"))),
      k)
  }

  /** IVF (inverted-file) approximate kNN: a coarse quantizer assigns every
    * vector to its nearest centroid cell; queries probe only the `nProbe`
    * nearest cells. Here the quantizer is the per-label centroid set (a
    * deterministic stand-in for trained k-means centroids — same index
    * structure and probe mechanics). Corpus side scans once to build the
    * cell assignment; query side touches |cells probed| / |cells| of the
    * corpus — the inverted-list contract that makes kNN sublinear at scale.
    * Works over any (vec_id, label, embedding) relation.
    */
  def ivfKnnFrom(embeddings: DataFrame, nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    val emb = embeddings
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))
    // coarse centroids: elementwise mean per label (tiny relation — broadcast)
    val cents = emb
      .select(col("label").cast("long").as("cell"), posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy("cell", "pos").agg(avg(col("v")).as("c"))
      .groupBy("cell").agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("cell"), transform(col("pc"), x => x.getField("c")).as("cvec"))
    ivfWithCentroids(emb.select(col("vec_id"), col("e")), cents, nQueries, k, nProbe)
  }

  /** The (tiny, k×dim) centroid relation folded into ONE broadcastable row:
    * an array-of-structs column the CellRank expression scans per corpus row.
    * Precondition: `cents` is non-empty (k ≥ 1 — always true for label/
    * k-means callers). An empty relation would still emit one row with an
    * empty array, yielding NULL cells, where the old crossJoin produced zero
    * rows — degenerate but documented.
    */
  private def centsArray(cents: DataFrame): DataFrame =
    cents.agg(array_sort(collect_list(struct(col("cell"), col("cvec")))).as("cents"))

  /** Zero-shuffle nearest-cell assignment: broadcast-nested-loop against the
    * single-row centroid array, per-row argmax inside the projection. The
    * corpus side NEVER exchanges (PlanSpec-pinned) — the window formulation
    * this replaces hash-partitioned and sorted the full corpus per call.
    * Ordering contract (csim desc, zero-norm last, cell asc) lives in
    * CellRank and is spec-pinned ≡ the window path.
    *
    * NULL embeddings are OUT OF CONTRACT for the IVF family (the embeddings
    * table declares them non-null): CellRank is null-intolerant, so a NULL
    * `e` gets cell = NULL and drops out of the inverted list — spec-pinned
    * in SimilaritySpec so the behavior is explicit, not accidental.
    */
  private[graft] def assignCells(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(centsArray(cents)))
      .withColumn("cell", element_at(cellRank(col("e"), col("cents")), 1).getField("cell"))
      .drop("cents")

  /** Shared IVF mechanics over any centroid relation (cell, cvec). */
  private def ivfWithCentroids(emb: DataFrame, cents: DataFrame,
                               nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    // corpus: each vector lands in exactly its nearest cell (inverted list)
    val assigned = assignCells(emb, cents)
      .select(col("vec_id").as("neighbor_id"), col("e").as("ce"), col("cell"))
    // queries: probe the nProbe nearest cells — same ranked array, sliced
    val probes = emb.filter(col("vec_id") < nQueries)
      .crossJoin(broadcast(centsArray(cents)))
      .select(col("vec_id").as("q_id"), col("e").as("qe"),
        explode(slice(cellRank(col("e"), col("cents")), 1, nProbe)).as("cc"))
      .select(col("q_id"), col("qe"), col("cc.cell").as("cell"))
    rankTopK(
      probes.join(assigned, "cell")
        .filter(col("q_id") =!= col("neighbor_id"))
        .withColumn("sim", cosineSim(col("qe"), col("ce"))),
      k)
  }

  /** Per-label centroids in long format (label, pos, centroid) — elementwise
    * mean via posexplode + hash aggregation; output rows = labels × dims
    * regardless of corpus size.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos0", "v")))
      .groupBy(col("label"), (col("pos0") + 1).cast("long").as("pos"))
      .agg(rd(avg(col("v")), 6).as("centroid"))
      .orderBy("label", "pos")

  /** Global similarity stats between all pairs of label centroids — a compact
    * all-pairs op on a reduced (labels × dims) relation.
    */
  def centroidSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .groupBy("label", "pos").agg(avg(col("v")).as("c"))
      .groupBy("label").agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label"), transform(col("pc"), x => x.getField("c")).as("vec"))
    val a = cents.select(col("label").as("label_a"), col("vec").as("va"))
    val b = cents.select(col("label").as("label_b"), col("vec").as("vb"))
    a.join(b, col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        rd(cosineSim(col("va"), col("vb")), 6).as("sim"))
      .orderBy("label_a", "label_b")
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus embeddings with the deterministic k-means of
    * [[kmeansCentroids]], then — within each cluster only — drop every
    * vector that has a cosine-similar neighbor (sim ≥ τ) with a LOWER
    * vec_id. "Lower id wins" is the deterministic stand-in for the paper's
    * keep-one-per-duplicate-group choice, making the whole operator
    * cross-engine exact. Emits the per-cluster dedup profile:
    * (cell, n_vecs, n_dropped, n_kept).
    *
    * Scale shape — the paper's own argument: pairwise similarity runs ONLY
    * inside a cluster (equi-join on `cell`, never a corpus cross join), so
    * the pair space is Σ|cell|² with k chosen to keep clusters bounded
    * (k ≈ corpus/10⁴ at web scale; the Lloyd pass is linear per iteration
    * and the centroid relation always broadcasts). The drop rule needs no
    * iteration or connected components — one join, one aggregation.
    */
  def semanticDedup(embeddings: DataFrame, nCells: Int = 8, iters: Int = 3,
                    tau: Double = 0.35): DataFrame = {
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val asg = assignCells(emb, kmeansCentroids(embeddings, nCells, iters))
      .localCheckpoint(true) // both join sides + census read ONE materialization
    val dropped = semanticDroppedFrom(asg, tau)
    asg.select("cell", "vec_id")
      .join(dropped.withColumn("is_dropped", lit(1L)), Seq("cell", "vec_id"), "left")
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n_vecs"),
        coalesce(sum("is_dropped"), lit(0L)).as("n_dropped"),
        (count(lit(1)) - coalesce(sum("is_dropped"), lit(0L))).as("n_kept"))
      .orderBy("cell")
  }

  /** The (cell, vec_id) DROP set of [[semanticDedup]]'s rule over an already
    * cell-assigned relation: a vector is dropped when a LOWER-id vector in
    * the SAME cell is cosine-similar at ≥ τ. Factored out so the cross-cell
    * miss rate is measurable (SemDeDupMissSpec): with nCells = 1 the rule
    * degenerates to the exact all-pairs answer, and the celled drop set is a
    * SUBSET of it by construction — pairs straddling a cell boundary are the
    * misses the k-vs-recall trade buys its Σ|cell|² pair-space reduction
    * with.
    */
  private[graft] def semanticDroppedFrom(asg: DataFrame, tau: Double): DataFrame = {
    val a = asg.select(col("cell"), col("vec_id").as("a_id"), col("e").as("ae"))
    val b = asg.select(col("cell"), col("vec_id").as("b_id"), col("e").as("be"))
    a.join(b, "cell")
      .filter(col("a_id") < col("b_id"))
      // threshold on the 6-decimal ROUNDED sim (q56's convention): both
      // engines then compare identical doubles at the τ boundary
      .filter(rd(cosineSim(col("ae"), col("be")), 6) >= tau)
      .select(col("cell"), col("b_id").as("vec_id"))
      .distinct()
  }

  /** Cell assignment for [[semanticDedup]] at a given k — exposed for the
    * miss-rate measurement. */
  private[graft] def semanticAssignment(embeddings: DataFrame, nCells: Int,
                                        iters: Int): DataFrame = {
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    assignCells(emb, kmeansCentroids(embeddings, nCells, iters))
  }

  /** MULTI-PROBE SemDeDup (q215) — the round-12 cross-cell rescue for
    * [[semanticDedup]]'s one quantified quality gap: pairs whose members
    * fall in different k-means cells are invisible to the single-cell rule
    * (measured 0.454 recall miss at τ = 0.35, `SemDeDupMissSpec`). Here
    * every vector joins its `nProbe` NEAREST cells (the IVF nProbe
    * discipline applied to the index side instead of the query side), so a
    * near-duplicate pair straddling a cell boundary is still compared
    * whenever either vector's second-nearest cell is the other's — which is
    * exactly the geometry of a boundary-straddling pair. The drop rule is
    * unchanged (lower id wins at rounded cosine ≥ τ, now over ANY shared
    * probed cell); the census keys on the PRIMARY (nearest) cell, so the
    * output shape is q90's.
    *
    * Scale shape: the paper's cell-bounded pairwise argument survives — the
    * pair space is Σ|probed cell|², i.e. nProbe²× the single-probe volume
    * with the same k-scaling lever, never a corpus cross join; the probed
    * assignment is one zero-shuffle broadcast pass (the assignCells shape
    * with a bounded slice-explode), checkpointed once and read by both join
    * sides and the census.
    */
  def semanticDedupMultiProbe(embeddings: DataFrame, nCells: Int = 8,
                              iters: Int = 3, tau: Double = 0.35,
                              nProbe: Int = 2): DataFrame = {
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val cents = kmeansCentroids(embeddings, nCells, iters)
    val multi = emb.crossJoin(broadcast(centsArray(cents)))
      .select(col("vec_id"), col("e"),
        posexplode(slice(cellRank(col("e"), col("cents")), 1, nProbe))
          .as(Seq("prk", "cc")))
      .select(col("vec_id"), col("e"), col("prk"), col("cc.cell").as("cell"))
      .localCheckpoint(true) // both pair sides + the census read ONE pass
    val a = multi.select(col("cell"), col("vec_id").as("a_id"), col("e").as("ae"))
    val b = multi.select(col("cell"), col("vec_id").as("b_id"), col("e").as("be"))
    // 6-decimal rounded sim at the τ boundary — the q90/q56 convention
    val dropped = a.join(b, "cell")
      .filter(col("a_id") < col("b_id"))
      .filter(rd(cosineSim(col("ae"), col("be")), 6) >= tau)
      .select(col("b_id").as("vec_id")).distinct()
    multi.filter(col("prk") === 0).select(col("cell"), col("vec_id"))
      .join(dropped.withColumn("is_dropped", lit(1L)), Seq("vec_id"), "left")
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n_vecs"),
        coalesce(sum("is_dropped"), lit(0L)).as("n_dropped"),
        (count(lit(1)) - coalesce(sum("is_dropped"), lit(0L))).as("n_kept"))
      .orderBy("cell")
  }

  /** The multi-probe DROP set alone (vec_id rows) over a probed assignment
    * — factored for the recall measurement in SemDeDupMissSpec. */
  private[graft] def multiProbeDropped(multi: DataFrame, tau: Double): DataFrame = {
    val a = multi.select(col("cell"), col("vec_id").as("a_id"), col("e").as("ae"))
    val b = multi.select(col("cell"), col("vec_id").as("b_id"), col("e").as("be"))
    a.join(b, "cell")
      .filter(col("a_id") < col("b_id"))
      .filter(rd(cosineSim(col("ae"), col("be")), 6) >= tau)
      .select(col("b_id").as("vec_id")).distinct()
  }

  /** Probed (cell, vec_id, e, prk) assignment at a given nProbe — exposed
    * for the recall measurement. */
  private[graft] def semanticAssignmentMulti(embeddings: DataFrame, nCells: Int,
                                             iters: Int, nProbe: Int): DataFrame = {
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    emb.crossJoin(broadcast(centsArray(kmeansCentroids(embeddings, nCells, iters))))
      .select(col("vec_id"), col("e"),
        posexplode(slice(cellRank(col("e"), col("cents")), 1, nProbe))
          .as(Seq("prk", "cc")))
      .select(col("vec_id"), col("e"), col("prk"), col("cc.cell").as("cell"))
  }

  /** ε-MARGIN probed assignment — probe every cell whose centroid
    * similarity is within `eps` of the nearest cell's (the adaptive
    * alternative to a fixed nProbe: boundary vectors probe more cells,
    * interior vectors just one). Measured round 13 (SCALING.md §SemDeDup
    * probe curve): at an EQUAL pair-space budget this is DOMINATED by the
    * fixed-nProbe rule on the registered corpus — ε = 0.1 costs the same
    * 4.0× pairs as nProbe = 2 but misses 0.1448 vs 0.1144, because at
    * τ = 0.35 the missed pairs are moderate-similarity pairs straddling
    * cells far from the boundary, where centroid-margin is a weak
    * predictor of pair loss. Kept as the measured-and-rejected variant
    * (the spec pins the dominance so the conclusion can't silently rot).
    */
  private[graft] def semanticAssignmentMargin(embeddings: DataFrame, nCells: Int,
                                              iters: Int, eps: Double): DataFrame = {
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val rk = cellRank(col("e"), col("cents"))
    emb.crossJoin(broadcast(centsArray(kmeansCentroids(embeddings, nCells, iters))))
      .select(col("vec_id"), col("e"),
        explode(filter(rk, c =>
          c.getField("csim") >= element_at(rk, 1).getField("csim") - lit(eps))).as("cc"))
      .select(col("vec_id"), col("e"), col("cc.cell").as("cell"))
  }

  /** q90's τ knob, pinned once for the durable family (the q242 oracle and
    * spec interpolate it — the q234/q237 knob discipline). */
  val SemDeDupTau = 0.35

  /** Knob tag shared by the q242/q244 chain and standing-MV names. τ is
    * INCLUDED (round-17 review): the standing state's baked-in base drop
    * flags depend on it, so a name without it would silently reuse a
    * τ=0.35 base under a caller's different τ — every knob that shapes the
    * persisted relation must shape its name. */
  private[graft] def semDedupTag(nCells: Int, iters: Int, tau: Double): String =
    f"${nCells}_${iters}_t${tau}%.4f".replace(".", "p").replace("-", "m")

  /** DURABLE INCREMENTAL SemDeDup (q242, round-17 — VERDICT r16 item 4, the
    * one open maintenance-matrix row): q90's within-cell semantic dedup
    * (Abbas et al. 2023, arXiv:2303.09540) maintained as arriving embedding
    * batches land in a standing cell-bucketed state through the
    * replay-idempotent chain ([[graft.sources.Tables.chainStep]] — the
    * q238/q240 discipline applied to the dedup state). The standing
    * relation holds (cell, vec_id, e, dropped) for EVERY vector — dropped
    * ones included, because q90's rule drops b whenever ANY lower-id a in
    * its cell is similar, dropped-or-not: survivors-only state would keep
    * the c of an a<b<c similarity chain whose (a,c) pair is below τ, and
    * the census would drift from the batch rule. Per batch:
    *   1. broadcast-assign the batch against the FIXED split-trained
    *      centroid MV (q237/q238's `ivf_cents_b90` — assignment never
    *      retrains);
    *   2. ONE standing×batch pair join per touched cell decides BOTH
    *      directions at once: a new vector with a similar lower-id standing
    *      partner arrives dropped, and a standing vector with a similar
    *      LOWER-id arrival (the held-out decile interleaves low ids) FLIPS
    *      to dropped — lower-id-wins preserved across batches;
    *   3. a batch×batch join settles same-batch pairs;
    *   4. the grown state republishes through the batchId-guarded chain (a
    *      replayed batch finds its own publish and skips).
    * Every final same-cell pair is examined exactly once — at base build,
    * in the batch containing both members, or when the later member
    * arrives — so the final state (hence the census) is IDENTICAL under
    * ANY batching of the delta; the oracle is therefore the batch rule
    * over the fully-assigned corpus (q90's SQL on the split-trained Lloyd
    * replay), and the spec replays a batch and re-batches the delta.
    *
    * Scale shape: the paper's cell-bounded pair argument survives
    * incrementally — per batch the pair space is |batch|·|touched cells|
    * (batch side BROADCAST into both pair joins), never standing², and a
    * standing vector is never re-paired against the standing set after its
    * own arrival batch; refresh cost is one standing scan + batch-sized
    * shuffles + the bucketed write-back, never ∝ history². Census: one
    * exchange-free hash aggregation over the bucketed latest publish.
    */
  def semanticDedupDurable(spark: SparkSession, dir: String,
                           nCells: Int = IvfNCells, iters: Int = IvfIters,
                           tau: Double = SemDeDupTau): DataFrame = {
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    val embAll = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val chain = s"semdedup_d90_${semDedupTag(nCells, iters, tau)}"
    // gate reset: replay the delta cycles from the pristine standing state
    graft.sources.Tables.resetChain(spark, src, chain)
    val inputs = semDedupChainInputs(spark, dir, nCells, iters, tau)
    // the held-out decile arrives as two batches (the q238/q240 split)
    Seq(0L, 1L).foreach { b =>
      applySemDedupBatch(spark, dir, chain, b,
        embAll.filter(col("vec_id") % 20 === lit(b * 10)), inputs, tau, nCells)
    }
    semDedupCensusOf(graft.sources.Tables.chainLatest(spark, src, chain,
        nCells, Seq("cell"), Seq("cell", "vec_id"))
      .getOrElse(sys.error("semantic dedup chain published nothing")))
  }

  /** The q90-shaped census over a (cell, vec_id, e, dropped) dedup state —
    * one exchange-free hash aggregate when the state reads back bucketed.
    * Shared by the batch (q242) and streaming (q244) maintenance gates. */
  private[graft] def semDedupCensusOf(state: DataFrame): DataFrame =
    state.groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        coalesce(sum(when(col("dropped"), 1L)), lit(0L)).as("n_dropped"))
      .select(col("cell"), col("n_vecs"), col("n_dropped"),
        (col("n_vecs") - col("n_dropped")).as("n_kept"))
      .orderBy("cell")

  /** Fixed inputs of the q242 chain — the split-trained centroid MV
    * (shared with q237/q238/q240) and the pristine standing dedup state:
    * base-split vectors assigned to cells with the base-pair drop flags,
    * cell-bucketed. Resolved once per gate run (the [[int8ChainInputs]]
    * discipline). */
  private[graft] def semDedupChainInputs(s: SparkSession, dir: String,
                                         nCells: Int = IvfNCells,
                                         iters: Int = IvfIters,
                                         tau: Double = SemDeDupTau)
      : (DataFrame, java.nio.file.Path) = {
    val cents = ivfCentsMv(s, dir, nCells, iters)
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    val path = graft.sources.Tables.bucketedMvPath(s, src,
      s"semdedup_b90_${semDedupTag(nCells, iters, tau)}", nCells, Seq("cell"),
      Seq("cell", "vec_id")) {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .filter(col("vec_id") % 10 =!= 0)
      val asg = assignCells(base, cents)
        .select(col("cell"), col("vec_id"), col("e")).localCheckpoint(true)
      asg.join(broadcast(semanticDroppedFrom(asg, tau)
          .withColumn("fl", lit(true))), Seq("cell", "vec_id"), "left")
        .select(col("cell"), col("vec_id"), col("e"),
          coalesce(col("fl"), lit(false)).as("dropped"))
    }
    (cents, path)
  }

  /** One replay-idempotent step of the q242 semantic-dedup chain — the
    * loop body of the batch gate (and the foreachBatch body of a streaming
    * twin), factored so the spec can replay a batchId directly. The pair
    * hits are τ-filtered BEFORE the two direction splits (one
    * localCheckpoint pins the single standing scan); flip/drop sets are
    * batch-bounded, so both state joins broadcast them. */
  private[graft] def applySemDedupBatch(s: SparkSession, dir: String,
                                        chain: String, batchId: Long,
                                        batch: DataFrame,
                                        inputs: (DataFrame, java.nio.file.Path),
                                        tau: Double = SemDeDupTau,
                                        nCells: Int = IvfNCells): Unit = {
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    val (cents, standingPath) = inputs
    graft.sources.Tables.chainStep(s, src, chain, batchId, nCells,
      Seq("cell"), Seq("cell", "vec_id")) { prev =>
      val standing = prev.getOrElse(s.read.parquet(standingPath.toString))
      val asgB = assignCells(batch, cents)
        .select(col("cell"), col("vec_id"), col("e")).localCheckpoint(true)
      val bSide = asgB.select(col("cell"), col("vec_id").as("b_id"),
        col("e").as("be"))
      // ONE standing scan pays for both pair directions
      val cross = standing
        .select(col("cell"), col("vec_id").as("o_id"), col("e").as("oe"))
        .join(broadcast(bSide), "cell")
        .filter(rd(cosineSim(col("oe"), col("be")), 6) >= tau)
        .select(col("cell"), col("o_id"), col("b_id"))
        .localCheckpoint(true)
      // same-batch pairs: lower id wins within the arriving batch too
      val bb = asgB.select(col("cell"), col("vec_id").as("a_id"),
          col("e").as("ae"))
        .join(broadcast(bSide), "cell")
        .filter(col("a_id") < col("b_id"))
        .filter(rd(cosineSim(col("ae"), col("be")), 6) >= tau)
        .select(col("cell"), col("b_id").as("vec_id"))
      val arrivedDropped = cross.filter(col("o_id") < col("b_id"))
        .select(col("cell"), col("b_id").as("vec_id"))
        .union(bb).distinct()
      val flipped = cross.filter(col("b_id") < col("o_id"))
        .select(col("cell"), col("o_id").as("vec_id")).distinct()
      val grownStanding = standing
        .join(broadcast(flipped.withColumn("fl", lit(true))),
          Seq("cell", "vec_id"), "left")
        .select(col("cell"), col("vec_id"), col("e"),
          (col("dropped") || coalesce(col("fl"), lit(false))).as("dropped"))
      val arrived = asgB
        .join(broadcast(arrivedDropped.withColumn("fl", lit(true))),
          Seq("cell", "vec_id"), "left")
        .select(col("cell"), col("vec_id"), col("e"),
          coalesce(col("fl"), lit(false)).as("dropped"))
      grownStanding.union(arrived)
    }
  }

  /** CELL SILHOUETTE (q229) — a pair-free clustering-quality score for the
    * SemDeDup / IVF cell structure the ANN and semantic-dedup family rests
    * on: the SIMPLIFIED silhouette (Hruschka et al.'s centroid variant of
    * Rousseeuw 1987), where a vector's cohesion `a` is its cosine DISTANCE
    * to its own centroid and its separation `b` the distance to the nearest
    * OTHER centroid — s = (b − a) / max(a, b) ∈ [−1, 1], rolled up per
    * cell. Low mean-silhouette cells are exactly where q215's boundary
    * misses live (the probe-curve finding), so this is the knob-tuning
    * diagnostic for k and nProbe: classical silhouette is O(n²) pairwise
    * and impossible at corpus scale, while the centroid variant is one
    * zero-shuffle ranked pass over the same broadcast centroid array the
    * assignment itself uses (ranks 1 and 2 of [[cellRank]] ARE (a, b)).
    *
    * Determinism contract: ranking uses RAW similarities (the assignment's
    * own order), the silhouette arithmetic uses 6-decimal ROUNDED
    * similarities, and the per-cell mean/min/max round again at 6 — the
    * q90/q73 convention, so both engines agree at every boundary.
    *
    * Scale shape: one broadcast-centroid projection over the corpus (never
    * an exchange — the assignCells plan shape), one hash aggregate to k
    * rows. The Lloyd training cost is [[kmeansCentroids]]'s, shared with
    * q90 and amortizable via the persisted-centroid discipline (q125).
    */
  def cellSilhouette(embeddings: DataFrame, nCells: Int = 8,
                     iters: Int = 3): DataFrame = {
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val cents = kmeansCentroids(embeddings, nCells, iters)
    val top2 = emb.crossJoin(broadcast(centsArray(cents)))
      .select(col("vec_id"),
        slice(cellRank(col("e"), col("cents")), 1, 2).as("t"))
      .select(col("vec_id"),
        element_at(col("t"), 1).getField("cell").as("cell"),
        rd(element_at(col("t"), 1).getField("csim"), 6).as("s1"),
        // try_: a single-centroid run (k = 1) has no rank-2 entry — NULL
        // silhouette, not an ANSI out-of-bounds error
        rd(try_element_at(col("t"), lit(2)).getField("csim"), 6).as("s2"))
    // a = 1 − s1 (own-centroid distance), b = 1 − s2 (nearest other);
    // (b − a)/max(a, b) = (s1 − s2)/max(1 − s1, 1 − s2); a vector sitting
    // exactly ON both centroids (max = 0) has no defined silhouette → NULL,
    // excluded from the cell mean by both engines' avg semantics
    val sil = top2.select(col("cell"),
      rd((col("s1") - col("s2")) /
        nullIfZero(greatest(lit(1.0) - col("s1"), lit(1.0) - col("s2"))), 6)
        .as("sil"))
    sil.groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        rd(avg("sil"), 6).as("mean_sil"),
        rd(min("sil"), 6).as("min_sil"),
        rd(max("sil"), 6).as("max_sil"))
      .orderBy("cell")
  }

  /** EMBEDDING-DRIFT / CENTROID-STABILITY MONITOR (q234) — the q196 PSI
    * discipline applied to embedding space (round-14, VERDICT r13 item 8:
    * the remaining observability corner): a deployment re-embedding its
    * corpus (new encoder version, new crawl slice) needs to know whether a
    * label's embedding DISTRIBUTION moved before any downstream index
    * (IVF cells, SemDeDup centroids, kNN graphs) is trusted. Reference vs
    * current windows split deterministically on vec_id (the CDC-grain
    * stand-in for "the previous snapshot vs this one"); per label the
    * monitor reports
    *   - `centroid_cos`: cosine between the windows' 6-decimal-rounded
    *     centroids — the first-moment drift;
    *   - `psi`: the q196 Population Stability Index over each vector's
    *     cosine to the ROUNDED reference centroid, binned fixed-width on
    *     [-1, 1] (q163 discipline — no cross-engine quantile cut points),
    *     Laplace-smoothed, with q196's exact ln/fold rounding contract —
    *     the distribution-shape drift the centroid alone cannot see (a
    *     variance blow-up has centroid_cos ≈ 1 and a hot PSI).
    *
    * Scale shape: one scan → (label, pos) centroid aggregate (labels×dims
    * rows) + one scan → per-vector cosine against the BROADCAST label
    * centroids → (label, bin) hash aggregate; the grid, shares, and fold
    * live on the bounded labels×bins relation. Nothing downstream of the
    * first aggregates scales with corpus size — the exact q196 shape with
    * labels for event types and cosine for value.
    */
  /** The q234 knobs, pinned ONCE (ADVICE r14): the registered gate and its
    * oracle SQL both interpolate these, so a knob change can never silently
    * break engine/oracle parity. */
  val DriftSplitMod: Long = 10L
  val DriftNBins: Int = 20

  def centroidDriftMonitor(emb: DataFrame, splitMod: Long = DriftSplitMod,
                           nBins: Int = DriftNBins): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    val tagged = emb.select(col("vec_id"),
      col("label").cast("long").as("label"),
      col("embedding").cast("array<double>").as("e"),
      (col("vec_id") % splitMod =!= 0).as("is_ref"))
    val cents = tagged
      .select(col("label"), col("is_ref"), posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy("label", "is_ref", "pos").agg(rd(avg(col("v")), 6).as("c"))
      .groupBy("label", "is_ref")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label"), col("is_ref"),
        transform(col("pc"), x => x.getField("c")).as("cvec"))
    val centRef = cents.filter(col("is_ref"))
      .select(col("label"), col("cvec").as("cref"))
    val centCur = cents.filter(!col("is_ref"))
      .select(col("label"), col("cvec").as("ccur"))
    val drift = centRef.join(centCur, "label")
      .select(col("label"), rd(cosineSim(col("cref"), col("ccur")), 6).as("centroid_cos"))
    // per-vector first-moment coordinate: cosine to the label's ROUNDED
    // reference centroid (rounded so the bin assignment is engine-portable)
    val binned = tagged.join(broadcast(centRef), "label")
      .select(col("label"), col("is_ref"),
        greatest(least(floor((rd(cosineSim(col("e"), col("cref")), 6) + 1.0)
          * (nBins / 2.0)), lit(nBins - 1L)), lit(0L)).cast("long").as("bin"))
    val counts = binned.groupBy("label", "bin")
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("n_cur"))
    val grid = binned.select("label").distinct()
      .withColumn("bin", explode(sequence(lit(0L), lit(nBins - 1L))))
    val dense = grid.join(counts, Seq("label", "bin"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
    val wL = Window.partitionBy("label")
    val half = nBins / 2.0
    val psi = dense
      .withColumn("t_ref", sum(col("n_ref")).over(wL))
      .withColumn("t_cur", sum(col("n_cur")).over(wL))
      .withColumn("p", (col("n_ref") + lit(0.5)) / (col("t_ref") + lit(half)))
      .withColumn("q", (col("n_cur") + lit(0.5)) / (col("t_cur") + lit(half)))
      .withColumn("term",
        round((col("p") - col("q")) * rd(log(col("p") / col("q")), 6), 9).cast(dec))
      .groupBy("label")
      .agg(max(col("t_ref")).as("n_ref"), max(col("t_cur")).as("n_cur"),
        rd(sum(col("term")).cast("double"), 6).as("psi"))
    psi.join(drift, "label")
      .select(col("label"), col("n_ref"), col("n_cur"),
        col("centroid_cos"), col("psi"))
      .orderBy("label")
  }

  /** Product-quantized kNN (q205) — Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search" (TPAMI 2011): the vector is
    * split into `m` subvectors, each quantized against its OWN small
    * codebook (same md5-seeded, 6-decimal-quantized Lloyd contract as the
    * q73 coarse quantizer, trained on the sliced relation), so a 64-dim
    * float vector compresses to `m` one-byte codes. Queries score by
    * ASYMMETRIC DISTANCE COMPUTATION: per (query, subspace, code) partial
    * dot products and per (subspace, code) codeword norms are tiny lookup
    * tables; a candidate's approximate cosine is
    *
    *   sim(q, x) ≈ Σ_s dot(q_s, c[s, code_s(x)])
    *               / (|q| · sqrt(Σ_s |c[s, code_s(x)]|²))
    *
    * — m table lookups per candidate, never the full-dimension float math.
    *
    * Cross-engine exactness: subspace dots are single [[vecDot]] folds
    * (== DuckDB's list_dot_product, element order fixed); the cross-subspace
    * sums are stated as the SAME left-associated m-term expression on both
    * engines, so every score is bit-identical and the (sim DESC, id) ranking
    * needs no rounding contract.
    *
    * The coarse ADC ranking keeps `rescoreFactor·k` candidates per query,
    * which are then rescored with EXACT cosine against their full float
    * vectors (the standard two-stage PQ pipeline — the q125 discipline):
    * only rescoreFactor·k full vectors per query ever leave the index.
    *
    * Scale shape: codebooks are m×k×(d/m) — broadcast; encoding is m
    * zero-shuffle assignCells passes over the sliced corpus; the PQ index
    * is m small ints per vector (the 32× memory lever at this config that
    * lets a billion-vector index fit a cluster); scoring joins the index
    * against broadcast lookup tables and both ranking stages run through
    * the k-heap aggregate.
    */
  def pqKnn(embeddings: DataFrame, m: Int = 8, nCodes: Int = 16, iters: Int = 2,
            nQueries: Int = 5, k: Int = 5, rescoreFactor: Int = 20,
            dim: Int = 64): DataFrame =
    pqKnnWithCodebooks(embeddings, pqTrainCodebooks(embeddings, m, nCodes, iters, dim),
      m, nQueries, k, rescoreFactor, dim)

  /** Train the m per-subspace PQ codebooks as ONE (sub, cell, cvec) relation
    * — the same md5-seeded, 6-decimal-quantized Lloyd contract as the coarse
    * quantizer, run on each sliced subvector relation. The expensive part of
    * PQ (m × iters corpus scans) lives entirely here; everything downstream
    * is broadcast-lookup work.
    */
  def pqTrainCodebooks(embeddings: DataFrame, m: Int = 8, nCodes: Int = 16,
                       iters: Int = 2, dim: Int = 64): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val sub = dim / m
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    (0 until m).map { s =>
      val sliced = emb.select(col("vec_id"),
        slice(col("e"), s * sub + 1, sub).as("embedding"))
      kmeansCentroids(sliced, nCodes, iters).select(
        lit(s).as("sub"), col("cell"), col("cvec"))
    }.reduce(_ unionAll _)
  }

  /** Train-once/probe-many codebook MV for the registered q205: Lloyd runs
    * once per (embeddings file set, params) and lands in parquet; every
    * later call — bench timed passes included — pays only the encode + ADC
    * + rescore floor.
    */
  def pqCodebooksMV(spark: SparkSession, dir: String, m: Int = 8,
                    nCodes: Int = 16, iters: Int = 2, dim: Int = 64): DataFrame =
    graft.sources.Tables.fingerprintedMv(spark,
      java.nio.file.Paths.get(dir, "embeddings.parquet"),
      s"pq_books_${m}_${nCodes}_${iters}_$dim")(
      pqTrainCodebooks(Tables.embeddings(spark, dir), m, nCodes, iters, dim))
      .select(col("sub"), col("cell"), col("cvec"))

  /** Probe a PQ index whose codebooks came from anywhere (freshly trained
    * or the MV): encode the corpus against the books,
    * then ADC-rank + exact-cosine rescore.
    */
  def pqKnnWithCodebooks(embeddings: DataFrame, books: DataFrame, m: Int = 8,
                         nQueries: Int = 5, k: Int = 5, rescoreFactor: Int = 20,
                         dim: Int = 64): DataFrame = {
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    pqAdcProbe(emb, books, pqEncode(emb, books, m, dim), m, nQueries, k,
      rescoreFactor, dim)
  }

  /** Encode a (vec_id, e) relation into the LONG PQ code table
    * (vec_id, sub, code) — m small ints per vector — against supplied
    * books: ONE zero-shuffle pass (r20) with all m per-subspace codebooks
    * on a single-row broadcast, each vector emitting its m codes from one
    * projection (the per-subspace cellRank argmax unchanged). Factored out
    * of [[pqKnnWithCodebooks]] (round-18) so the durable chain (q245)
    * encodes arriving batches with the identical assignment the static
    * probe uses. */
  private[graft] def pqEncode(emb: DataFrame, books: DataFrame, m: Int,
                              dim: Int): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val sub = dim / m
    // r20 (guide §1.2 — remove unnecessary passes): the old form ran one
    // assignCells branch PER SUBSPACE and unioned them — m scans of the
    // batch and m broadcast builds per encode (q245's job profile was
    // dominated by dozens of small broadcast-build jobs). One pass now:
    // the m per-subspace codebooks ride ONE single-row broadcast (outer
    // array indexed by sub), and each vector emits its m (sub, code) rows
    // from one projection. The per-subspace argmax is the IDENTICAL
    // cellRank expression over the identical cell-sorted book array, so
    // every assignment — including ties and zero-norm ordering — is
    // unchanged (spec + oracle pinned).
    val subBooks = books
      .groupBy("sub")
      .agg(array_sort(collect_list(struct(col("cell"), col("cvec")))).as("cents"))
      .agg(array_sort(collect_list(struct(col("sub"), col("cents")))).as("subBooks"))
    emb.crossJoin(broadcast(subBooks))
      .select(col("vec_id"),
        explode(transform(sequence(lit(0), lit(m - 1)), s =>
          struct(s.as("sub"),
            element_at(cellRank(slice(col("e"), s * lit(sub) + lit(1), lit(sub)),
                element_at(col("subBooks"), s + lit(1)).getField("cents")), 1)
              .getField("cell").as("code")))).as("sc"))
      .select(col("vec_id"), col("sc.sub").as("sub"), col("sc.code").as("code"))
  }

  /** ADC probe over a supplied (vec_id, sub, code) PQ code table: one
    * broadcast lookup-table join, the deterministic left-associated m-term
    * score, k-heap coarse cut, exact-cosine rescore. The code table can be
    * freshly encoded ([[pqKnnWithCodebooks]]) or a durable chain publish
    * (q245's [[pqChainProbe]]) — the ranking semantics are identical, so
    * both share the Lloyd-replay oracle family. */
  private[graft] def pqAdcProbe(emb: DataFrame, books: DataFrame,
                                index: DataFrame, m: Int, nQueries: Int,
                                k: Int, rescoreFactor: Int,
                                dim: Int): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val sub = dim / m

    // queries: ONE lookup table (q × m × nCodes rows — broadcast)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
      .withColumn("qnorm", sqrt(vecDot(col("qe"), col("qe"))))
    // r20 (same one-pass rewrite as pqEncode): the old form built the LUT
    // from m crossJoin branches — m broadcast builds and m pushed-filter
    // scans of the query vectors. One flat (sub, cell, cvec) array rides a
    // single-row broadcast; each query emits its m·nCodes LUT rows from one
    // projection with the identical per-term dot products.
    val flatBooks = books
      .agg(array_sort(collect_list(struct(col("sub"), col("cell"), col("cvec"))))
        .as("bk"))
    val lut = queries.select(col("q_id"), col("qe"))
      .crossJoin(broadcast(flatBooks))
      .select(col("q_id"),
        explode(transform(col("bk"), b =>
          struct(b.getField("sub").as("sub"), b.getField("cell").as("code"),
            vecDot(slice(col("qe"), b.getField("sub") * lit(sub) + lit(1), lit(sub)),
              b.getField("cvec")).as("d"),
            vecDot(b.getField("cvec"), b.getField("cvec")).as("sq")))).as("lt"))
      .select(col("q_id"), col("lt.sub").as("sub"), col("lt.code").as("code"),
        col("lt.d").as("d"), col("lt.sq").as("sq"))

    // ADC: one broadcast lookup join over the long index, then a
    // deterministic LEFT-ASSOCIATED fold over the sub-ordered terms — the
    // identical m-term expression on both engines, so no rounding contract
    val scored = index
      .join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(array_sort(collect_list(struct(col("sub"), col("d"), col("sq")))).as("terms"))
      .join(broadcast(queries.select(col("q_id"), col("qnorm"))), "q_id")
      .withColumn("sim", {
        def chain(f: String) = (0 until m)
          .map(s => element_at(col("terms"), s + 1).getField(f)).reduce(_ + _)
        chain("d") / nullIfZero(col("qnorm") * sqrt(chain("sq")))
      })
    val coarse = scored.groupBy("q_id")
      .agg(graft.functions.TopKByScore.topK(col("sim"), col("vec_id"),
        rescoreFactor * k).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("vec_id"))
    // exact-cosine rescore of the surviving candidates only
    coarse
      .join(emb.select(col("vec_id"), col("e").as("ce")), "vec_id")
      .join(broadcast(queries.select(col("q_id"), col("qe"))), "q_id")
      .withColumn("xsim", cosineSim(col("qe"), col("ce")))
      .groupBy("q_id")
      .agg(graft.functions.TopKByScore.topK(col("xsim"), col("vec_id"), k).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.rk").as("rk"), col("t.id").as("neighbor_id"),
        rd(col("t.score"), 6).as("sim"))
      .orderBy("q_id", "rk")
  }

  /** PQ knobs pinned ONCE for the durable family (the q234/q237 knob
    * discipline): q245's gate, its DuckDB oracle CTEs, and the recall spec
    * all interpolate these same vals. q205 keeps its parameter defaults
    * (same values) for API compatibility. */
  val PqM = 8
  val PqNCodes = 16
  val PqIters = 2
  val PqNQueries = 5
  val PqK = 5
  val PqRescoreFactor = 20
  val PqDim = 64
  /** Code-table chain bucket count — vec_id-bucketed (the write-back/union
    * layout key; the ADC probe itself joins on (sub, code) against a
    * broadcast LUT, so no layout helps it). */
  val PqNBuckets = 8

  /** DURABLE INCREMENTAL PQ (q245, round-18 — VERDICT r17 item 4: the one
    * ANN-maintenance-matrix cell the IVF family got and PQ didn't): q205's
    * product-quantization index maintained as arriving embedding batches
    * land in a standing CODE TABLE through the replay-idempotent chain.
    * The q238 centroid discipline applied to codebooks: the m per-subspace
    * books are trained ONCE on the base split (vec_id % 10 <> 0) and never
    * retrained — arriving vectors are ENCODED against those fixed books
    * (m broadcast assignCells passes, zero shuffle) and unioned into the
    * standing (vec_id, sub, code) table via the batchId-guarded
    * [[graft.sources.Tables.chainStep]], so an at-least-once redelivery
    * finds its own publish and can never land a vector's codes twice. The
    * probe is q205's ADC + exact-rescore over the LATEST publish — the
    * resident index is m bytes per vector (the 32× memory lever), and the
    * float corpus is read only for the rescoreFactor·k survivors.
    *
    * Encoding is per-vector, so the chain state — and therefore the probe —
    * is identical under ANY batching of the delta (the q240 argument);
    * fully oracled: per-subspace split-trained Lloyd replays, the code
    * assignment, the ADC lookup tables, and the left-associated m-term
    * score are all portable SQL (`SimilarityQueries.pqOracleSql`).
    *
    * CODEBOOK-DRIFT POLICY (the q234 discipline applied to quantization):
    * fixed books quantize DRIFTED arrivals with growing reconstruction
    * error — silently degrading ADC ranking long before anything fails.
    * Production watches [[pqCodebookDrift]] per refresh: the mean exact
    * reconstruction cosine of each batch's vectors vs the BASE split's
    * own figure. Retrain (republish books under a new fingerprint, re-encode
    * the corpus — a full rebuild, amortized over many refreshes) when the
    * arrivals' figure drops materially below the base's; recall floors for
    * the undrifted case are pinned in AnnRecallSpec.
    *
    * Scale shape: refresh cost ∝ batch (m broadcast assigns) + the
    * code-table write-back (m bytes/vector — 16× smaller than the int8
    * chain's, 64× smaller than a float republish); probe cost is one
    * broadcast-LUT join over the code table + survivor-sized float reads.
    */
  def pqDurableRefresh(spark: SparkSession, dir: String,
                       m: Int = PqM, nCodes: Int = PqNCodes,
                       iters: Int = PqIters, nQueries: Int = PqNQueries,
                       k: Int = PqK, rescoreFactor: Int = PqRescoreFactor,
                       dim: Int = PqDim): DataFrame = {
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    val embAll = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val chain = s"pq_codes_s90_${m}_${nCodes}_${iters}_$dim"
    graft.sources.Tables.resetChain(spark, src, chain)
    val inputs = pqChainInputs(spark, dir, m, nCodes, iters, dim)
    // the held-out decile arrives as two batches (the q238/q240 split)
    Seq(0L, 1L).foreach { b =>
      applyPqBatch(spark, dir, chain, b,
        embAll.filter(col("vec_id") % 20 === lit(b * 10)), inputs, m, dim)
    }
    pqChainProbe(spark, dir, chain, m, nQueries, k, rescoreFactor, dim,
      nCodes, iters)
  }

  /** The m per-subspace codebooks trained on the BASE split only —
    * the q238 `ivf_cents_b90` discipline applied to PQ (quantized Lloyd
    * means round-trip parquet bit-exactly, so the MV read-back probes
    * identically to the in-session relation). */
  private def pqSplitBooksMv(spark: SparkSession, dir: String, m: Int,
                             nCodes: Int, iters: Int, dim: Int): DataFrame = {
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    graft.sources.Tables.fingerprintedMv(spark, src,
      s"pq_books_s90_${m}_${nCodes}_${iters}_$dim")(
      pqTrainCodebooks(
        Tables.embeddings(spark, dir).filter(col("vec_id") % 10 =!= 0),
        m, nCodes, iters, dim))
      .select(col("sub"), col("cell"), col("cvec"))
  }

  /** The pristine standing code table (base split encoded against the
    * split-trained books), vec_id-bucketed — built once per corpus, never
    * mutated: maintenance chains publish grown steps under their own
    * names. */
  private def pqStandingCodesPath(spark: SparkSession, dir: String,
                                  books: DataFrame, m: Int, nCodes: Int,
                                  iters: Int, dim: Int): java.nio.file.Path = {
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    graft.sources.Tables.bucketedMvPath(spark, src,
      s"pq_codes_b90_${m}_${nCodes}_${iters}_$dim", PqNBuckets,
      Seq("vec_id"), Seq("vec_id", "sub")) {
      pqEncode(Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        .filter(col("vec_id") % 10 =!= 0), books, m, dim)
    }
  }

  /** Fixed inputs of the q245 chain — the split-trained books MV and the
    * pristine standing code table. Resolved ONCE per gate run (the
    * [[int8ChainInputs]] discipline). */
  private[graft] def pqChainInputs(s: SparkSession, dir: String,
                                   m: Int = PqM, nCodes: Int = PqNCodes,
                                   iters: Int = PqIters, dim: Int = PqDim)
      : (DataFrame, java.nio.file.Path) = {
    val books = pqSplitBooksMv(s, dir, m, nCodes, iters, dim)
    (books, pqStandingCodesPath(s, dir, books, m, nCodes, iters, dim))
  }

  /** One replay-idempotent step of the q245 PQ code-table chain — the loop
    * body of the batch gate (and the foreachBatch body of a streaming
    * twin), factored so the spec can replay a batchId directly. Encoding
    * is per-vector, so union-form growth is batching-invariant. */
  private[graft] def applyPqBatch(s: SparkSession, dir: String,
                                  chain: String, batchId: Long,
                                  batch: DataFrame,
                                  inputs: (DataFrame, java.nio.file.Path),
                                  m: Int = PqM, dim: Int = PqDim): Unit = {
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    val (books, standingPath) = inputs
    graft.sources.Tables.chainStep(s, src, chain, batchId, PqNBuckets,
      Seq("vec_id"), Seq("vec_id", "sub")) { prev =>
      val standing = prev.getOrElse(s.read.parquet(standingPath.toString))
      standing.select(col("vec_id"), col("sub"), col("code"))
        .union(pqEncode(batch, books, m, dim))
    }
  }

  /** q205's ADC + exact-rescore probe over the LATEST publish of a q245
    * code-table chain: the durable index is the only code source — no
    * re-encode, no per-call delta job. */
  private[graft] def pqChainProbe(spark: SparkSession, dir: String,
                                  chain: String, m: Int = PqM,
                                  nQueries: Int = PqNQueries, k: Int = PqK,
                                  rescoreFactor: Int = PqRescoreFactor,
                                  dim: Int = PqDim, nCodes: Int = PqNCodes,
                                  iters: Int = PqIters): DataFrame = {
    val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
    val embAll = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val books = pqSplitBooksMv(spark, dir, m, nCodes, iters, dim)
    val index = graft.sources.Tables.chainLatest(spark, src, chain,
        PqNBuckets, Seq("vec_id"), Seq("vec_id", "sub"))
      .getOrElse(sys.error(s"PQ chain $chain published nothing"))
      .select(col("vec_id"), col("sub"), col("code"))
    pqAdcProbe(embAll, books, index, m, nQueries, k, rescoreFactor, dim)
  }

  /** EMBEDDING-BASED BENCHMARK DECONTAMINATION (q246, round-18 — VERDICT
    * r17 item 5): q222/q235 cut exact n-gram overlap with eval sets, but a
    * paraphrased or reformatted eval item shares no 8-gram with its leaked
    * twin — real pipelines ALSO drop semantic near-matches. Each benchmark
    * vector (the eval set's embeddings — source-tagged via the aligned
    * documents table, the q128 id convention) probes its `nProbe` nearest
    * cells of the SAME split-trained centroid space the q238 index family
    * uses — never brute force — and every corpus vector in a probed cell
    * with rounded cosine ≥ τ is flagged: (vec_id, n_bench_hits, max_sim),
    * the audit relation a pipeline anti-joins its corpus against.
    *
    * Determinism contract: assignment uses RAW similarities (the
    * assignCells order), the τ cut and max_sim use 6-decimal ROUNDED
    * cosines — the q90 convention, which is what makes this
    * SQL-expressible and hash-oracled.
    *
    * Scale shape: one broadcast-centroid assignment pass over the corpus
    * (zero exchange), the probe join is benchmark-sized BROADCAST against
    * the cell-partitioned corpus (the q230 "benchmark MV is the small
    * side" argument with cells instead of shingles) — pair space is
    * |bench|·nProbe·|cell|, never |bench|·|corpus|; one hash aggregate to
    * the flagged set. Overlap with the n-gram cut is measured in
    * DEDUP_QUALITY.md §semantic-decontam.
    */
  def semanticDecontam(spark: SparkSession, dir: String,
                       benchSource: String = "src0",
                       tau: Double = SemDeDupTau,
                       nProbe: Int = IvfNProbe, nCells: Int = IvfNCells,
                       iters: Int = IvfIters): DataFrame = {
    val inputs = semDecontamInputs(spark, dir, benchSource, tau, nProbe,
      nCells, iters)
    semanticDecontamBatch(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e")),
      inputs)
      .orderBy("vec_id")
  }

  /** The corpus-level standing inputs of the semantic-decontam probe —
    * shared by batch q246 and the streaming twin (q247), resolved once per
    * gate run (the [[int8ChainInputs]] discipline). All three are
    * benchmark- or centroid-sized, hence broadcastable at any corpus
    * scale: the fixed centroid MV, the benchmark PROBE relation (each eval
    * vector with its nProbe nearest cells — localCheckpointed so the Lloyd
    * lineage is paid once), and the benchmark id set (membership is
    * decided by a bench-sized anti-join, never a corpus-documents join —
    * an embedding with no aligned document row is corpus by definition). */
  private[graft] case class SemDecontamInputs(cents: DataFrame,
                                              benchProbes: DataFrame,
                                              benchIds: DataFrame,
                                              tau: Double)
  private[graft] def semDecontamInputs(spark: SparkSession, dir: String,
                                       benchSource: String = "src0",
                                       tau: Double = SemDeDupTau,
                                       nProbe: Int = IvfNProbe,
                                       nCells: Int = IvfNCells,
                                       iters: Int = IvfIters)
      : SemDecontamInputs = {
    val cents = ivfCentsMv(spark, dir, nCells, iters)
    val benchIds = Tables.documents(spark, dir)
      .filter(col("source") === benchSource)
      .select(col("doc_id").as("vec_id")).localCheckpoint(true)
    val rk = cellRank(col("e"), col("cents"))
    val benchProbes = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .join(broadcast(benchIds), "vec_id")
      .crossJoin(broadcast(centsArray(cents)))
      .select(col("vec_id").as("b_id"), col("e").as("be"),
        explode(slice(rk, 1, nProbe)).as("cc"))
      .select(col("b_id"), col("be"), col("cc.cell").as("cell"))
      .localCheckpoint(true)
    SemDecontamInputs(cents, benchProbes, benchIds, tau)
  }

  /** Flag one (vec_id, e) relation against the standing benchmark probe
    * set — the whole q246 computation for a batch, and the foreachBatch
    * body of q247: drop benchmark rows (bench-sized anti-join), assign to
    * cells (broadcast centroids, zero shuffle), one broadcast cell
    * equi-join against the probe relation, τ cut on rounded cosine, hash
    * aggregate to (vec_id, n_bench_hits, max_sim). Per-vector given the
    * standing inputs — hence batching-invariant, which is why the stream
    * twin shares q246's oracle verbatim. */
  private[graft] def semanticDecontamBatch(batch: DataFrame,
                                           inputs: SemDecontamInputs)
      : DataFrame = {
    val corpus = assignCells(
      batch.join(broadcast(inputs.benchIds), Seq("vec_id"), "left_anti"),
      inputs.cents)
      .select(col("cell"), col("vec_id"), col("e"))
    corpus.join(broadcast(inputs.benchProbes), "cell")
      .select(col("vec_id"), col("b_id"),
        rd(cosineSim(col("e"), col("be")), 6).as("sim"))
      .filter(col("sim") >= inputs.tau)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_bench_hits"),
        rd(max(col("sim")), 6).as("max_sim"))
  }

  /** CODEBOOK-DRIFT DIAGNOSTIC for the q245 fixed-books policy (the q234
    * centroid-stability discipline applied to quantization error): per
    * split — the base the books were trained on vs the arrivals encoded
    * against them — the mean/min 6-decimal-rounded cosine between each
    * vector and its PQ RECONSTRUCTION (the concatenation of its m assigned
    * codewords). A healthy refresh keeps `mean_recon` of arrivals at the
    * base's level; a material drop means the arrivals' distribution moved
    * and the books no longer tile it — time to retrain (new books MV
    * fingerprint + corpus re-encode). One broadcast-books pass over the
    * corpus, one hash aggregate to 2 rows — runnable every refresh:
    * production passes the STANDING books MV via `booksOpt` (training is
    * the expensive part and is exactly what this monitor must NOT redo);
    * the None default trains split-books inline for self-contained
    * diagnostics and specs.
    *
    * ADVICE r18: `isArrival` — the base-vs-arrival labeling — is a
    * PARAMETER tied to the predicate that scoped the books' training split
    * (inline training filters on `!isArrival`), so a caller supplying
    * books trained under a different split convention passes the matching
    * predicate and the split labeling always reflects which rows the
    * supplied books were actually trained on. Default: the engine-wide
    * `vec_id % 10 === 0` held-out-decile convention.
    */
  def pqCodebookDrift(embeddings: DataFrame, m: Int = PqM,
                      nCodes: Int = PqNCodes, iters: Int = PqIters,
                      dim: Int = PqDim,
                      booksOpt: Option[DataFrame] = None,
                      isArrival: org.apache.spark.sql.Column =
                        col("vec_id") % 10 === 0): DataFrame = {
    val emb = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val books = booksOpt.getOrElse(pqTrainCodebooks(
      embeddings.filter(!isArrival), m, nCodes, iters, dim))
    // reconstruction = sub-ordered concat of assigned codewords
    val recon = pqEncode(emb, books, m, dim)
      .join(broadcast(books.withColumnRenamed("cell", "code")), Seq("sub", "code"))
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("sub"), col("cvec")))).as("parts"))
      .select(col("vec_id"),
        flatten(transform(col("parts"), p => p.getField("cvec"))).as("rv"))
    emb.join(recon, "vec_id")
      .select(col("vec_id"), isArrival.as("is_arrival"),
        rd(cosineSim(col("e"), col("rv")), 6).as("rc"))
      .groupBy("is_arrival")
      .agg(count(lit(1)).as("n_vecs"), rd(avg("rc"), 6).as("mean_recon"),
        rd(min("rc"), 6).as("min_recon"))
      .orderBy("is_arrival")
  }
}
