package graft.queries

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Similarity search, clustering and semantic dedup over `embeddings`. */
object SimilarityQueries {

  private def cosSql(v: String, c: String): String =
    s"list_dot_product($v, $c) / nullif(sqrt(list_dot_product($v, $v)) * sqrt(list_dot_product($c, $c)), 0)"

  /** Shared oracle CTE chain replaying `Similarity.kmeansCentroids` (q73,
    * q90): md5-seeded centroids, 3 unrolled Lloyd iterations with means
    * QUANTIZED to 6 decimals (the operator's determinism contract), ending
    * with `fin(vec_id, cell, v, crk)` — crk = 1 is each vector's nearest
    * trained cell. Callers prepend `WITH ` is included; append CTEs with a
    * leading comma and then the final SELECT.
    */
  private lazy val KmeansCellsCtes: String = {
    val iters = (1 to 3).map { i =>
      val prev = s"cents${i - 1}"
      s""", asg$i AS (
  SELECT e.vec_id, c.cell, e.v,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY ${cosSql("e.v", "c.cvec")} DESC, c.cell) AS crk
  FROM e CROSS JOIN $prev c
), cp$i AS (
  SELECT cell, pos, round(avg(val), 6) + 0 AS c
  FROM (SELECT cell, unnest(v) AS val, unnest(range(1, len(v) + 1)) AS pos
        FROM asg$i WHERE crk = 1)
  GROUP BY 1, 2
), cents$i AS (
  SELECT cell, list(c ORDER BY pos) AS cvec FROM cp$i GROUP BY cell
)"""
    }.mkString
    s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), sd AS (
  SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) AS h FROM e ORDER BY h LIMIT 8
), cents0 AS (
  SELECT row_number() OVER (ORDER BY h) - 1 AS cell, v AS cvec FROM sd
)$iters, fin AS (
  SELECT e.vec_id, c.cell, e.v,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY ${cosSql("e.v", "c.cvec")} DESC, c.cell) AS crk
  FROM e CROSS JOIN cents3 c
)"""
  }

  /** [[KmeansCellsCtes]] with TRAINING restricted to the standing split
    * (vec_id % 10 <> 0) while `fin` assigns EVERY vector — the q237/q238
    * incremental-IVF contract: centroids are trained once on the base,
    * arriving vectors are assigned against those fixed centroids. Knobs
    * interpolate `Similarity.Ivf*`, so
    * the engine defaults and this replay cannot drift apart silently. */
  private lazy val KmeansCellsSplitCtes: String = {
    val iters = (1 to Similarity.IvfIters).map { i =>
      val prev = s"cents${i - 1}"
      s""", asg$i AS (
  SELECT e.vec_id, c.cell, e.v,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY ${cosSql("e.v", "c.cvec")} DESC, c.cell) AS crk
  FROM eb e CROSS JOIN $prev c
), cp$i AS (
  SELECT cell, pos, round(avg(val), 6) + 0 AS c
  FROM (SELECT cell, unnest(v) AS val, unnest(range(1, len(v) + 1)) AS pos
        FROM asg$i WHERE crk = 1)
  GROUP BY 1, 2
), cents$i AS (
  SELECT cell, list(c ORDER BY pos) AS cvec FROM cp$i GROUP BY cell
)"""
    }.mkString
    s"""WITH ea AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), eb AS (
  SELECT vec_id, v FROM ea WHERE vec_id % 10 <> 0
), sd AS (
  SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) AS h FROM eb
  ORDER BY h LIMIT ${Similarity.IvfNCells}
), cents0 AS (
  SELECT row_number() OVER (ORDER BY h) - 1 AS cell, v AS cvec FROM sd
)$iters, fin AS (
  SELECT ea.vec_id, c.cell, ea.v,
         row_number() OVER (PARTITION BY ea.vec_id
                            ORDER BY ${cosSql("ea.v", "c.cvec")} DESC, c.cell) AS crk
  FROM ea CROSS JOIN cents${Similarity.IvfIters} c
)"""
  }

  /** q205 oracle: per-subspace Lloyd replays (the [[KmeansCellsCtes]]
    * technique, parameterized over the m vector slices), the code
    * assignment, the ADC lookup tables, and the left-associated m-term
    * score — generated so subspace count / codebook size / iterations stay
    * in one place with the engine call.
    */
  private def pqOracleSql(m: Int = 8, nCodes: Int = 16, iters: Int = 2,
                          nQueries: Int = 5, k: Int = 5, rescoreFactor: Int = 20,
                          dim: Int = 64, trainSplit: Boolean = false): String = {
    // trainSplit (q245): per-subspace Lloyd runs on the BASE split only
    // (vec_id % 10 <> 0 — the q238 fixed-codebook contract) while code
    // assignment, queries, and rescore still cover EVERY vector; the
    // static q205 oracle (trainSplit = false) trains on the full corpus.
    val sub = dim / m
    def dot(a: String, b: String) = s"list_dot_product($a, $b)"
    val subCtes = (0 until m).map { s =>
      val lo = s * sub + 1; val hi = s * sub + sub
      val tr = if (trainSplit) s"s${s}_et" else s"s${s}_e"
      val etCte = if (trainSplit)
        s""", s${s}_et AS (
  SELECT vec_id, v FROM s${s}_e WHERE vec_id % 10 <> 0
)""" else ""
      val iterCtes = (1 to iters).map { i =>
        s""", s${s}_asg$i AS (
  SELECT e.vec_id, c.cell, e.v,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY ${cosSql("e.v", "c.cvec")} DESC, c.cell) AS crk
  FROM $tr e CROSS JOIN s${s}_cents${i - 1} c
), s${s}_cp$i AS (
  SELECT cell, pos, round(avg(val), 6) + 0 AS c
  FROM (SELECT cell, unnest(v) AS val, unnest(range(1, len(v) + 1)) AS pos
        FROM s${s}_asg$i WHERE crk = 1)
  GROUP BY 1, 2
), s${s}_cents$i AS (
  SELECT cell, list(c ORDER BY pos) AS cvec FROM s${s}_cp$i GROUP BY cell
)"""
      }.mkString
      s""", s${s}_e AS (
  SELECT vec_id, v[$lo:$hi] AS v FROM e
)$etCte, s${s}_sd AS (
  SELECT vec_id, v, md5(CAST(vec_id AS VARCHAR)) AS h FROM $tr ORDER BY h LIMIT $nCodes
), s${s}_cents0 AS (
  SELECT row_number() OVER (ORDER BY h) - 1 AS cell, v AS cvec FROM s${s}_sd
)$iterCtes, s${s}_fin AS (
  SELECT e.vec_id, c.cell,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY ${cosSql("e.v", "c.cvec")} DESC, c.cell) AS crk
  FROM s${s}_e e CROSS JOIN s${s}_cents$iters c
), s${s}_code AS (
  SELECT vec_id, cell AS code_$s FROM s${s}_fin WHERE crk = 1
), s${s}_lut AS (
  SELECT q.vec_id AS q_id, c.cell AS code_$s,
         ${dot("q.v", "c.cvec")} AS d_$s,
         ${dot("c.cvec", "c.cvec")} AS sq_$s
  FROM (SELECT vec_id, v FROM s${s}_e WHERE vec_id < $nQueries) q
  CROSS JOIN s${s}_cents$iters c
)"""
    }.mkString
    val idxUnion = (0 until m).map(s =>
      s"SELECT vec_id, $s AS sub, code_$s AS code FROM s${s}_code").mkString("\n  UNION ALL\n  ")
    val lutUnion = (0 until m).map(s =>
      s"SELECT q_id, $s AS sub, code_$s AS code, d_$s AS d, sq_$s AS sq FROM s${s}_lut").mkString("\n  UNION ALL\n  ")
    val dSum = (1 to m).map(i => s"ds[$i]").mkString(" + ")
    val sqSum = (1 to m).map(i => s"sqs[$i]").mkString(" + ")
    s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), qn AS (
  SELECT vec_id AS q_id, sqrt(${dot("v", "v")}) AS qnorm FROM e WHERE vec_id < $nQueries
)$subCtes, idx AS (
  $idxUnion
), lut AS (
  $lutUnion
), contrib AS (
  SELECT l.q_id, i.vec_id, i.sub, l.d, l.sq
  FROM idx i JOIN lut l ON l.sub = i.sub AND l.code = i.code
  WHERE i.vec_id <> l.q_id
), pair AS (
  SELECT q_id, vec_id,
         list(d ORDER BY sub) AS ds, list(sq ORDER BY sub) AS sqs
  FROM contrib GROUP BY 1, 2
), scored AS (
  SELECT p.q_id, p.vec_id,
         ($dSum) / nullif(qn.qnorm * sqrt($sqSum), 0) AS sim
  FROM pair p JOIN qn ON qn.q_id = p.q_id
), coarse AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS crk
  FROM scored
), resc AS (
  SELECT c.q_id, c.vec_id, ${cosSql("qe.v", "ce.v")} AS xsim
  FROM coarse c
  JOIN e ce ON ce.vec_id = c.vec_id
  JOIN e qe ON qe.vec_id = c.q_id
  WHERE c.crk <= ${rescoreFactor * k}
), r AS (
  SELECT q_id, vec_id, xsim,
         row_number() OVER (PARTITION BY q_id ORDER BY xsim DESC, vec_id) AS rk
  FROM resc
)
SELECT q_id, CAST(rk AS BIGINT) AS rk, vec_id AS neighbor_id,
       round(xsim, 6) + 0 AS sim
FROM r WHERE rk <= $k ORDER BY q_id, rk"""
  }

  private lazy val SemDecontamOracleSql: String = s"""
$KmeansCellsSplitCtes, asgn AS (
  SELECT vec_id, cell, v FROM fin WHERE crk = 1
), bench AS (
  SELECT f.vec_id AS b_id, f.cell, f.v
  FROM fin f JOIN documents d ON d.doc_id = f.vec_id
  WHERE d.source = 'src0' AND f.crk <= ${Similarity.IvfNProbe}
), corpus AS (
  -- membership by bench-id ANTI-join (the engine's scale-safe rule): an
  -- embedding with no aligned document row is corpus by definition
  SELECT a.vec_id, a.cell, a.v
  FROM asgn a
  WHERE NOT EXISTS (SELECT 1 FROM documents d
                    WHERE d.doc_id = a.vec_id AND d.source = 'src0')
), hits AS (
  SELECT c.vec_id, round(${cosSql("c.v", "b.v")}, 6) + 0 AS sim
  FROM corpus c JOIN bench b ON b.cell = c.cell
  WHERE round(${cosSql("c.v", "b.v")}, 6) + 0 >= ${Similarity.SemDeDupTau}
)
SELECT vec_id, CAST(count(*) AS BIGINT) AS n_bench_hits,
       round(max(sim), 6) + 0 AS max_sim
FROM hits GROUP BY 1 ORDER BY vec_id"""

  private lazy val SemDedupChainOracleSql: String = s"""
$KmeansCellsSplitCtes, asgn AS (
  SELECT vec_id, cell, v FROM fin WHERE crk = 1
), dropped AS (
  SELECT DISTINCT b.cell, b.vec_id
  FROM asgn a JOIN asgn b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(${cosSql("a.v", "b.v")}, 6) + 0 >= ${Similarity.SemDeDupTau}
)
SELECT CAST(g.cell AS BIGINT) AS cell,
       count(*) AS n_vecs,
       CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
       CAST(count(*) - count(d.vec_id) AS BIGINT) AS n_kept
FROM asgn g LEFT JOIN dropped d ON g.cell = d.cell AND g.vec_id = d.vec_id
GROUP BY 1 ORDER BY cell"""

  private lazy val Int8IvfChainOracleSql: String = s"""
$KmeansCellsSplitCtes, qz AS (
  SELECT vec_id, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM ea
), qv AS (
  SELECT ea.vec_id,
         CASE WHEN qz.scale > 0
              THEN list_transform(ea.v, x -> CAST(floor(x / qz.scale + 0.5) AS DOUBLE))
              ELSE list_transform(ea.v, x -> 0.0) END AS qv
  FROM ea JOIN qz ON ea.vec_id = qz.vec_id
), assigned AS (
  SELECT f.vec_id AS neighbor_id, f.cell, q.qv AS cq
  FROM fin f JOIN qv q ON f.vec_id = q.vec_id WHERE f.crk = 1
), probes AS (
  SELECT f.vec_id AS q_id, f.cell, q.qv AS pq
  FROM fin f JOIN qv q ON f.vec_id = q.vec_id
  WHERE f.crk <= ${Similarity.IvfNProbe} AND f.vec_id < ${Similarity.IvfNQueries}
), s8 AS (
  SELECT p.q_id, a.neighbor_id,
         list_dot_product(p.pq, a.cq)
           / nullif(sqrt(list_dot_product(p.pq, p.pq)) * sqrt(list_dot_product(a.cq, a.cq)), 0) AS sim8
  FROM probes p JOIN assigned a ON p.cell = a.cell AND p.q_id <> a.neighbor_id
), c8 AS (
  SELECT q_id, neighbor_id,
         row_number() OVER (PARTITION BY q_id ORDER BY sim8 DESC, neighbor_id) AS rk8
  FROM s8
), s AS (
  SELECT c8.q_id, c8.neighbor_id,
         list_dot_product(a.v, b.v)
           / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0) AS sim
  FROM c8 JOIN ea a ON c8.q_id = a.vec_id JOIN ea b ON c8.neighbor_id = b.vec_id
  WHERE c8.rk8 <= ${Similarity.IvfRescoreFactor * Similarity.IvfK}
), r AS (
  SELECT q_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rk
  FROM s
)
SELECT q_id, neighbor_id, CAST(rk AS BIGINT) AS rk, round(sim, 6) + 0 AS sim
FROM r WHERE rk <= ${Similarity.IvfK} ORDER BY q_id, rk"""

  /** Shared q237/q238 oracle: the split-trained Lloyd replay probed at the
    * pinned knobs ([[Similarity.IvfNQueries]]/[[Similarity.IvfNProbe]]/
    * [[Similarity.IvfK]]), so the engine and the oracle cannot drift apart. */
  private lazy val IvfSplitProbeOracleSql: String = s"""
$KmeansCellsSplitCtes, assigned AS (
  SELECT vec_id AS neighbor_id, cell, v AS ce FROM fin WHERE crk = 1
), probes AS (
  SELECT vec_id AS q_id, cell, v AS qe FROM fin
  WHERE crk <= ${Similarity.IvfNProbe} AND vec_id < ${Similarity.IvfNQueries}
), s AS (
  SELECT p.q_id, a.neighbor_id, ${cosSql("p.qe", "a.ce")} AS sim
  FROM probes p JOIN assigned a ON p.cell = a.cell AND p.q_id <> a.neighbor_id
), r AS (
  SELECT q_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rk
  FROM s
)
SELECT q_id, neighbor_id, CAST(rk AS BIGINT) AS rk, round(sim, 6) + 0 AS sim
FROM r WHERE rk <= ${Similarity.IvfK} ORDER BY q_id, rk"""

  val specs: Seq[QuerySpec] = Seq(
    // -- similarity search over embeddings (north-star extension) --
    QuerySpec("q34_knn_brute", (s, dir) => Similarity.bruteKnnFrom(Tables.embeddings(s, dir), 5, 3), Sql("""
WITH q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings
), s AS (
  SELECT q_id, neighbor_id,
         list_dot_product(qe, ce)
           / nullif(sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce)), 0) AS sim
  FROM q, c WHERE q_id <> neighbor_id
), r AS (
  SELECT q_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rk
  FROM s
)
SELECT q_id, neighbor_id, CAST(rk AS BIGINT) AS rk, round(sim, 6) + 0 AS sim
FROM r WHERE rk <= 3 ORDER BY q_id, rk""")),
    QuerySpec("q35_knn_lsh", (s, dir) => Similarity.lshKnnFrom(Tables.embeddings(s, dir), 5, 3), Sql({
      // replicate Similarity.lshKnnFrom exactly: same fixed-seed hyperplanes as
      // the q56 oracle (DOUBLE[] literals), same 8×8 sign-bit bucketing, plus
      // the query-side Hamming-1 multi-probe (own bucket ∪ bucket⊕2^r) and
      // the top-k tie-break (sim DESC, neighbor_id) of TopKByScore
      val ps = Similarity.planes(64)
      val values = ps.zipWithIndex.map { case (w, pid) =>
        s"($pid, [${w.mkString(", ")}]::DOUBLE[])"
      }.mkString(",\n    ")
      s"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), planes AS (
  SELECT * FROM (VALUES
    $values) AS p(pid, w)
), bits AS (
  SELECT e.vec_id, p.pid // ${Similarity.Bits_B} AS tbl,
         CASE WHEN list_dot_product(e.v, p.w) > 0
              THEN (1::BIGINT << (p.pid % ${Similarity.Bits_B})) ELSE 0 END AS bit
  FROM e CROSS JOIN planes p
), buckets AS (
  SELECT vec_id, tbl, CAST(sum(bit) AS BIGINT) AS bucket FROM bits GROUP BY 1, 2
), probes AS (
  SELECT b.vec_id AS q_id, b.tbl,
         CASE WHEN t.r < 0 THEN b.bucket
              ELSE xor(b.bucket, (1::BIGINT << t.r)) END AS bucket
  FROM buckets b CROSS JOIN range(-1, ${Similarity.Bits_B}) AS t(r)
  WHERE b.vec_id < 5
), cand AS (
  SELECT DISTINCT p.q_id, c.vec_id AS neighbor_id
  FROM probes p JOIN buckets c ON p.tbl = c.tbl AND p.bucket = c.bucket
  WHERE p.q_id <> c.vec_id
), s AS (
  SELECT q_id, neighbor_id,
         list_dot_product(a.v, b.v)
           / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0) AS sim
  FROM cand JOIN e a ON cand.q_id = a.vec_id JOIN e b ON cand.neighbor_id = b.vec_id
), r AS (
  SELECT q_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rk
  FROM s
)
SELECT q_id, neighbor_id, CAST(rk AS BIGINT) AS rk, round(sim, 6) + 0 AS sim
FROM r WHERE rk <= 3 ORDER BY q_id, rk"""
    })),
    // int8 scalar-quantized ANN: bucket + coarse-rank on the 4×-smaller
    // quantized corpus (scales cancel in cosine; integer dots exact in
    // double), float rescore only on the survivors
    QuerySpec("q125_int8_knn", (s, dir) => Similarity.int8KnnFrom(Tables.embeddings(s, dir), 5, 3), Sql({
      // q35's bucketing replayed on the QUANTIZED vectors (scale is
      // irrelevant to the hyperplane sign), then the two-stage ranking:
      // coarse row_number on the int8 cosine (ties on neighbor_id — the
      // TopKByScore contract) cut at rescoreFactor*k = 12, float-cosine
      // rescore of the survivors cut at k = 3. Quantization is the same
      // half-up floor(x/scale + 0.5) the engine states.
      val ps = Similarity.planes(64)
      val values = ps.zipWithIndex.map { case (w, pid) =>
        s"($pid, [${w.mkString(", ")}]::DOUBLE[])"
      }.mkString(",\n    ")
      s"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), qz AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e
), qv AS (
  SELECT vec_id,
         CASE WHEN scale > 0
              THEN list_transform(v, x -> CAST(floor(x / scale + 0.5) AS DOUBLE))
              ELSE list_transform(v, x -> 0.0) END AS qv
  FROM qz
), planes AS (
  SELECT * FROM (VALUES
    $values) AS p(pid, w)
), bits AS (
  SELECT q.vec_id, p.pid // ${Similarity.Bits_B} AS tbl,
         CASE WHEN list_dot_product(q.qv, p.w) > 0
              THEN (1::BIGINT << (p.pid % ${Similarity.Bits_B})) ELSE 0 END AS bit
  FROM qv q CROSS JOIN planes p
), buckets AS (
  SELECT vec_id, tbl, CAST(sum(bit) AS BIGINT) AS bucket FROM bits GROUP BY 1, 2
), probes AS (
  SELECT b.vec_id AS q_id, b.tbl,
         CASE WHEN t.r < 0 THEN b.bucket
              ELSE xor(b.bucket, (1::BIGINT << t.r)) END AS bucket
  FROM buckets b CROSS JOIN range(-1, ${Similarity.Bits_B}) AS t(r)
  WHERE b.vec_id < 5
), cand AS (
  SELECT DISTINCT p.q_id, c.vec_id AS neighbor_id
  FROM probes p JOIN buckets c ON p.tbl = c.tbl AND p.bucket = c.bucket
  WHERE p.q_id <> c.vec_id
), s8 AS (
  SELECT q_id, neighbor_id,
         list_dot_product(a.qv, b.qv)
           / nullif(sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(b.qv, b.qv)), 0) AS sim8
  FROM cand JOIN qv a ON cand.q_id = a.vec_id JOIN qv b ON cand.neighbor_id = b.vec_id
), c8 AS (
  SELECT q_id, neighbor_id,
         row_number() OVER (PARTITION BY q_id ORDER BY sim8 DESC, neighbor_id) AS rk8
  FROM s8
), s AS (
  SELECT c8.q_id, c8.neighbor_id,
         list_dot_product(a.v, b.v)
           / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0) AS sim
  FROM c8 JOIN e a ON c8.q_id = a.vec_id JOIN e b ON c8.neighbor_id = b.vec_id
  WHERE c8.rk8 <= 12
), r AS (
  SELECT q_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rk
  FROM s
)
SELECT q_id, neighbor_id, CAST(rk AS BIGINT) AS rk, round(sim, 6) + 0 AS sim
FROM r WHERE rk <= 3 ORDER BY q_id, rk"""
    })),
    QuerySpec("q36_label_centroids", (s, dir) => Similarity.labelCentroids(s, dir), Sql("""
WITH x AS (
  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos,
       round(avg(v), 6) + 0 AS centroid
FROM x GROUP BY 1, 2 ORDER BY label, pos""")),
    QuerySpec("q37_centroid_similarity", (s, dir) => Similarity.centroidSimilarity(s, dir), Sql("""
WITH x AS (
  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings
), c AS (
  SELECT label, pos, avg(v) AS c FROM x GROUP BY 1, 2
), vecs AS (
  SELECT label, list(c ORDER BY pos) AS vec FROM c GROUP BY label
)
SELECT CAST(a.label AS BIGINT) AS label_a, CAST(b.label AS BIGINT) AS label_b,
       round(list_dot_product(a.vec, b.vec)
             / nullif(sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec)), 0),
             6) + 0 AS sim
FROM vecs a JOIN vecs b ON a.label < b.label
ORDER BY label_a, label_b""")),
    QuerySpec("q38_embedding_neardup", (s, dir) => Similarity.topSimilarPairs(s, dir, 20), Sql("""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_dot_product(a.v, b.v)
               / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0),
               6) + 0 AS sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, sim FROM p
ORDER BY sim DESC, vec_a, vec_b LIMIT 20""")),
    // the scale path for embedding near-dup: LSH-bucketed candidate pairs
    // verified with exact cosine. q38's all-pairs form is the oracle baseline
    // and is quadratic BY DESIGN; this is the registered entry that survives a
    // 100× corpus (pair space from equi-joins on (table, bucket)). The oracle
    // replicates the bucketing exactly — the hyperplanes are embedded in the
    // SQL as literals from the same deterministic generator.
    QuerySpec("q56_embedding_neardup_lsh", (s, dir) =>
      Similarity.lshNearDup(Tables.embeddings(s, dir), 0.35),
      Sql({
      // replicate Similarity.lshNearDup exactly: the 64 hyperplanes (8 tables
      // × 8 bits over dim 64) come from the same deterministic generator and
      // ride in the SQL as DOUBLE[] literals; bit r of table t's bucket is
      // set iff dot(v, plane[t*8+r]) > 0, matching LshBuckets.compute
      val ps = Similarity.planes(64)
      val values = ps.zipWithIndex.map { case (w, pid) =>
        s"($pid, [${w.mkString(", ")}]::DOUBLE[])"
      }.mkString(",\n    ")
      s"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), planes AS (
  SELECT * FROM (VALUES
    $values) AS p(pid, w)
), bits AS (
  SELECT e.vec_id, p.pid // ${Similarity.Bits_B} AS tbl,
         CASE WHEN list_dot_product(e.v, p.w) > 0
              THEN (1::BIGINT << (p.pid % ${Similarity.Bits_B})) ELSE 0 END AS bit
  FROM e CROSS JOIN planes p
), buckets AS (
  SELECT vec_id, tbl, CAST(sum(bit) AS BIGINT) AS bucket FROM bits GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM buckets x JOIN buckets y
    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
), scored AS (
  SELECT vec_a, vec_b,
         round(list_dot_product(a.v, b.v)
               / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0),
               6) + 0 AS sim
  FROM cand JOIN e a ON vec_a = a.vec_id JOIN e b ON vec_b = b.vec_id
)
SELECT vec_a, vec_b, sim FROM scored
WHERE sim >= 0.35 ORDER BY sim DESC, vec_a, vec_b"""
    })),
    QuerySpec("q39_ivf_knn", (s, dir) => Similarity.ivfKnnFrom(Tables.embeddings(s, dir), 5, 3, 3), Sql("""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), x AS (
  SELECT label, unnest(v) AS val, unnest(range(1, len(v) + 1)) AS pos FROM e
), cp AS (
  SELECT CAST(label AS BIGINT) AS cell, pos, avg(val) AS c FROM x GROUP BY 1, 2
), cents AS (
  SELECT cell, list(c ORDER BY pos) AS cvec FROM cp GROUP BY cell
), asg AS (
  SELECT e.vec_id, cents.cell,
         list_dot_product(e.v, cents.cvec)
           / nullif(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cents.cvec, cents.cvec)), 0) AS csim
  FROM e CROSS JOIN cents
), ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS crk
  FROM asg
), assigned AS (
  SELECT vec_id AS neighbor_id, cell FROM ranked WHERE crk = 1
), probes AS (
  SELECT vec_id AS q_id, cell FROM ranked WHERE crk <= 3 AND vec_id < 5
), s AS (
  SELECT p.q_id, a.neighbor_id,
         list_dot_product(qe.v, ce.v)
           / nullif(sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v)), 0) AS sim
  FROM probes p JOIN assigned a ON p.cell = a.cell AND p.q_id <> a.neighbor_id
  JOIN e qe ON p.q_id = qe.vec_id JOIN e ce ON a.neighbor_id = ce.vec_id
), r AS (
  SELECT q_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rk
  FROM s
)
SELECT q_id, neighbor_id, CAST(rk AS BIGINT) AS rk, round(sim, 6) + 0 AS sim
FROM r WHERE rk <= 3 ORDER BY q_id, rk""")),
    // label-free IVF: coarse centroids TRAINED by k-means instead of label
    // seeding — the variant a real corpus (no labels) needs. FULLY oracled:
    // the centroid quantization contract (see kmeansCentroids) makes the
    // training loop deterministic, and the DuckDB oracle replays all three
    // Lloyd iterations in unrolled SQL. Recall-vs-brute additionally pinned
    // by SimilaritySpec at this registered configuration.
    QuerySpec("q73_ivf_knn_kmeans", (s, dir) =>
      Similarity.ivfKnnKmeans(Tables.embeddings(s, dir), 5, 3, nCells = 8, nProbe = 3),
      Sql({
      // replay Similarity.kmeansCentroids + ivfWithCentroids exactly: seeds
      // are the 8 vectors with smallest md5(vec_id) (portable, lexicographic
      // hex order), then 3 unrolled Lloyd iterations whose centroid means
      // are QUANTIZED to 6 decimals (the operator's determinism contract —
      // it erases distributed-float-sum order noise), then nProbe=3 probing
      // and the TopKByScore tie-break, all in plain SQL (the Lloyd replay is
      // the shared KmeansCellsCtes prefix, reused by q90)
      s"""
$KmeansCellsCtes, assigned AS (
  SELECT vec_id AS neighbor_id, cell, v AS ce FROM fin WHERE crk = 1
), probes AS (
  SELECT vec_id AS q_id, cell, v AS qe FROM fin WHERE crk <= 3 AND vec_id < 5
), s AS (
  SELECT p.q_id, a.neighbor_id, ${cosSql("p.qe", "a.ce")} AS sim
  FROM probes p JOIN assigned a ON p.cell = a.cell AND p.q_id <> a.neighbor_id
), r AS (
  SELECT q_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rk
  FROM s
)
SELECT q_id, neighbor_id, CAST(rk AS BIGINT) AS rk, round(sim, 6) + 0 AS sim
FROM r WHERE rk <= 3 ORDER BY q_id, rk"""
    })),
    // SemDeDup-style semantic dedup: within-k-means-cluster cosine pruning,
    // lower-id wins — pairwise ONLY inside a cell (equi-join on cell), the
    // paper's own scale argument. Oracle replays the same Lloyd training as
    // q73's, then the drop rule in plain SQL.
    QuerySpec("q90_semantic_dedup", (s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir), nCells = 8, iters = 3, tau = 0.35),
      Sql({
      // same Lloyd replay as q73 (shared KmeansCellsCtes), then the SemDeDup
      // drop rule: a vector is dropped iff a LOWER-id vector in its trained
      // cell has rounded cosine >= 0.35 — pairwise strictly within cells
      s"""
$KmeansCellsCtes, asgn AS (
  SELECT vec_id, cell, v FROM fin WHERE crk = 1
), dropped AS (
  SELECT DISTINCT b.cell, b.vec_id
  FROM asgn a JOIN asgn b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(${cosSql("a.v", "b.v")}, 6) + 0 >= 0.35
)
SELECT CAST(g.cell AS BIGINT) AS cell,
       count(*) AS n_vecs,
       CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
       CAST(count(*) - count(d.vec_id) AS BIGINT) AS n_kept
FROM asgn g LEFT JOIN dropped d ON g.cell = d.cell AND g.vec_id = d.vec_id
GROUP BY 1 ORDER BY cell"""
    })),
    // hybrid retrieval: lexical (shingle-Jaccard) + dense (cosine) lists
    // fused by reciprocal-rank fusion, every stage k-heap-bounded
    QuerySpec("q128_hybrid_rrf", (s, dir) => Similarity.hybridRrf(s, dir, 5, 3),
      // q128: q27's shingle relation (unblocked — the tiny query batch IS the
      // block) and q34's cosine, each row_number-ranked to depth 50 with ties
      // on id (the TopKByScore contract), full-outer fused by 1/(60+rank)
      Sql("""
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, string_split(norm, ' ') AS toks FROM d
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sg
  FROM t
), cnt AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT q.doc_id AS q_id, c.doc_id AS neighbor_id, count(*) AS inter
  FROM sh q JOIN sh c ON q.sg = c.sg AND q.doc_id < 5 AND c.doc_id <> q.doc_id
  GROUP BY 1, 2
), tr AS (
  SELECT q_id, neighbor_id,
         row_number() OVER (PARTITION BY q_id ORDER BY
           CAST(inter AS DOUBLE) / (cq.n + cn.n - inter) DESC, neighbor_id) AS rank_text
  FROM inter JOIN cnt cq ON q_id = cq.doc_id JOIN cnt cn ON neighbor_id = cn.doc_id
), e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), vs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v)
           / nullif(sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)), 0) AS sim
  FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id <> q.vec_id
), vr AS (
  SELECT q_id, neighbor_id,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rank_vec
  FROM vs
), f AS (
  SELECT q_id, neighbor_id,
         COALESCE(1.0 / (60 + rank_text), 0) + COALESCE(1.0 / (60 + rank_vec), 0) AS score
  FROM (SELECT * FROM tr WHERE rank_text <= 50) t
  FULL JOIN (SELECT * FROM vr WHERE rank_vec <= 50) v USING (q_id, neighbor_id)
), r AS (
  SELECT q_id, neighbor_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, neighbor_id) AS rk
  FROM f
)
SELECT q_id, neighbor_id, CAST(rk AS BIGINT) AS rk, round(score, 6) + 0 AS score
FROM r WHERE rk <= 3 ORDER BY q_id, rk""")),
    // PER-DIMENSION EMBEDDING STATISTICS — the feature-standardization
    // pass (mean/var/min/max per coordinate) an ML pipeline runs before
    // whitening: posexplode → 64-group hash aggregate, map-side combined;
    // means/variances via the round-9/decimal contract
    QuerySpec("q143_dim_stats", (s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("pos").cast("long").as("pos"), col("v").cast("double").as("v"))
        .groupBy("pos")
        .agg(count(lit(1)).as("n"),
          sum(round(col("v"), 9).cast(dec)).as("sm"),
          sum(round(col("v") * col("v"), 9).cast(dec)).as("ss"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .select(col("pos"), col("n"),
          (round(col("sm").cast("double") / col("n"), 6) + lit(0.0)).as("mean_v"),
          (round(col("ss").cast("double") / col("n")
            - (col("sm").cast("double") / col("n"))
              * (col("sm").cast("double") / col("n")), 6) + lit(0.0)).as("var_v"),
          col("min_v"), col("max_v"))
        .orderBy("pos")
    },
      // unnest + generate_subscripts expand in lockstep, replaying the
      // posexplode for ANY per-row width (no fixed-64 assumption — a ragged
      // array would previously have produced NULL out-of-range index rows);
      // identical decimal/rounding arithmetic for mean and var
      Sql("""
WITH x AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
), a AS (
  SELECT pos, count(*) AS n,
         sum(CAST(round(v, 9) AS DECIMAL(30,12))) AS sm,
         sum(CAST(round(v * v, 9) AS DECIMAL(30,12))) AS ss,
         min(v) AS min_v, max(v) AS max_v
  FROM x GROUP BY pos
)
SELECT CAST(pos AS BIGINT) AS pos, CAST(n AS BIGINT) AS n,
       round(CAST(sm AS DOUBLE) / n, 6) + 0 AS mean_v,
       round(CAST(ss AS DOUBLE) / n
         - (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n), 6) + 0 AS var_v,
       min_v, max_v
FROM a ORDER BY pos""")),
    // HIGHER-ORDER ARRAY FUNCTIONS: transform/filter/aggregate/exists over
    // the embedding arrays (fixed 64-wide per FIXTURES.md, though nothing
    // here assumes the width) — the right tool when per-element logic
    // doesn't justify a custom expression (vec_dot exists for the hot
    // loops). Fold-order parity with the oracle's list_* lambdas rides the
    // established vec_dot ≡ list_dot_product ascending-left-fold contract;
    // per-row folds are round-at-9 → decimal-summed across rows (order-free)
    QuerySpec("q140_array_hof", (s, dir) => {
      val e = Tables.embeddings(s, dir)
      val sumSq = aggregate(col("embedding"), lit(0.0), (acc, v) =>
        acc + v.cast("double") * v.cast("double"))
      val clipped = transform(col("embedding"), v =>
        greatest(least(v.cast("double"), lit(0.5)), lit(-0.5)))
      val clippedSum = aggregate(clipped, lit(0.0), (acc, v) => acc + v)
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      e.select(col("label"),
          size(filter(col("embedding"), v => v > 0f)).as("npos"),
          when(exists(col("embedding"), v => v.cast("double") > lit(0.3)), 1L)
            .otherwise(0L).as("hot"),
          round(sqrt(sumSq), 9).cast(dec).as("norm9"),
          round(clippedSum, 9).cast(dec).as("clip9"),
          array_max(col("embedding")).cast("double").as("mx"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("npos")).as("n_pos"),
          sum(col("hot")).as("n_hot"),
          (round(sum(col("norm9")).cast("double") / count(lit(1)), 6) + lit(0.0))
            .as("mean_norm"),
          (round(sum(col("clip9")).cast("double") / count(lit(1)), 6) + lit(0.0))
            .as("mean_clipped_sum"),
          max(col("mx")).as("max_elem"))
        .orderBy("label")
    },
      // list_* lambdas mirror the Spark HOFs; the two per-row folds ride the
      // vec_dot ≡ list_dot_product ascending-left-fold parity (ones-vector
      // dot = ordered sum); cross-row means use the round-9/decimal contract
      Sql("""
SELECT label,
  CAST(count(*) AS BIGINT) AS n_vecs,
  CAST(sum(len(list_filter(embedding, x -> x > 0))) AS BIGINT) AS n_pos,
  CAST(sum(CASE WHEN len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.3)) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
  round(CAST(sum(CAST(round(sqrt(list_dot_product(embedding, embedding)), 9)
        AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6) + 0 AS mean_norm,
  round(CAST(sum(CAST(round(list_dot_product(
          list_transform(embedding, x -> greatest(least(CAST(x AS DOUBLE), 0.5), -0.5)),
          list_transform(embedding, x -> 1.0)), 9)
        AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6) + 0 AS mean_clipped_sum,
  CAST(max(list_max(embedding)) AS DOUBLE) AS max_elem
FROM embeddings GROUP BY label ORDER BY label""")),

    // FEATURE–LABEL CORRELATION ranking over embedding dimensions: one
    // posexplode scan → 64-group sufficient statistics, Pearson r from
    // exact decimal sums
    QuerySpec("q183_feature_label_corr", (s, dir) =>
      Learn.featureLabelCorr(Tables.embeddings(s, dir)),
      // Pearson r from the same six decimal sufficient statistics
      Sql(Learn.featureLabelCorrOracleSql)),

    // PRODUCT-QUANTIZED kNN (Jégou et al. 2011): m=8 md5-seeded subspace
    // codebooks, 1-byte codes, asymmetric-distance scoring through ONE
    // broadcast lookup join; left-associated m-term sums keep every score
    // bit-identical cross-engine; float rescore of 20k survivors
    // train-once/probe-many: codebooks come from the fingerprinted MV
    // (first call trains + persists; every later call pays only encode +
    // ADC + rescore) — parquet round-trips the quantized Lloyd coordinates
    // bit-exactly, so rows are identical to the train-in-query path
    QuerySpec("q205_pq_knn", (s, dir) => Similarity.pqKnnWithCodebooks(
      Tables.embeddings(s, dir), Similarity.pqCodebooksMV(s, dir)),
      // per-subspace Lloyd replays + ADC lookup joins, generated in lockstep
      // with the engine's (m, codes, iters) configuration
      Sql(pqOracleSql())),

    // MULTI-PROBE SemDeDup: each vector probes its 2 NEAREST k-means
    // cells, rescuing the boundary-straddling near-dup pairs the
    // single-cell rule provably misses (q90's quantified 0.454 cross-cell
    // miss at τ=0.35); drop rule unchanged, census keys on the primary
    // cell, pairwise work still cell-bounded (nProbe² × single-probe)
    QuerySpec("q215_semdedup_multiprobe", (s, dir) =>
      Similarity.semanticDedupMultiProbe(Tables.embeddings(s, dir),
        nCells = 8, iters = 3, tau = 0.35, nProbe = 2),
      // the shared Lloyd replay, assignment widened to crk <= 2; drop rule
      // over any shared probed cell, census keyed on the crk = 1 cell
      Sql({
      s"""
$KmeansCellsCtes, asgn AS (
  SELECT vec_id, cell, v FROM fin WHERE crk <= 2
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM asgn a JOIN asgn b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(${cosSql("a.v", "b.v")}, 6) + 0 >= 0.35
), prim AS (
  SELECT vec_id, cell FROM fin WHERE crk = 1
)
SELECT CAST(g.cell AS BIGINT) AS cell,
       count(*) AS n_vecs,
       CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
       CAST(count(*) - count(d.vec_id) AS BIGINT) AS n_kept
FROM prim g LEFT JOIN dropped d ON g.vec_id = d.vec_id
GROUP BY 1 ORDER BY cell"""
    })),

    // CELL SILHOUETTE: pair-free (centroid-simplified) silhouette over the
    // q90 k-means cells — the clustering-quality diagnostic for the
    // SemDeDup/IVF k and nProbe knobs; ranks 1+2 of the assignment's own
    // broadcast cellRank pass ARE (a, b), one hash aggregate to k rows
    QuerySpec("q229_cell_silhouette", (s, dir) =>
      Similarity.cellSilhouette(Tables.embeddings(s, dir), 8, 3),
      // the q90 Lloyd replay, then per-vector ranks 1+2 of the raw-cosine
      // centroid order; silhouette arithmetic on 6-decimal ROUNDED sims
      Sql(s"""
$KmeansCellsCtes, r AS (
  SELECT e.vec_id, c.cell,
         round(${cosSql("e.v", "c.cvec")}, 6) + 0 AS csim,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY ${cosSql("e.v", "c.cvec")} DESC, c.cell) AS crk
  FROM e CROSS JOIN cents3 c
), sil AS (
  SELECT r1.vec_id, r1.cell,
         round((r1.csim - r2.csim)
               / nullif(greatest(1 - r1.csim, 1 - r2.csim), 0), 6) + 0 AS s
  -- LEFT join: with a single centroid (k = 1) there is no rank-2 row and
  -- the silhouette is NULL, but the vector still counts — matching the
  -- engine's element_at(t, 2) → NULL semantics
  FROM r r1 LEFT JOIN r r2 ON r1.vec_id = r2.vec_id AND r2.crk = 2
  WHERE r1.crk = 1
)
SELECT CAST(cell AS BIGINT) AS cell, count(*) AS n_vecs,
       round(avg(s), 6) + 0 AS mean_sil,
       round(min(s), 6) + 0 AS min_sil,
       round(max(s), 6) + 0 AS max_sil
FROM sil GROUP BY cell ORDER BY cell""")),

    // EMBEDDING-DRIFT MONITOR: q196's PSI discipline in embedding space —
    // per label, centroid cosine across deterministic ref/current windows
    // (first-moment drift) + PSI over each vector's cosine to the rounded
    // reference centroid (shape drift); everything past two scans lives on
    // the bounded labels×bins relation
    QuerySpec("q234_centroid_drift", (s, dir) =>
      Similarity.centroidDriftMonitor(Tables.embeddings(s, dir)),
      // identical split, rounded centroids, bin grid, Laplace smoothing, and
      // q196's exact ln/fold rounding contract — keyed by label. The split
      // modulus, bin scale (nBins/2), bin ceiling, grid size, and Laplace
      // denominator (nBins/2) are INTERPOLATED from the same constants the
      // engine call uses (Similarity.DriftSplitMod/DriftNBins) so
      // the two sides cannot drift apart.
      Sql(s"""
WITH t AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         CAST(embedding AS DOUBLE[]) AS e,
         vec_id % ${Similarity.DriftSplitMod} <> 0 AS is_ref
  FROM embeddings
), x AS (
  SELECT label, is_ref, unnest(e) AS v, unnest(range(1, len(e) + 1)) AS pos
  FROM t
), cm AS (
  SELECT label, is_ref, pos, round(avg(v), 6) + 0 AS c FROM x GROUP BY 1, 2, 3
), cv AS (
  SELECT label, is_ref, list(c ORDER BY pos) AS cvec FROM cm GROUP BY 1, 2
), cr AS (
  SELECT label, cvec AS cref FROM cv WHERE is_ref
), cc AS (
  SELECT label, cvec AS ccur FROM cv WHERE NOT is_ref
), drift AS (
  SELECT cr.label, round(${cosSql("cr.cref", "cc.ccur")}, 6) + 0 AS centroid_cos
  FROM cr JOIN cc ON cc.label = cr.label
), b AS (
  SELECT t.label, t.is_ref,
         greatest(least(CAST(floor((round(${cosSql("t.e", "cr.cref")}, 6) + 1.0) * ${Similarity.DriftNBins / 2.0}) AS BIGINT), ${Similarity.DriftNBins - 1}), 0) AS bin
  FROM t JOIN cr ON cr.label = t.label
), counts AS (
  SELECT label, bin,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
         sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
  FROM b GROUP BY 1, 2
), grid AS (
  SELECT l.label, g.bin
  FROM (SELECT DISTINCT label FROM b) l
  CROSS JOIN (SELECT unnest(range(0, ${Similarity.DriftNBins})) AS bin) g
), dense AS (
  SELECT g.label, g.bin, coalesce(c.n_ref, 0) AS n_ref, coalesce(c.n_cur, 0) AS n_cur
  FROM grid g LEFT JOIN counts c ON c.label = g.label AND c.bin = g.bin
), shares AS (
  SELECT label, n_ref, n_cur,
         sum(n_ref) OVER (PARTITION BY label) AS t_ref,
         sum(n_cur) OVER (PARTITION BY label) AS t_cur
  FROM dense
), terms AS (
  SELECT label, t_ref, t_cur,
         (n_ref + 0.5) / (t_ref + ${Similarity.DriftNBins / 2.0}) AS p,
         (n_cur + 0.5) / (t_cur + ${Similarity.DriftNBins / 2.0}) AS q
  FROM shares
), psi AS (
  SELECT label,
         CAST(max(t_ref) AS BIGINT) AS n_ref,
         CAST(max(t_cur) AS BIGINT) AS n_cur,
         round(CAST(sum(CAST(round((p - q) * (round(ln(p / q), 6) + 0), 9)
           AS DECIMAL(30,12))) AS DOUBLE), 6) + 0 AS psi
  FROM terms GROUP BY label
)
SELECT p.label, p.n_ref, p.n_cur, d.centroid_cos, p.psi
FROM psi p JOIN drift d ON d.label = p.label
ORDER BY p.label""")),

    // INCREMENTAL IVF INDEX, BUCKETED: centroid MV trained once on the
    // standing split, assignment MV bucketed by cell, delta vectors
    // assigned by one broadcast pass, probe bucket-pruned to the probed
    // cell set — the ANN index refreshing at delta cost (q232's discipline)
    QuerySpec("q237_ivf_incremental_bucketed", (s, dir) =>
      Similarity.ivfIncrementalParityBucketed(s, dir),
      // q73's probe over the split-trained Lloyd replay: centroids from the
      // standing split only, every vector assigned against them (standing ∪
      // delta ≡ assign-everything, since assignment is per-row under fixed
      // centroids), probes/nProbe/k interpolated from the pinned knobs
      Sql(IvfSplitProbeOracleSql)),

    // DURABLE INCREMENTAL IVF: the q237 assignment MV grown through the
    // replay-idempotent republish chain (q236's discipline) — two delta
    // batches land in the standing MV exactly once each, and the probe
    // reads ONLY the latest publish's probed bucket files, with no
    // per-call delta job
    QuerySpec("q238_ivf_durable_refresh", (s, dir) =>
      Similarity.ivfDurableRefreshBucketed(s, dir),
      // the DURABLE variant contracts to the SAME assign-everything replay:
      // after both chain republishes every vector sits in the standing MV
      // exactly once, so the pruned probe must reproduce it — a replayed
      // (double-applied) batch would duplicate neighbors and shift ranks
      Sql(IvfSplitProbeOracleSql)),

    // INT8-QUANTIZED DURABLE IVF: the refresh chain applied to the index
    // production actually refreshes — the standing MV stores int8 codes +
    // scale (no floats), deltas land quantized exactly once, the probe is
    // coarse-int8-then-float-rescore over the probed bucket files only
    QuerySpec("q240_int8_ivf_durable", (s, dir) =>
      Similarity.int8IvfDurableRefresh(s, dir),
      // q240/q241: the split-trained Lloyd replay + the q125 int8 discipline
      // — half-up quantization of every vector, coarse int8 cosine inside the
      // probed cells cut at rescoreFactor·k (ties on neighbor_id, the
      // TopKByScore contract), float rescore of the survivors, final top-k;
      // every knob interpolated from the pinned Similarity vals. q241 (the
      // STREAM-driven chain) shares it verbatim: assignment and quantization
      // are per-vector, so the union-form chain state is batching-invariant
      Sql(Int8IvfChainOracleSql)),

    // STREAMING QUANTIZED-INDEX MAINTENANCE: the int8 chain driven by an
    // actual at-least-once stream (foreachBatch) — per-vector assignment
    // makes the chain state batching-invariant, so the gate shares q240's
    // assign-everything oracle verbatim (stream ≡ batch, hash-exactly)
    QuerySpec("q241_int8_ivf_stream", (s, dir) =>
      graft.streaming.StreamingOps.int8IvfStreamParity(s, dir),
      Sql(Int8IvfChainOracleSql)),

    // DURABLE INCREMENTAL SemDeDup: q90's within-cell dedup maintained as
    // delta batches land through the replay-idempotent chain — lower-id-
    // wins preserved across batches in BOTH directions (an arrival can
    // flip a standing vector), so the census equals the batch rule over
    // the fully-assigned corpus under any batching
    QuerySpec("q242_semantic_dedup_durable", (s, dir) =>
      Similarity.semanticDedupDurable(s, dir),
      // q242: q90's drop rule over the SPLIT-trained Lloyd replay — centroids
      // from the standing 90%, every vector assigned against them, pairwise
      // lower-id-wins within cells at the pinned τ. The chain's incremental
      // two-direction maintenance must land exactly this relation under any
      // batching (each final same-cell pair is examined exactly once — at
      // base build, in its shared batch, or when its later member arrives).
      // q244 (the STREAM-driven chain) shares it verbatim: the pair-coverage
      // argument is batching-invariant, so the range-split stream and q242's
      // %20 split land the same state
      Sql(SemDedupChainOracleSql)),

    // STREAMING SEMANTIC-DEDUP MAINTENANCE: the q242 chain driven by an
    // at-least-once stream through the shared step body — the SemDeDup
    // column of the maintenance matrix; pair coverage is batching-
    // invariant, so the gate shares q242's oracle verbatim
    QuerySpec("q244_semantic_dedup_stream", (s, dir) =>
      graft.streaming.StreamingOps.semDedupStreamParity(s, dir),
      Sql(SemDedupChainOracleSql)),

    // DURABLE INCREMENTAL PQ: the ANN-maintenance cell the IVF family had
    // and PQ didn't — codebooks stay split-trained and FIXED (the q238
    // centroid discipline), arriving batches are encoded against them and
    // land in the standing (vec_id, sub, code) table exactly once through
    // the batchId-guarded chain; the probe is q205's ADC + exact-rescore
    // over the LATEST publish only
    QuerySpec("q245_pq_durable", (s, dir) => Similarity.pqDurableRefresh(s, dir),
      // q245: the q205 ADC replay with per-subspace Lloyd TRAINING restricted
      // to the base split (trainSplit — the fixed-codebook contract) while
      // codes/queries/rescore cover every vector; after both chain
      // republishes the standing code table holds exactly this assignment,
      // so hash equality proves both deltas landed exactly once (a replayed
      // batch would duplicate code rows and shift every ADC rank). Knobs
      // interpolate the pinned Similarity.Pq* vals
      Sql(pqOracleSql(m = Similarity.PqM,
      nCodes = Similarity.PqNCodes, iters = Similarity.PqIters,
      nQueries = Similarity.PqNQueries, k = Similarity.PqK,
      rescoreFactor = Similarity.PqRescoreFactor, dim = Similarity.PqDim,
      trainSplit = true))),

    // EMBEDDING-BASED BENCHMARK DECONTAMINATION: q222's eval-leak cut
    // catches exact n-gram overlap; this catches SEMANTIC near-matches —
    // benchmark vectors probe their nProbe nearest cells of the q238
    // centroid space (never brute force) and flag corpus vectors at
    // rounded cosine >= τ, the audit relation a pipeline anti-joins on
    QuerySpec("q246_semantic_decontam", (s, dir) => Similarity.semanticDecontam(s, dir),
      // q246: the split-trained Lloyd replay (fixed q238 centroid space),
      // benchmark vectors = source 'src0' via the aligned documents table
      // (the q128 id convention) probing their nProbe nearest cells, corpus
      // vectors in their assigned cell, rounded-cosine τ cut (the q90
      // convention) — knobs interpolate the pinned Similarity vals.
      // q247 (the STREAM-driven twin) shares it verbatim: flagging is
      // per-vector given the standing benchmark relation, so the emitted
      // relation is batching-invariant
      Sql(SemDecontamOracleSql)),

    // STREAMING SEMANTIC DECONTAMINATION: q246 run where the corpus
    // arrives — per-batch broadcast assign + probe against the standing
    // benchmark relation, landed via the replay-idempotent sink; flagging
    // is per-vector given the standing inputs, so the gate shares q246's
    // oracle verbatim (stream ≡ batch, hash-exactly)
    QuerySpec("q247_semantic_decontam_stream", (s, dir) =>
      graft.streaming.StreamingOps.semanticDecontamStreamParity(s, dir),
      Sql(SemDecontamOracleSql)),

    // STREAMING DURABLE PQ MAINTENANCE: the q245 chain driven by an
    // at-least-once stream through the shared step body — the last cell
    // of the stream×ANN maintenance matrix (q241 int8-IVF, q244
    // SemDeDup); encoding against the fixed books is per-vector, so the
    // chain state is batching-invariant and the gate shares q245's
    // oracle verbatim (stream ≡ batch, hash-exactly)
    QuerySpec("q248_pq_stream", (s, dir) =>
      graft.streaming.StreamingOps.pqStreamParity(s, dir),
      // q248 (the STREAM-driven PQ chain) shares q245's oracle verbatim:
      // encoding against the fixed split-trained books is per-vector, so the
      // union-form code-table state — and every ADC rank derived from it —
      // is identical under the stream's range split and q245's %20 split
      Sql(pqOracleSql(m = Similarity.PqM,
      nCodes = Similarity.PqNCodes, iters = Similarity.PqIters,
      nQueries = Similarity.PqNQueries, k = Similarity.PqK,
      rescoreFactor = Similarity.PqRescoreFactor, dim = Similarity.PqDim,
      trainSplit = true)))
  )
}
