package graft

import graft.functions.Fx._
import graft.operators._
import graft.pipeline.GraftSql
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is one operator/query family from SURVEY.md §2 (or
  * the LLM-pipeline extension surface); `oracleSql` holds the DuckDB-dialect
  * ANSI SQL the driver runs on the same parquet tables at sf0.01 for the
  * hash-compare. Column names, rounding, and ordering are kept identical on
  * both sides (floats rounded, -0.0 normalized, dates stringified — see
  * graft.functions.Fx).
  */
object SparkEntry {

  /** Flagship query on sf=0.001: the reference's "most volatile ticker" report
    * (reference `dags/financial_pipeline.py:59-66`). Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    Analytics.avgVolatilityPerTicker(MarketView.fact(spark, "/root/testdata/sf0.001")).limit(1)

  // ---------------------------------------------------------------------------
  // Shared DuckDB oracle prefixes: the market view re-hosted on `events`
  // (SURVEY.md §7.1). Deterministic intraday order = (ts, event_id).
  // ---------------------------------------------------------------------------
  /** Benford first-digit shares log10(1 + 1/d), d = 1..9 — computed ONCE on
    * the driver and shared with the q167 oracle as shortest-repr literals
    * (which round-trip to the same doubles), so no runtime libm call exists
    * on either engine's data path.
    */
  private val benfordShares: Seq[Double] = (1 to 9).map(d => math.log10(1 + 1.0 / d))

  private val BARS = """WITH e AS (
  SELECT event_type AS symbol, CAST(ts AS DATE) AS date, value, ts, event_id,
         TRY_CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT) AS k
  FROM events
), re AS (
  SELECT *,
         row_number() OVER (PARTITION BY symbol, date ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY symbol, date ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM e
), bars AS (
  SELECT symbol, date,
         max(CASE WHEN rn_a = 1 THEN value END) AS open,
         max(value) AS high,
         min(value) AS low,
         max(CASE WHEN rn_d = 1 THEN value END) AS close,
         CAST(sum(k) AS BIGINT) AS volume
  FROM re GROUP BY symbol, date
)"""

  private val FACT = BARS + """, fact AS (
  SELECT symbol, date, open, high, low, close, volume,
         lag(close) OVER (PARTITION BY symbol ORDER BY date) AS prev_close,
         (close - lag(close) OVER (PARTITION BY symbol ORDER BY date))
           / nullif(lag(close) OVER (PARTITION BY symbol ORDER BY date), 0) * 100 AS variacao_diaria
  FROM bars
)"""

  private val WEEKLY = FACT + """, wv AS (
  SELECT symbol, CAST(date_trunc('week', date) AS DATE) AS semana,
         stddev_samp(variacao_diaria) AS vol
  FROM fact WHERE variacao_diaria IS NOT NULL
  GROUP BY 1, 2
)"""

  /** The dt-partitioned bars layout of `dir`, built once per fingerprint of
    * its events as store entry `bars_by_dt` (see [[Tables.materializedPath]]):
    * q58 exists to prove partition-pruned READS, so every call after the
    * first (bench warmup + both timed passes, later sessions and JVMs)
    * measures only the pruned scan.
    */
  private def partitionedBarsLayout(s: SparkSession, dir: String): String =
    Tables.materializedPath(java.nio.file.Paths.get(dir, "events.parquet"), "bars_by_dt")(tmp =>
      Tables.overwrite(
        MarketView.dailyBars(s, dir).withColumn("dt", col("date")).drop("date"),
        tmp.toString, Seq("dt"))).toString

  /** Shared oracle CTE chain for the portable MinHash pair graph (q49, q74):
    * the raw per-doc algorithm — md5 double-hashing signatures over FOUR
    * independent base-hash families (round-16: permutation i derives from
    * family i/8, whose hash pair comes from the salted md5('~'·(i/8) ||
    * sg); permutation j within a family = a + (j+1)*b with a = 60 bits,
    * b = 32 bits), 8×4 banding, candidate generation, exact-Jaccard
    * verification. Ends with a `pairs(doc_a, doc_b, jaccard)` CTE; callers
    * prepend `WITH ` (or `WITH RECURSIVE `) and append their final SELECT.
    */
  private lazy val MinhashPairsCtes: String = {
    // every structural knob interpolated from TextOps' pinned constants
    // (NumPerms/PermsPerFamily/NumFamilies/NumBands/BandRows, famCols,
    // md5Salt) — the engine and this oracle move together or the diff
    // shows the broken tie (ADVICE r16; the q234/q237 discipline)
    import graft.operators.TextOps.{NumPerms, PermsPerFamily, NumFamilies,
      NumBands, BandRows, famCols, md5Salt}
    val minCols = (0 until NumPerms).map { i =>
      val (a, b) = famCols(i / PermsPerFamily)
      s"min($a + ${i % PermsPerFamily + 1} * $b) AS mh_$i"
    }.mkString(",\n         ")
    val abCols = (0 until NumFamilies).map { f =>
      val (a, b) = famCols(f)
      val h = if (f == 0) "md5(sg)" else s"md5('${md5Salt(f)}' || sg)"
      s"""CAST(('0x' || substr($h, 1, 15)) AS BIGINT) AS $a,
         CAST(('0x' || substr($h, 16, 8)) AS BIGINT) AS $b"""
    }.mkString(",\n         ")
    val bandSelects = (0 until NumBands).map { b =>
      val cols = (0 until BandRows).map(r =>
        s"CAST(mh_${b * BandRows + r} AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cols) AS bucket FROM mins"
    }.mkString("\n  UNION ALL\n  ")
    s"""d AS (
  SELECT doc_id, lang, source,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, lang, source, string_split(norm, ' ') AS toks FROM d
), sh AS (
  SELECT DISTINCT doc_id, lang, source,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sg
  FROM t
), ab AS (
  SELECT doc_id,
         $abCols
  FROM sh
), mins AS (
  SELECT doc_id,
         $minCols
  FROM ab GROUP BY doc_id
), bands AS (
  $bandSelects
), cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
), cnt AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
    JOIN sh x ON x.doc_id = c.doc_a
    JOIN sh y ON y.doc_id = c.doc_b AND y.sg = x.sg
  GROUP BY 1, 2
), pairs AS (
  SELECT c.doc_a, c.doc_b,
         round(CAST(coalesce(i, 0) AS DOUBLE) / (ca.n + cb.n - coalesce(i, 0)), 6) + 0 AS jaccard
  FROM cand c
    LEFT JOIN inter ON c.doc_a = inter.doc_a AND c.doc_b = inter.doc_b
    JOIN cnt ca ON c.doc_a = ca.doc_id
    JOIN cnt cb ON c.doc_b = cb.doc_id
  WHERE round(CAST(coalesce(i, 0) AS DOUBLE) / (ca.n + cb.n - coalesce(i, 0)), 6) >= 0.5
)"""
  }

  /** Shared oracle CTE chain for the portable SimHash signature (q57, q79):
    * 60 signed bit counters over md5-derived 60-bit token hashes, sign →
    * bit. Ends with `sig(doc_id, simhash)`; callers prepend `WITH ` and
    * append their final SELECT.
    */
  private lazy val SimhashSigCtes: String = {
    val counters = (0 until 60).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s_$b").mkString(",\n         ")
    val bitsSum = (0 until 60).map(b =>
      s"CASE WHEN s_$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END").mkString("\n         + ")
    s"""d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT DISTINCT doc_id, unnest(string_split(norm, ' ')) AS tok FROM d
), hh AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM t
), c AS (
  SELECT doc_id,
         $counters
  FROM hh GROUP BY doc_id
), sig AS (
  SELECT doc_id,
         CAST($bitsSum AS BIGINT) AS simhash
  FROM c
)"""
  }

  private def cosSql(v: String, c: String): String =
    s"list_dot_product($v, $c) / nullif(sqrt(list_dot_product($v, $v)) * sqrt(list_dot_product($c, $c)), 0)"

  /** Morton bit-interleave as unrolled SQL arithmetic (q132): x in even bit
    * positions, y in odd — terms occupy disjoint bits, so `+` ≡ bitwise OR,
    * mirroring `Layout.zValue`'s shift/mask/or fold exactly.
    */
  private def zInterleaveSql(x: String, y: String, bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"((($x >> $i) & 1) << ${2 * i})",
      s"((($y >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")

  /** Oracle chain replaying `Learn.trainGlm` + `glmQualityGate`: the
    * rational Elliott-sigmoid GLM fit by full-batch GD, iterations unrolled
    * as CTE pairs (gradient sums → weight update). Gradient terms rounded
    * at 9 and summed as DECIMAL(30,12) (exact, order-free); weights
    * round(·, 6) per iteration; zero libm anywhere — the
    * bit-reproducibility contract documented in Learn.scala.
    */
  private def glmOracleSql(iters: Int, lr: String): String = {
    def z = s"(w.b + w.c1 * x1 + w.c2 * x2 + w.c3 * x3)"
    def sg = s"(0.5 + (0.5 * $z) / (1.0 + abs($z)))"
    val its = (1 to iters).map { i =>
      val p = s"w${i - 1}"
      s""", g$i AS (
  SELECT count(*) AS n,
         sum(CAST(round(y - $sg, 9) AS DECIMAL(30,12))) AS s0,
         sum(CAST(round((y - $sg) * x1, 9) AS DECIMAL(30,12))) AS s1,
         sum(CAST(round((y - $sg) * x2, 9) AS DECIMAL(30,12))) AS s2,
         sum(CAST(round((y - $sg) * x3, 9) AS DECIMAL(30,12))) AS s3
  FROM f CROSS JOIN $p w
), w$i AS (
  SELECT round(w.b  + $lr * (CAST(g.s0 AS DOUBLE) / g.n), 6) AS b,
         round(w.c1 + $lr * (CAST(g.s1 AS DOUBLE) / g.n), 6) AS c1,
         round(w.c2 + $lr * (CAST(g.s2 AS DOUBLE) / g.n), 6) AS c2,
         round(w.c3 + $lr * (CAST(g.s3 AS DOUBLE) / g.n), 6) AS c3
  FROM g$i g CROSS JOIN $p w
)"""
    }.mkString
    s"""
WITH f AS (
  SELECT lang,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         CAST(least(n_chars, 2000) AS DOUBLE) / 2000.0 AS x1,
         CAST(length(text) - length(replace(text, '.', '')) AS DOUBLE)
           / (CAST(n_chars AS DOUBLE) + 1.0) AS x2,
         CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE)
           / (CAST(n_chars AS DOUBLE) + 1.0) AS x3
  FROM documents
), w0 AS (SELECT 0.0 AS b, 0.0 AS c1, 0.0 AS c2, 0.0 AS c3)$its
, scored AS (
  SELECT lang, $sg AS s, w.b, w.c1, w.c2, w.c3
  FROM f CROSS JOIN w$iters w
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(round(s, 9) AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6) + 0
         AS mean_score,
       CAST(sum(CASE WHEN s > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       max(b) + 0 AS w_bias, max(c1) + 0 AS w_len,
       max(c2) + 0 AS w_dot, max(c3) + 0 AS w_space
FROM scored GROUP BY lang ORDER BY lang"""
  }

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
    * interpolate `Similarity.Ivf*` (ADVICE r15 — the q234 discipline), so
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

  /** Shared oracle CTE chain computing the composite quality score
    * (q31's formula) per document — ends with
    * `qscore(doc_id, lang, source, text, score)`. Reused by q105 / q113 /
    * q115; callers append CTEs with a leading comma or a final SELECT.
    */
  private val QualityCtes: String = """WITH d AS (
  SELECT doc_id, lang, source, text,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), m AS (
  SELECT doc_id, lang, source, text,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(regexp_extract_all(text, '[^\s]+', 0)) AS BIGINT) AS n_tokens,
    CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS alnum_space,
    CAST(len(regexp_extract_all(norm, '\b(the|a|and|of|to|in|is)\b', 0)) AS BIGINT) AS stop_hits
  FROM d
), rr AS (
  SELECT doc_id, lang, source, text, n_tokens,
    CAST(n_chars - alnum_space AS DOUBLE) / nullif(CAST(n_chars AS DOUBLE), 0) AS punct_ratio,
    CAST(stop_hits AS DOUBLE) / nullif(CAST(n_tokens AS DOUBLE), 0) AS stopword_ratio
  FROM m
), qscore AS (
  SELECT doc_id, lang, source, text,
    round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4
          + (1.0 - punct_ratio) * 0.3
          + least(1.0, stopword_ratio * 5.0) * 0.3, 6) + 0 AS score
  FROM rr
)"""

  /** Oracle for q98: the co-purchase edge CTEs plus `iters` unrolled
    * PageRank rounds in the scaled formulation (r⁰ = 1,
    * rᵗ⁺¹ = round(0.15 + 0.85·Σ rᵗ(u)/deg(u), 6)) — the same
    * quantize-per-iteration replay technique as [[KmeansCellsCtes]].
    */
  /** q144 oracle: the engine's BFS rounds unrolled — round i = union of
    * (previous distances, previous frontier pushed one hop) min-merged per
    * node — over the same co-purchase edge derivation as pageRankOracle.
    */
  private def bfsOracleSql(hops: Int): String = {
    val rounds = (1 to hops).map { i =>
      val prev = s"d${i - 1}"
      s""", d$i AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM $prev
    UNION ALL
    SELECT u.v AS node, d.dist + 1 AS dist FROM $prev d JOIN u ON u.u = d.node
  ) AS t GROUP BY node
)"""
    }.mkString
    s"""WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), e AS (
  SELECT a.pk AS src, b.pk AS dst
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
), u AS (
  SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst AS u, src AS v FROM e
), d0 AS (
  SELECT min(src) AS node, 0 AS dist FROM e
)$rounds
SELECT CAST(dist AS BIGINT) AS dist, CAST(count(*) AS BIGINT) AS n_nodes,
       min(node) AS min_node, max(node) AS max_node
FROM d$hops GROUP BY dist ORDER BY dist"""
  }

  /** The q184 oracle: the Bellman–Ford rounds unrolled in SQL — the q144
    * unrolling lifted to the min-plus semiring (relax by dist + w instead
    * of dist + 1).
    */
  private def weightedPathsOracleSql(rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      val prev = s"d${i - 1}"
      s""", d$i AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM $prev
    UNION ALL
    SELECT u.v AS node, d.dist + u.w AS dist FROM $prev d JOIN u ON u.u = d.node
  ) AS t GROUP BY node
)"""
    }.mkString
    s"""WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), e AS (
  SELECT a.pk AS src, b.pk AS dst, count(*) AS w
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
), u AS (
  SELECT src AS u, dst AS v, w FROM e UNION ALL SELECT dst AS u, src AS v, w FROM e
), d0 AS (
  SELECT min(src) AS node, CAST(0 AS BIGINT) AS dist FROM e
)$rs
SELECT node, CAST(dist AS BIGINT) AS dist FROM d$rounds ORDER BY node"""
  }

  private def pageRankOracle(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s""", r$i AS (
  SELECT d.node, round(0.15 + 0.85 * COALESCE(s.inflow, 0), 6) + 0 AS rank
  FROM deg d LEFT JOIN (
    SELECT u.v AS node, sum(r.rank / dg.deg) AS inflow
    FROM u JOIN $prev r ON u.u = r.node JOIN deg dg ON u.u = dg.node
    GROUP BY u.v) s ON d.node = s.node
)"""
    }.mkString
    s"""WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), e AS (
  SELECT a.pk AS src, b.pk AS dst
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
), u AS (
  SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst AS u, src AS v FROM e
), deg AS (
  SELECT u AS node, count(*) AS deg FROM u GROUP BY u
), r0 AS (
  SELECT node, 1.0 AS rank FROM deg
)$rounds
SELECT d.node AS partkey, CAST(d.deg AS BIGINT) AS degree, r.rank
FROM deg d JOIN r$iters r ON d.node = r.node
ORDER BY r.rank DESC, partkey"""
  }

  // ---------------------------------------------------------------------------
  // Query surface
  // ---------------------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- market/finance parity (SURVEY §2.2–§2.6, §2.8) --
    "q01_daily_bars" -> ((s, dir) =>
      MarketView.dailyBars(s, dir)
        .select(col("symbol"), dateStr(col("date")).as("date"),
          col("open"), col("high"), col("low"), col("close"), col("volume"))
        .orderBy("symbol", "date")),

    "q02_pct_change" -> ((s, dir) =>
      MarketView.fact(s, dir)
        .select(col("symbol"), dateStr(col("date")).as("date"), col("close"),
          col("prev_close"), rd(col("variacao_diaria"), 6).as("variacao_diaria"))
        .orderBy("symbol", "date")),

    "q03_weekly_volatility" -> ((s, dir) =>
      Analytics.weeklyVolatility(MarketView.fact(s, dir))
        .select(col("symbol"), dateStr(col("semana")).as("semana"), rd(col("vol"), 6).as("vol"))
        .orderBy("symbol", "semana")),

    "q04_top_volatility" -> ((s, dir) =>
      Analytics.avgVolatilityPerTicker(MarketView.fact(s, dir)).limit(1)),

    "q05_risk_profile" -> ((s, dir) =>
      Analytics.riskProfile(MarketView.fact(s, dir))),

    "q06_liquidity" -> ((s, dir) =>
      Analytics.liquidity(MarketView.dailyBars(s, dir))),

    "q07_global_stats" -> ((s, dir) =>
      Analytics.globalStats(MarketView.fact(s, dir))),

    "q08_dim_instrument" -> ((s, dir) =>
      Analytics.dimInstrument(MarketView.dailyBars(s, dir))),

    "q09_dim_tempo" -> ((s, dir) =>
      Analytics.dimTempo(MarketView.dailyBars(s, dir))),

    "q10_quality_gate" -> ((s, dir) =>
      Analytics.qualityGate(MarketView.dailyBars(s, dir))),

    "q11_weekly_vol_rounded" -> ((s, dir) =>
      Analytics.weeklyVolatilityRounded(MarketView.fact(s, dir))),

    "q12_top_performance" -> ((s, dir) =>
      Analytics.topPerformance(MarketView.fact(s, dir), 5)),

    "q13_investor_scores" -> ((s, dir) =>
      Analytics.investorScores(MarketView.fact(s, dir))),

    "q14_monthly_summary" -> ((s, dir) =>
      Analytics.monthlySummary(MarketView.dailyBars(s, dir))),

    // -- star joins over the TPC-H tables (SURVEY §2.3) --
    "q15_star_revenue" -> ((s, dir) => Stars.revenueByRegionNation(s, dir)),
    "q16_top_customers" -> ((s, dir) => Stars.topCustomers(s, dir, 10)),
    "q17_part_type_stats" -> ((s, dir) => Stars.partTypeStats(s, dir)),
    "q18_semi_join_big_orders" -> ((s, dir) => Stars.customersWithBigOrders(s, dir, 450000.0)),
    "q19_anti_join_no_big_orders" -> ((s, dir) => Stars.customersWithoutBigOrders(s, dir, 450000.0)),
    "q20_pricing_summary" -> ((s, dir) => Stars.pricingSummary(s, dir)),
    "q21_orders_by_month" -> ((s, dir) => Stars.ordersByMonth(s, dir)),

    // -- event-stream shapes in batch (SURVEY §2.9) --
    "q22_events_weekly" -> ((s, dir) =>
      EventOps.weeklyTumbling(s, dir)
        .select(col("event_type"), dateStr(col("semana")).as("semana"),
          col("n_events"), col("n_users"), col("sum_value"))
        .orderBy("event_type", "semana")),
    "q23_user_sessions" -> ((s, dir) => EventOps.userSessions(s, dir)),
    // ordered conversion funnel (view -> click -> purchase by first
    // occurrence): one scan, one shuffle on user_id, singleton rollup.
    // Comparisons run on the raw nanosecond longs - no precision loss
    "q63_event_funnel" -> ((s, dir) => {
      val f = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("ts_ns"))).as("tv"),
          min(when(col("event_type") === "click", col("ts_ns"))).as("tc"),
          min(when(col("event_type") === "purchase", col("ts_ns"))).as("tp"))
      f.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("tv").isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("tv").isNotNull && col("tc").isNotNull &&
          col("tc") > col("tv"), 1L).otherwise(0L)).as("n_view_click"),
        sum(when(col("tv").isNotNull && col("tc").isNotNull && col("tp").isNotNull &&
          col("tc") > col("tv") && col("tp") > col("tc"), 1L).otherwise(0L))
          .as("n_view_click_purchase"))
    }),
    "q24_props_rollup" -> ((s, dir) => EventOps.propsRollup(s, dir)),

    // -- LLM-pipeline text operators over documents (north-star extension) --
    "q25_dedup_exact" -> ((s, dir) => TextOps.dedupExactProfile(s, dir)),
    "q26_dedup_normalized" -> ((s, dir) => TextOps.dedupNormalizedProfile(s, dir)),
    "q27_jaccard_pairs" -> ((s, dir) => TextOps.jaccardPairs(s, dir, 20)),
    "q28_minhash_lsh" -> ((s, dir) => TextOps.minHashLshPairs(s, dir, 0.5)),
    "q49_minhash_lsh_portable" -> ((s, dir) => TextOps.minHashLshPairsPortable(s, dir, 0.5)),
    // near-dup cluster canonicalization: connected components over the
    // verified pair graph (computed on collapsed reps, expanded to members) —
    // the per-doc cluster assignment a dedup pipeline consumes. Oracled via a
    // recursive-CTE transitive closure over the raw pair graph.
    "q74_neardup_clusters" -> ((s, dir) => TextOps.nearDupClusters(s, dir, 0.5)),
    // shingle novelty: fraction of each doc's shingles first seen in that doc
    "q75_novelty" -> ((s, dir) => TextOps.noveltyProfile(s, dir)),
    // incremental dedup: classify the src0 batch against the rest of the
    // corpus (exact digest / lang-bucketed Jaccard / novel) — the daily-
    // increment workflow that never re-dedups the historical corpus
    "q76_incremental_dedup" -> ((s, dir) =>
      TextOps.incrementalDedup(s, dir, "src0", 0.5)),

    // cross-document boilerplate: fraction of each doc's shingles shared by
    // more than 2 documents — the C4-style template/nav-bar signal
    "q78_boilerplate" -> ((s, dir) => TextOps.boilerplateProfile(s, dir, 2)),

    // MAD-based robust outliers: median absolute deviation per symbol,
    // Iglewicz–Hoaglin modified z-score |0.6745·(x−med)/MAD| > 3.5 — the
    // outlier DETECTOR companion to q72's winsorization (which clips);
    // two tiny percentile relations broadcast back over one scan each
    "q77_mad_outliers" -> ((s, dir) => {
      val r = MarketView.fact(s, dir).filter(col("variacao_diaria").isNotNull)
      val med = r.groupBy("symbol")
        .agg(expr("percentile(variacao_diaria, 0.5)").as("med"))
      val dev = r.join(broadcast(med), "symbol")
        .select(col("symbol"), col("variacao_diaria").as("x"), col("med"),
          abs(col("variacao_diaria") - col("med")).as("dev"))
      val mad = dev.groupBy("symbol").agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "symbol")
        .groupBy("symbol")
        .agg(
          rd(max(col("med")), 6).as("median_return"),
          rd(max(col("mad")), 6).as("mad"),
          sum(when(col("mad") > 0 &&
            abs(lit(0.6745) * (col("x") - col("med")) / col("mad")) > 3.5,
            1L).otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n_days"))
        .orderBy("symbol")
    }),
    "q29_simhash" -> ((s, dir) => TextOps.simHash(Tables.documents(s, dir))),
    "q57_simhash_portable" -> ((s, dir) => TextOps.simHashPortable(Tables.documents(s, dir))),
    // simhash near-dup retrieval: chunk-banded on cluster reps, exhaustive
    // for Hamming <= 3 by pigeonhole — fully oracled against the all-pairs
    // raw answer
    "q79_simhash_neardup" -> ((s, dir) => TextOps.simHashNearDups(s, dir, 3)),
    "q30_lang_id" -> ((s, dir) => TextOps.langId(Tables.documents(s, dir))),
    "q31_text_quality" -> ((s, dir) => TextOps.qualityMetrics(Tables.documents(s, dir))),
    "q32_token_counts" -> ((s, dir) => TextOps.tokenCounts(s, dir)),
    "q33_fingerprints" -> ((s, dir) => TextOps.fingerprints(Tables.documents(s, dir))),
    "q50_pii_redaction" -> ((s, dir) => TextOps.redactionProfile(s, dir)),
    "q51_token_histogram" -> ((s, dir) => TextOps.tokenHistogram(s, dir)),
    // deterministic hash-bucket train/val/test split: membership is a pure
    // function of doc_id (stable under corpus growth, reproducible on any
    // engine) — the sampling primitive of a training-data pipeline
    "q59_split_profile" -> ((s, dir) => TextOps.splitProfile(s, dir)),
    // deterministic stratified sample: the 3 docs per source with the
    // smallest md5(doc_id) — balanced, reproducible on any engine, stable
    // under corpus growth for surviving keys. The rank window partitions by
    // source: per-stratum cardinality, never corpus-wide sort
    "q71_stratified_sample" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("hk").asc, col("doc_id").asc)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), md5(col("doc_id").cast("string")).as("hk"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("source"), col("rk"), col("doc_id"))
        .orderBy("source", "rk")
    }),

    // winsorized robust stats: clip each symbol's daily returns to its own
    // [p05, p95] band, report raw vs clipped mean — outlier-robust
    // aggregation, one scan + one broadcast of the tiny percentile relation
    "q72_winsorized_returns" -> ((s, dir) => {
      val r = MarketView.fact(s, dir).filter(col("variacao_diaria").isNotNull)
      val bounds = r.groupBy("symbol").agg(
        expr("percentile(variacao_diaria, 0.05)").as("lo"),
        expr("percentile(variacao_diaria, 0.95)").as("hi"))
      r.join(broadcast(bounds), "symbol")
        .groupBy("symbol")
        .agg(
          rd(avg(col("variacao_diaria")), 6).as("mean_raw"),
          rd(avg(greatest(col("lo"), least(col("hi"), col("variacao_diaria")))), 6)
            .as("mean_winsorized"),
          sum(when(col("variacao_diaria") < col("lo") ||
            col("variacao_diaria") > col("hi"), 1L).otherwise(0L)).as("n_clipped"))
        .orderBy("symbol")
    }),

    // fuzzy record linkage: Levenshtein within (lang, 12-char-prefix) blocks
    // — edit distance never runs on a cross product
    "q70_fuzzy_match" -> ((s, dir) =>
      TextOps.fuzzyMatches(Tables.documents(s, dir), 20)),
    // within-doc repetition (duplicated-trigram fraction + top-gram share):
    // the Gopher/C4 boilerplate signal
    "q64_repetition" -> ((s, dir) =>
      TextOps.repetitionMetrics(Tables.documents(s, dir))),
    // cross-dataset contamination: docs of src0 sharing >= 1 trigram with
    // src1, per lang — the eval-benchmark leakage check
    "q65_contamination" -> ((s, dir) =>
      TextOps.contaminationProfile(s, dir, "src0", "src1")),
    // TF-IDF discriminative terms per lang: the rank window runs over the
    // aggregated vocabulary, never the token stream
    "q60_tfidf_terms" -> ((s, dir) => TextOps.tfidfTopTerms(s, dir, 10)),
    // unigram LM surprisal: the CCNet-style quality-filter signal
    "q82_unigram_surprisal" -> ((s, dir) => TextOps.unigramSurprisal(s, dir)),
    // GPT-style concat-then-chunk packing via distributed prefix sum
    "q83_pack_sequences" -> ((s, dir) => TextOps.packSequences(s, dir, 512)),
    // materialized spans of that packing: documents split across sequence
    // boundaries — (seq_id, doc_id, start_tok, n_tok), the relation a
    // training loader consumes. Per-row generator over the offsets pass.
    "q84_packed_spans" -> ((s, dir) => TextOps.packedSpans(s, dir, 512)),
    // CCNet-style head/middle/tail quality tertiles per language over the
    // q82 surprisal scores — the stratification step before sampling
    "q88_surprisal_buckets" -> ((s, dir) => TextOps.surprisalBuckets(s, dir)),
    // temperature-based (α = 1/2) source mixture weights + sample factors —
    // the multi-domain sampling census a training loader consumes
    "q89_mixture_weights" -> ((s, dir) => TextOps.mixtureWeights(s, dir)),
    // deterministic per-epoch shuffle plan over the packed sequences: every
    // sequence keyed by md5(epoch:seq_id), read in key order — no global
    // rank window, so the "shuffle" is a distributed range sort at any scale
    "q91_epoch_shuffle" -> ((s, dir) =>
      TextOps.epochShufflePlan(s, dir, 512, epochs = 2)),
    // content-defined chunking dedup census: hash-derived boundaries, chunk
    // digests, per-source duplicated-chunk ratio — array-native, no
    // per-character explosion
    "q92_cdc_chunks" -> ((s, dir) => TextOps.cdcChunkProfile(s, dir)),
    // BPE merge-candidate statistics: top-5 adjacent token pairs per lang
    "q93_bpe_pairs" -> ((s, dir) => TextOps.bpePairStats(s, dir, 5)),
    // custom keyed state on the gate: mapGroupsWithState running per-user
    // profile (exact BigDecimal accumulation), final snapshot oracled
    // against the batch groupBy
    "q94_stream_running_stats" -> ((s, dir) =>
      graft.streaming.StreamingOps.runningStatsParity(s, dir)),
    // directed containment: the asymmetric overlap Jaccard can't see —
    // partial-copy detection over the same collapsed/bucketed shingle base
    "q96_containment_pairs" -> ((s, dir) => TextOps.containmentPairs(s, dir, 20)),
    // bloom-prefiltered exact dedup: the corpus digest set as ONE bloom
    // artifact, batch probed before the verify semi-join; no false
    // negatives, so the oracle is the bloom-free SQL — hash-equality IS
    // the proof the prefilter changes nothing
    "q95_bloom_prefilter" -> ((s, dir) =>
      TextOps.bloomPrefilterDedup(s, dir, "src0")),
    // positional duplicated-passage coverage: fraction of each document's
    // token positions inside at least one corpus-duplicated 3-gram — the
    // span a span-level cleaner cuts; df read off an aggregate, never a
    // self-join
    "q97_dup_passages" -> ((s, dir) => TextOps.dupPassageCoverage(s, dir)),
    // BM25 retrieval over the corpus for a fixed query-term set: postings
    // filtered to the terms BEFORE aggregation, df/avgdl broadcast,
    // top-k via sort+limit (TakeOrderedAndProject)
    "q101_bm25" -> ((s, dir) =>
      TextOps.bm25TopDocs(s, dir, Seq("table", "scan", "merge", "hash"), 20)),
    // weighted sampling without replacement (Efraimidis–Spirakis md5 keys):
    // reproducible on any worker, k smallest keys per source
    "q102_weighted_sample" -> ((s, dir) => TextOps.weightedSample(s, dir, 5)),
    // fixed-grid overlapping RAG chunks (size 32, stride 24): per-row
    // generator, chunk digests for dedup — the retrieval-side twin of q84
    "q104_rag_chunks" -> ((s, dir) => TextOps.ragChunks(s, dir, 32, 24)),
    // cross-language quality calibration: per-lang percent-rank
    // quantile normalization + decile buckets
    "q105_quality_calibration" -> ((s, dir) => TextOps.qualityCalibration(s, dir)),
    // 5-iteration PageRank over the part co-purchase graph — the iterative
    // equi-join+aggregate loop (CC's execution shape, applied to ranking);
    // ranks quantized 6dp per iteration (q73's determinism contract) so the
    // oracle replays the loop in unrolled SQL
    "q98_copurchase_pagerank" -> ((s, dir) => GraphOps.copurchasePageRank(s, dir)),
    // calendar gap-fill + forward-fill of a sparse daily series: per-key
    // spine explode, keyed left join, per-supplier ffill window
    "q99_gap_fill" -> ((s, dir) => Analytics.gapFillDailySupplier(s, dir)),
    // incremental MV maintenance contract: weekly stats REASSEMBLED from
    // daily sufficient-statistic partials; the oracle states the DIRECT
    // computation — hash-equality proves partial-merge ≡ direct
    "q100_partial_merge" -> ((s, dir) =>
      Analytics.weeklyFromPartials(Analytics.dailyValuePartials(s, dir))),
    // streaming exact dedup on the gate: AvailableNow dropDuplicates whose
    // emitted key set is oracled against batch DISTINCT
    "q103_stream_dedup" -> ((s, dir) =>
      graft.streaming.StreamingOps.dedupParity(s, dir)),
    // SCD2-style temporal compaction: per-customer order-status runs
    // compressed to constant-state intervals (gaps-and-islands; CDC log
    // compaction read path)
    "q106_status_intervals" -> ((s, dir) => Stars.statusIntervals(s, dir)),
    // last-touch attribution via the as-of operator: every purchase
    // attributed to the user's most recent view/click within 24 h
    "q107_attribution" -> ((s, dir) => EventOps.lastTouchAttribution(s, dir)),
    // stream-stream interval join on the gate (5th streaming gate row):
    // AvailableNow clicks⋈purchases within 10 min, inner join — the emitted
    // pair set is batch-identical by construction
    "q108_stream_join" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamJoinParity(s, dir)),
    // rolling 30-day pairwise correlation: q68's static corr over a moving
    // frame — one window scan per symbol pair
    "q109_rolling_corr" -> ((s, dir) => Analytics.rollingCorrelation(s, dir)),
    // salted exact distinct counts ON THE GATE: hash(value) salting keeps
    // per-bucket distincts additive, so the result is PROVABLY the plain
    // count-distinct — the oracle states the unsalted SQL and hash-equality
    // is the proof (q95's framing, applied to skew mitigation)
    "q110_salted_distinct" -> ((s, dir) =>
      Skew.saltedDistinctCount(Tables.lineitem(s, dir), "l_suppkey", "l_partkey", 8)
        .orderBy("l_suppkey")),
    // the remaining window-function surface in one relation: lead, lag@2,
    // nth_value over an explicit running frame, cume_dist
    "q111_window_suite" -> ((s, dir) =>
      Analytics.windowSuite(MarketView.dailyBars(s, dir))),
    // the custom TopKByScore TypedImperativeAggregate ON THE GATE directly:
    // map-side k-heaps mean the shuffle carries <= k rows per partition per
    // group (never all candidates); the oracle states the rank-window SQL —
    // hash-equality proves the heap aggregate == the window formulation
    "q113_topk_aggregate" -> ((s, dir) => {
      // DIRECT shape, re-verified round 8 (SCALING.md "q113 re-bisect"):
      // the round-7 "40x ObjectHashAggregate projection quirk" does not
      // reproduce — direct is 0.32 s min at 100x in fresh, cache-matched,
      // and post-shuffle sessions alike, while every materialization
      // barrier tested is WORSE (localCheckpoint: 25 s standalone — the
      // expensive projection at the RDD row boundary IS the slow path;
      // repartition: shuffles the full scored corpus). Direct is also the
      // only 100 TB-correct shape: the map-side partial k-heaps bound the
      // shuffle at k rows/partition/group (PlanSpec pins partial-below-
      // exchange).
      val scored = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
          rd(TextOps.qualityScore(col("text")), 6).as("score"))
      scored.groupBy("lang")
        .agg(graft.functions.TopKByScore.topK(col("score"), col("doc_id"), 3).as("top"))
        .select(col("lang"), explode(col("top")).as("e"))
        .select(col("lang"), col("e.rk").as("rk"), col("e.id").as("doc_id"),
          col("e.score").as("score"))
        .orderBy("lang", "rk")
    }),
    // second-order LM quality signal: bigram surprisal with unigram
    // interpolation (λ = ½, exact binary) — q82's model one order up;
    // bigrams from a per-row array transform, NO lag window
    "q114_bigram_surprisal" -> ((s, dir) => TextOps.bigramSurprisal(s, dir)),
    // keep-best dedup ON THE GATE: among exact duplicates the
    // highest-quality row survives (one struct-max hash aggregation, no
    // window); oracle states the rank-window SQL
    "q115_dedup_keepbest" -> ((s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .withColumn("score", rd(TextOps.qualityScore(col("text")), 6))
      TextOps.dedupKeepBest(scored, "score")
        .select(col("doc_id"), col("lang"), col("source"), col("score"))
        .orderBy("doc_id")
    }),
    // the BPE merge-application LOOP on the gate — q93 counts candidates
    // once; this runs the real tokenizer-training iteration k=5 times
    // (count -> merge top pair -> re-count), fixed-depth like q98's loop.
    // After the one corpus-sized word count, every relation is
    // vocabulary-bounded; the oracle is the same loop unrolled in SQL
    "q117_bpe_merge_loop" -> ((s, dir) => TextOps.bpeTrainMerges(s, dir, 5)),
    // BPE ENCODE: q117's learned merge table APPLIED to the corpus — the
    // per-doc token census after k merges. The merge chain runs over the
    // vocabulary; the corpus word stream joins the encoded vocab by
    // broadcast (never reshuffles for model stats); the only corpus-sized
    // shuffle is the per-doc aggregation
    "q118_bpe_encode" -> ((s, dir) => TextOps.bpeEncode(s, dir, 5)),
    // LEFT-OUTER watermarked stream-stream join ON THE GATE: the NULL
    // emission timing IS the semantics — a click with no purchase is
    // null-emitted only once the watermark passes its whole match window.
    // AvailableNow's end-of-stream watermark makes the emitted set a pure
    // function of the data; the oracle states the batch inner join UNION
    // the unmatched-beyond-window clicks (q87's oracle technique)
    "q116_stream_left_join" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamLeftJoinParity(s, dir)),
    // triangle census with degree orientation: the only super-linear step
    // (the wedge self-join) is bounded by m^1.5 via the arboricity argument
    // — a hub's edges point INTO it, so no neighborhood ever squares.
    // Each triangle counted exactly once at its order-minimum apex
    "q120_copurchase_triangles" -> ((s, dir) => GraphOps.copurchaseTriangles(s, dir)),
    // incremental edge-MV refresh: base ⊎ delta (whole-order CDC grain ⇒
    // additive pair counts) hash-proven ≡ the full rebuild
    "q127_edge_incremental" -> ((s, dir) => GraphOps.edgeIncrementalParity(s, dir)),
    // hybrid retrieval: lexical (shingle-Jaccard) + dense (cosine) lists
    // fused by reciprocal-rank fusion, every stage k-heap-bounded
    "q128_hybrid_rrf" -> ((s, dir) => Similarity.hybridRrf(s, dir, 5, 3)),
    // KMV distinct sketch on the portable 60-bit hash — the fully-oracled
    // cardinality sketch (HLL q53 stays rows-only by contract; this one
    // DuckDB replays bit-for-bit). Min-k via the TopKByScore heap ⇒ the
    // post-distinct shuffle is k-bounded per group
    "q129_kmv_distinct" -> ((s, dir) => Sketches.kmvDistinctGate(s, dir)),
    // count-min heavy hitters: depth×width integer cell relation (map-side
    // combine bounds the shuffle at 256 cells), broadcast probe join,
    // estimate = min over depth rows — integer-exact, no rounding contract
    "q130_cms_heavy_hitters" -> ((s, dir) => Sketches.cmsHeavyHittersGate(s, dir)),
    // DSIR importance resampling (Xie et al. 2023): hashed-unigram bucket
    // log-ratios target/raw broadcast onto the token stream, per-doc
    // log-weight, k-heap selection — bucket ratios rounded BEFORE the doc
    // sum so libm-ln ulps never reach the rank order
    "q131_dsir_resample" -> ((s, dir) => TextOps.dsirResample(s, dir)),
    // Z-order (Morton) layout: bit-interleaved (user, minute-of-day) key as
    // one unrolled codegen'd integer expression; the per-cell envelope
    // profile IS the pruning property — every coarse z-cell bounds both
    // dimensions (LayoutSpec measures actual file-skip rates on disk)
    "q132_zorder_profile" -> ((s, dir) => Layout.zorderProfile(s, dir)),
    // UNICODE NFC canonicalization via the native codegen'd expression —
    // composed vs decomposed accent encodings fracture every content-keyed
    // operator (dedup, shingles, fingerprints) unless keys are normalized
    // first. Decomposed suffixes are synthesized deterministically from
    // doc_id (the corpus itself is ASCII — that path exercises the
    // no-allocation fast path); doc_id%5==3 is a MULTI-MARK sequence
    // (cedilla ccc=202 + ring ccc=230) whose composition requires the full
    // UAX #15 canonical-ordering + blocking logic, and %5==4 is already
    // composed (must pass through unchanged). Oracle = DuckDB's utf8proc
    // nfc_normalize over the same construction; hash equality proves the
    // two UAX #15 implementations agree byte-for-byte
    "q133_unicode_nfc" -> ((s, dir) => {
      val m = pmod(col("doc_id"), lit(5))
      val suffix = when(m === 0, lit("e\u0301")) // e + COMBINING ACUTE -> U+00E9
        .when(m === 1, lit("A\u030A")) // A + COMBINING RING -> U+00C5
        .when(m === 2, lit("o\u0302n\u0303")) // -> U+00F4, U+00F1
        .when(m === 3, lit("A\u0327\u030A")) // multi-mark: cedilla ccc=202 + ring ccc=230; ring composes OVER the cedilla -> U+00C5 U+0327
        .otherwise(lit("\u00E9")) // already-composed U+00E9: NFC no-op
      val d = Tables.documents(s, dir)
        .select(col("lang"), concat(col("text"), suffix).as("dirty"))
        .withColumn("clean", graft.functions.TextFunctions.nfc(col("dirty")))
      d.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("dirty"))).as("len_raw"),
          sum(length(col("clean"))).as("len_nfc"),
          sum(when(col("dirty") =!= col("clean"), 1L).otherwise(0L)).as("n_changed"))
        .orderBy("lang")
    }),
    // DISTRIBUTED MODEL TRAINING: Elliott-sigmoid GLM quality classifier
    // fit by full-batch GD — each iteration ONE map-side-combined aggregate
    // (4 scalars to the driver, zero row traffic). Rational activation +
    // decimal gradient sums + per-iteration weight quantization make the
    // whole training loop bit-reproducible across engines AND across
    // cluster re-runs at any partitioning (Learn.scala contract)
    "q134_glm_quality" -> ((s, dir) => Learn.glmQualityGate(s, dir)),
    // FORMAT BOUNDARY: orders through parquet → ORC → JSONL (declared
    // schemas on every read — no inference scans), aggregate on the JSONL
    // end; oracle reads the ORIGINAL parquet. Hash equality proves both
    // hops lossless (decimal-exact sums, µs timestamps, distinct keys)
    "q135_format_roundtrip" -> ((s, dir) => graft.sources.Formats.roundtripGate(s, dir)),
    // SMALL-FILE COMPACTION: the streaming-ingest pathology (48 tiny
    // files) rewritten by zero-shuffle split-packing (maxPartitionBytes
    // bin-pack, one output file per split); the aggregate runs on the
    // compacted copy, the oracle on the original relation
    "q136_compaction" -> ((s, dir) => Layout.compactionGate(s, dir)),
    // AUDIO SPECTRAL ANALYSIS: Goertzel single-bin DFT (O(N) per probe
    // tone, O(1) state — the tone-detection shape) over pure-tone WAV
    // fixtures aligned on integer DFT bins; closed-form literal oracle,
    // q80's technique. Decode + recurrence run partition-local (mapPartitions)
    "q137_spectral" -> ((s, _) => Multimodal.spectralProfile(s)),
    // VERSIONED TABLE (MVCC): immutable version dirs + atomic pointer swap
    // — the scale-correct evolution of the reference's truncate-and-reload
    // (S3): snapshot isolation, O(1) rollback, vacuum. The gate pins v1
    // AND the published latest from the same path after a rolled-back +
    // vacuumed bad write
    "q138_versioned_table" -> ((s, dir) => graft.sources.Versioned.versionGate(s, dir)),
    // CHANGE DATA FEED: bag-semantics diff (exceptAll) between versions,
    // inserts/deletes profiled; construction makes the exact feed knowable
    "q139_version_changes" -> ((s, dir) => graft.sources.Versioned.changesGate(s, dir)),
    // FORWARD AS-OF: next purchase at-or-after each click per user — the
    // mirror of q42's backward as-of, same single-shuffle union-sort shape
    // with the window direction flipped. Right side pre-deduped per
    // (user, ts) by max event_id so ties are engine-independent
    "q141_asof_next_purchase" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_ns"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_ns"))
        .agg(max(struct(col("event_id"), col("value"))).as("r"))
        .select(col("user_id"), col("ts_ns"),
          col("r.event_id").as("p_id"), col("r.value").as("p_value"))
      AsOf.asofJoinForward(clicks, purchases, "user_id", "ts_ns",
          Seq("p_id", "p_value"))
        .select(col("event_id"), col("user_id"), col("ts_ns"),
          col("asof_p_id").as("next_p_id"), col("asof_p_value").as("next_p_value"))
        .orderBy("event_id")
    }),
    // NEAREST AS-OF with tolerance: the closer of the backward/forward
    // matches within 10 min, ties to the past (the financial convention).
    // Two keyed window passes, both linear
    "q142_asof_nearest" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_ns"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_ns"))
        .agg(max(col("event_id")).as("p_id"))
        .select(col("user_id"), col("ts_ns"), col("p_id"))
      AsOf.asofJoinNearest(clicks, purchases, "user_id", "ts_ns",
          Seq("p_id"), tolerance = Some(600000000000L))
        .select(col("event_id"), col("user_id"), col("ts_ns"),
          col("asof_p_id").as("nearest_p_id"),
          (col("asof_ts_ns") - col("ts_ns")).as("delta_ns"))
        .orderBy("event_id")
    }),
    // MERGE INTO a versioned table: one keyed change batch (updates,
    // deletes, inserts under an _op column) applied by a single full-outer
    // join and committed as a new version — the lakehouse upsert; readers
    // of the old snapshot untouched until the atomic publish
    "q147_versioned_merge" -> ((s, dir) => graft.sources.Versioned.mergeGate(s, dir)),
    // CORPUS MIXING DIAGNOSTICS: per-source lang-distribution entropy and
    // KL divergence vs the corpus-wide mix — what a data-mixture tuner
    // reads before reweighting sources. ln() is libm, so the q82 device
    // applies: ln rounded at 6 on the BOUNDED-DISTINCT ratio relation
    // (sources × langs), then round-9/decimal sums carry it exactly
    "q146_lang_divergence" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      val d = Tables.documents(s, dir)
      val b = d.groupBy("source", "lang").agg(count(lit(1)).as("n"))
      val st = b.groupBy("source").agg(sum("n").as("ns"))
      val c = b.groupBy("lang").agg(sum("n").as("nl"))
      val t = d.agg(count(lit(1)).as("nt"))
      val p = col("n").cast("double") / col("ns")
      val q = col("nl").cast("double") / col("nt")
      b.join(st, "source").join(c, "lang").crossJoin(broadcast(t))
        .select(col("source"), col("ns"),
          round(p * round(log(p), 6), 9).cast(dec).as("ht"),
          round(p * round(log(p / q), 6), 9).cast(dec).as("kt"))
        .groupBy("source")
        .agg(max(col("ns")).as("n_docs"),
          (round(-sum(col("ht")).cast("double"), 6) + lit(0.0)).as("entropy"),
          (round(sum(col("kt")).cast("double"), 6) + lit(0.0)).as("kl_vs_corpus"))
        .orderBy("source")
    }),
    // STREAM-STATIC ENRICHMENT: live stream × broadcast static dimension,
    // re-planned per micro-batch — zero join state, no watermark; facts
    // without a dim row flow under 'UNKNOWN' (enrichment never drops).
    // A real AvailableNow lifecycle, batch-SQL oracle
    "q145_stream_enrich" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamStaticEnrichParity(s, dir)),
    // PER-DIMENSION EMBEDDING STATISTICS — the feature-standardization
    // pass (mean/var/min/max per coordinate) an ML pipeline runs before
    // whitening: posexplode → 64-group hash aggregate, map-side combined;
    // means/variances via the round-9/decimal contract
    "q143_dim_stats" -> ((s, dir) => {
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
    }),
    // BOUNDED-HOP BFS over the co-purchase graph: frontier join + min-agg
    // rounds (Pregel's message round as a keyed equi-join), edge relation
    // checkpointed once; profiled per distance ring
    "q144_bfs_rings" -> ((s, dir) => GraphOps.bfsGate(s, dir)),
    // HIGHER-ORDER ARRAY FUNCTIONS: transform/filter/aggregate/exists over
    // the embedding arrays (fixed 64-wide per FIXTURES.md, though nothing
    // here assumes the width) — the right tool when per-element logic
    // doesn't justify a custom expression (vec_dot exists for the hot
    // loops). Fold-order parity with the oracle's list_* lambdas rides the
    // established vec_dot ≡ list_dot_product ascending-left-fold contract;
    // per-row folds are round-at-9 → decimal-summed across rows (order-free)
    "q140_array_hof" -> ((s, dir) => {
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
    }),
    // FULL-OUTER watermarked stream-stream join: q116's completion — BOTH
    // dangling sides null-emit, on DIFFERENT cuts (a click's match window
    // ends at click_ts + w; a purchase's ends at its OWN ts, since it can
    // only match clicks at or before itself). Oracle states both cuts
    "q119_stream_full_join" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamFullJoinParity(s, dir)),
    // EVENT-TIME TIMERS: flatMapGroupsWithState session-timeout emitter —
    // sessions fire when the WATERMARK passes last_ts + gap (a no-data
    // micro-batch does the work), not when data arrives. Strict cut at the
    // ms-grained watermark, pinned by the boundary spec
    "q126_stream_session_timeout" -> ((s, dir) =>
      graft.streaming.StreamingOps.sessionTimeoutParity(s, dir)),
    // UNPIVOT — the inverse of q66's PIVOT: the wide weekly matrix melted
    // back to (semana, event_type, n), zero cells preserved
    "q112_unpivot_weekly" -> ((s, dir) => {
      val wide = Tables.events(s, dir)
        .select(date_trunc("week", col("date")).cast(org.apache.spark.sql.types.DateType).as("wk"),
          col("event_type"))
        .groupBy("wk")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .select(dateStr(col("wk")).as("semana"), col("click"), col("error"),
          col("purchase"), col("signup"), col("view"))
      wide.unpivot(Array(col("semana")),
          Array(col("click"), col("error"), col("purchase"), col("signup"), col("view")),
          "event_type", "n")
        .orderBy("semana", "event_type")
    }),

    // -- streaming on the correctness gate: a REAL Structured Streaming run
    // (file source → tumbling-window agg → memory sink, Trigger.AvailableNow
    // to completion) whose materialized result is oracled with the
    // batch-equivalent SQL — the §2.9 batch≡stream equivalence as a
    // hash-exact driver row, not just a spec --
    "q85_stream_weekly" -> ((s, dir) =>
      graft.streaming.StreamingOps.weeklyTumblingParity(s, dir)),

    // the harder streaming gate: SESSION windows in Append mode — the
    // emitted set is the sessions finalized by the end-of-stream watermark,
    // a pure function of the data that the oracle's gaps-and-islands SQL
    // states explicitly (last_ts + gap <= max(ts) - delay)
    "q87_stream_sessions" -> ((s, dir) =>
      graft.streaming.StreamingOps.sessionParity(s, dir)),

    // -- corrupt-input quarantine profile: lenient CSV / JSONL / video
    // container ingest over a deterministic corrupt fixture corpus; the
    // quarantine counts are closed-form constants stated as a literal oracle
    // (q80/q81 technique) — malformed inputs are counted, never dropped --
    "q86_quarantine_profile" -> ((s, _) => Quality.quarantineProfile(s)),

    // -- similarity search over embeddings (north-star extension) --
    "q34_knn_brute" -> ((s, dir) => Similarity.bruteKnn(s, dir, 5, 3)),
    "q35_knn_lsh" -> ((s, dir) => Similarity.lshKnn(s, dir, 5, 3)),
    // int8 scalar-quantized ANN: bucket + coarse-rank on the 4×-smaller
    // quantized corpus (scales cancel in cosine; integer dots exact in
    // double), float rescore only on the survivors
    "q125_int8_knn" -> ((s, dir) => Similarity.int8Knn(s, dir, 5, 3)),
    "q36_label_centroids" -> ((s, dir) => Similarity.labelCentroids(s, dir)),
    "q37_centroid_similarity" -> ((s, dir) => Similarity.centroidSimilarity(s, dir)),
    "q38_embedding_neardup" -> ((s, dir) => Similarity.topSimilarPairs(s, dir, 20)),
    // the scale path for embedding near-dup: LSH-bucketed candidate pairs
    // verified with exact cosine. q38's all-pairs form is the oracle baseline
    // and is quadratic BY DESIGN; this is the registered entry that survives a
    // 100× corpus (pair space from equi-joins on (table, bucket)). The oracle
    // replicates the bucketing exactly — the hyperplanes are embedded in the
    // SQL as literals from the same deterministic generator.
    "q56_embedding_neardup_lsh" -> ((s, dir) =>
      Similarity.lshNearDup(Tables.embeddings(s, dir), 0.35)),
    "q39_ivf_knn" -> ((s, dir) => Similarity.ivfKnn(s, dir, 5, 3)),
    // label-free IVF: coarse centroids TRAINED by k-means instead of label
    // seeding — the variant a real corpus (no labels) needs. FULLY oracled:
    // the centroid quantization contract (see kmeansCentroids) makes the
    // training loop deterministic, and the DuckDB oracle replays all three
    // Lloyd iterations in unrolled SQL. Recall-vs-brute additionally pinned
    // by SimilaritySpec at this registered configuration.
    "q73_ivf_knn_kmeans" -> ((s, dir) =>
      Similarity.ivfKnnKmeans(Tables.embeddings(s, dir), 5, 3, nCells = 8, nProbe = 3)),
    // SemDeDup-style semantic dedup: within-k-means-cluster cosine pruning,
    // lower-id wins — pairwise ONLY inside a cell (equi-join on cell), the
    // paper's own scale argument. Oracle replays the same Lloyd training as
    // q73's, then the drop rule in plain SQL.
    "q90_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir), nCells = 8, iters = 3, tau = 0.35)),

    // -- multimodal binary-column pipeline (north-star extension; decode stubbed) --
    "q40_media_profile" -> ((s, dir) =>
      Multimodal.mediaProfile(s, dir).drop("avg_frame_mean")),

    // -- REAL decode: javax.imageio + javax.sound over deterministic PNG/WAV
    //    fixtures whose features are closed-form constants; the oracle states
    //    those constants as literals, hash-verifying the true decode path --
    "q80_real_decode" -> ((s, _) => Multimodal.realDecodeProfile(s)),

    // -- REAL video container metadata: RIFF/AVI + MP4 byte parsing over
    //    deterministic fixtures; closed-form literal oracle like q80 --
    "q81_video_meta" -> ((s, _) => Multimodal.videoMetaProfile(s)),
    // REAL MJPEG-in-AVI frame decode (movi chunk walk + javax.imageio per
    // frame) over deterministic fixtures whose per-frame means are exact by
    // the jpegFrame build-time contract — retires the stubbed video-decode
    // path for the one codec family the JDK can genuinely decode
    "q124_video_frames" -> ((s, _) => Multimodal.videoFrameProfile(s)),

    // -- A15: grand mean of per-ticker aggregates (notebook reference lines) --
    "q41_market_overview" -> ((s, dir) => {
      val m = MarketView.fact(s, dir)
        .filter(col("variacao_diaria").isNotNull)
        .groupBy("symbol")
        .agg(stddev_samp(col("variacao_diaria")).as("vol"),
          avg(col("variacao_diaria")).as("vm"))
      m.agg(count(lit(1)).as("n_tickers"),
        rd(avg(col("vol")), 6).as("volatilidade_media"),
        rd(avg(col("vm")), 6).as("variacao_media"))
    }),

    // -- as-of join: each event joined to the latest strictly-earlier daily close --
    "q42_asof_prev_close" -> ((s, dir) => {
      val bars = MarketView.dailyBars(s, dir).select(col("symbol"), col("date"), col("close"))
      val ev = MarketView.quotes(s, dir)
        .select(col("symbol"), col("date"), col("event_id"), col("value"))
      AsOf.asofJoin(ev, bars, "symbol", "date", Seq("close"), strict = true)
        .select(col("event_id"), col("symbol"), dateStr(col("date")).as("date"),
          col("value"), col("asof_close").as("prev_close"))
        .orderBy("event_id")
    }),

    // -- published report metrics (reference relatório_volatilidade.ipynb) --
    "q43_cumulative_return" -> ((s, dir) => {
      val ord = struct(col("date"), col("close"))
      MarketView.dailyBars(s, dir)
        .groupBy("symbol")
        .agg(min(ord).getField("close").as("first_close"),
          max(ord).getField("close").as("last_close"))
        .select(col("symbol"),
          rd((col("last_close") / col("first_close") - 1) * 100, 4).as("retorno_acumulado"))
        .orderBy(col("retorno_acumulado").desc, col("symbol").asc)
    }),

    "q44_global_weekly_vol" -> ((s, dir) =>
      Analytics.weeklyVolatility(MarketView.fact(s, dir))
        .agg(rd(avg(col("vol")), 4).as("volatilidade_semanal_media"),
          count(lit(1)).as("n_weeks"))),

    // -- set operations: week-1 vs week-2 user cohorts (SURVEY §2.7) --
    // intersect/except/union semantics as ONE flag-aggregation pass: the
    // literal set-operator form forks the lineage and re-scans the fact once
    // per set op (~6 scans); per-user membership flags + one summary aggregate
    // answer all three counts with 2 scans (one tiny min-week, one main) and
    // a single shuffle on user_id. The Dataset intersect/except operators
    // themselves stay pinned by SetOpsSpec.
    "q48_user_cohort_setops" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"),
          date_trunc("week", col("date")).cast(org.apache.spark.sql.types.DateType).as("wk"))
      val minW = e.agg(min(col("wk")).as("w1"))
      val flags = e.join(broadcast(minW))
        .groupBy("user_id")
        .agg(
          max(when(col("wk") === col("w1"), 1).otherwise(0)).as("in_w1"),
          max(when(col("wk") === date_add(col("w1"), 7), 1).otherwise(0)).as("in_w2"))
      flags.agg(
        sum(when(col("in_w1") === 1 && col("in_w2") === 1, 1L).otherwise(0L)).as("n_both"),
        sum(when(col("in_w1") === 1 && col("in_w2") === 0, 1L).otherwise(0L)).as("n_only_w1"),
        sum(when(col("in_w1") === 1 || col("in_w2") === 1, 1L).otherwise(0L)).as("n_union"))
    }),

    // -- partition-pruning proof: write the bars date-partitioned, read ONE
    // week back. The scan must show PartitionFilters (pinned by PlanSpec) —
    // at 100 TB this layout turns a time-ranged query from a full-corpus scan
    // into |days requested| partition reads. (All testdata lives in 2024-01,
    // so date is the partition key with real selectivity: 7 of 30 dirs.)
    "q58_partition_pruned_week" -> ((s, dir) => {
      val out = partitionedBarsLayout(s, dir)
      val lo = lit("2024-01-08").cast(org.apache.spark.sql.types.DateType)
      val hi = lit("2024-01-14").cast(org.apache.spark.sql.types.DateType)
      s.read.parquet(out)
        .filter(col("dt") >= lo && col("dt") <= hi)
        .groupBy("symbol")
        .agg(count(lit(1)).as("n_days"),
          rd(avg(col("close")), 6).as("avg_close"),
          sum(col("volume")).as("volume_total"))
        .orderBy("symbol")
    }),

    // -- pairwise return correlation/covariance: the diversification matrix.
    // Self-join on date (30 daily rows per symbol after aggregation — the
    // join input is the AGGREGATED fact, never ticks), co-moment aggregates
    // per symbol pair --
    "q68_return_correlation" -> ((s, dir) => {
      val r = MarketView.fact(s, dir)
        .filter(col("variacao_diaria").isNotNull)
        .select(col("date"), col("symbol"), col("variacao_diaria").as("r"))
      val a = r.select(col("date"), col("symbol").as("sym_a"), col("r").as("ra"))
      val b = r.select(col("date"), col("symbol").as("sym_b"), col("r").as("rb"))
      a.join(b, Seq("date")).filter(col("sym_a") < col("sym_b"))
        .groupBy("sym_a", "sym_b")
        .agg(
          rd(corr(col("ra"), col("rb")), 6).as("corr_returns"),
          rd(covar_samp(col("ra"), col("rb")), 6).as("covar_returns"),
          count(lit(1)).as("n_days"))
        .orderBy("sym_a", "sym_b")
    }),

    // -- explicit GROUPING SETS via the SQL front door (rollup/cube cover
    // the lattice cases; this is the arbitrary-sets form) --
    "q69_grouping_sets" -> ((s, dir) => {
      MarketView.dailyBars(s, dir).createOrReplaceTempView("bars_gs")
      s.sql("""
        SELECT symbol, CAST(month(date) AS BIGINT) AS mes,
               count(*) AS n_bars,
               CAST(sum(volume) AS BIGINT) AS volume_total,
               CAST(grouping_id() AS BIGINT) AS gid
        FROM bars_gs
        GROUP BY GROUPING SETS ((symbol), (month(date)), ())
        ORDER BY gid, symbol, mes""")
    }),

    // -- PIVOT: weekly event counts, one column per event type. Pivot values
    // are DECLARED (no extra distinct-collect pass to discover them) --
    "q66_pivot_weekly_events" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(date_trunc("week", col("date")).cast(org.apache.spark.sql.types.DateType).as("wk"),
          col("event_type"))
        .groupBy("wk")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
        .select(dateStr(col("wk")).as("semana"), col("click"), col("error"),
          col("purchase"), col("signup"), col("view"))
        .orderBy("semana")),

    // -- cross-sectional rank: symbols ranked by daily return within each
    // day (the relative-strength screen). Rank window partitions by date —
    // cardinality = symbols per day, shuffle carries daily rows only --
    "q67_daily_rank" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("date").orderBy(col("variacao_diaria").desc, col("symbol").asc)
      MarketView.fact(s, dir)
        .filter(col("variacao_diaria").isNotNull)
        .select(dateStr(col("date")).as("date"), col("symbol"),
          rd(col("variacao_diaria"), 6).as("variacao_diaria"),
          rank().over(w).cast("long").as("rk"))
        .orderBy("date", "rk", "symbol")
    }),

    // -- CUBE: all aggregation combinations of (symbol, year) --
    "q55_cube_symbol_year" -> ((s, dir) =>
      MarketView.dailyBars(s, dir)
        .cube(col("symbol"), year(col("date")).cast("long").as("ano"))
        .agg(count(lit(1)).as("n_bars"),
          sum(col("volume")).as("volume_total"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("symbol"), col("ano"))),

    // -- banded range join: ±3-day bar context per event --
    "q54_range_join_band" -> ((s, dir) => {
      val epoch = lit("1970-01-01").cast(org.apache.spark.sql.types.DateType)
      val bars = MarketView.dailyBars(s, dir)
        .select(col("symbol"), datediff(col("date"), epoch).cast("long").as("d"), col("close"))
      val ev = MarketView.quotes(s, dir)
        .select(col("event_id"), col("symbol"), datediff(col("date"), epoch).cast("long").as("d"))
      RangeJoin.bandJoin(ev, bars, "symbol", "d", 3L, Seq("close"))
        .groupBy("event_id")
        .agg(rd(avg(col("r_close")), 6).as("band_avg_close"),
          count(lit(1)).as("n_bars"))
        .orderBy("event_id")
    }),

    // -- approximate (sketch) statistics: the 100 TB-mode variants of A11 --
    // no oracle: HLL++/KLL sketch outputs are engine-specific; bounds are
    // spec-tested against the exact values instead. The quantile sketch is
    // projected to flat scalar columns (p50/p90/p99) — array-typed output
    // columns break row canonicalization in downstream harnesses
    "q53_approx_stats" -> ((s, dir) =>
      Analytics.approxStats(MarketView.dailyBars(s, dir))
        .select(col("n_symbols_approx"), col("n_days_approx"),
          element_at(col("volume_quantiles_approx"), 1).cast("double").as("p50_approx"),
          element_at(col("volume_quantiles_approx"), 2).cast("double").as("p90_approx"),
          element_at(col("volume_quantiles_approx"), 3).cast("double").as("p99_approx"))),

    // -- hierarchical rollup (year -> month -> grand total) --
    "q52_rollup_calendar" -> ((s, dir) =>
      MarketView.dailyBars(s, dir)
        .rollup(year(col("date")).cast("long").as("ano"),
          month(col("date")).cast("long").as("mes"))
        .agg(count(lit(1)).as("n_bars"),
          sum(col("volume")).as("volume_total"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("ano"), col("mes"))),

    // -- windowed/statistical extensions over the bars --
    "q46_moving_avg" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol").orderBy("date").rowsBetween(-6, 0)
      MarketView.dailyBars(s, dir)
        .select(col("symbol"), dateStr(col("date")).as("date"),
          rd(avg(col("close")).over(w), 6).as("ma7"))
        .orderBy("symbol", "date")
    }),

    "q47_volume_percentiles" -> ((s, dir) =>
      MarketView.dailyBars(s, dir)
        .groupBy("symbol")
        .agg(
          rd(expr("percentile(volume, 0.5)"), 4).as("p50"),
          rd(expr("percentile(volume, 0.9)"), 4).as("p90"),
          rd(expr("percentile(volume, 0.99)"), 4).as("p99"))
        .orderBy("symbol")),

    // Bollinger bands: 20-day moving mean ± 2×stddev per symbol — the same
    // one-exchange window shape as q46 (one shuffle on symbol, in-partition
    // frame scan; at 100 TB the shuffle carries daily bars, never ticks)
    "q61_bollinger" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol").orderBy("date").rowsBetween(-19, 0)
      MarketView.dailyBars(s, dir)
        .select(col("symbol"), dateStr(col("date")).as("date"),
          rd(avg(col("close")).over(w), 6).as("ma20"),
          rd(nanToNull(stddev_samp(col("close")).over(w)), 6).as("sd20"))
        .withColumn("upper", rd(col("ma20") + col("sd20") * 2, 6))
        .withColumn("lower", rd(col("ma20") - col("sd20") * 2, 6))
        .orderBy("symbol", "date")
    }),

    // max drawdown per symbol: running peak (cummax window) then the worst
    // peak-to-trough ratio — a two-window single-exchange lineage
    "q62_max_drawdown" -> ((s, dir) => {
      val run = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol").orderBy("date")
        .rowsBetween(Long.MinValue, 0)
      MarketView.dailyBars(s, dir)
        .select(col("symbol"), col("close"),
          max(col("close")).over(run).as("peak"))
        .groupBy("symbol")
        .agg(rd(min(col("close") / col("peak") - 1) * 100, 4).as("max_drawdown_pct"))
        .orderBy("symbol")
    }),

    "q45_liquidity_share" -> ((s, dir) => {
      // global total as an unbounded window over the per-ticker aggregates:
      // one lineage, one scan (a separate total aggregate would fork the
      // plan and scan the events twice)
      val w = org.apache.spark.sql.expressions.Window.partitionBy()
        .rowsBetween(Long.MinValue, Long.MaxValue)
      MarketView.dailyBars(s, dir)
        .groupBy("symbol").agg(sum(col("volume")).as("vt"))
        .withColumn("total", sum(col("vt")).over(w))
        .orderBy(col("vt").desc, col("symbol").asc).limit(5)
        .agg(rd(sum(col("vt")).cast("double") / max(col("total")) * 100, 4)
          .as("top5_share_pct"))
    }),

    // -- the reference README's three PUBLISHED ad-hoc analyst queries, run
    // as literal text through GraftSql over the registered reference views
    // (README.md:64-71, 89-97, 109-115) — the "switch engines without
    // rewriting your SQL" contract as hash-oracled gate rows. The texts are
    // quoted in GraftSql; the runners strip only statement plumbing, apply
    // the one documented README date/data_id erratum (q121), and normalize
    // outside the text per the gate's standard conventions --
    "q121_readme_weekly_vol" -> ((s, dir) => GraftSql.readmeWeeklyVol(s, dir)),
    "q122_readme_risk_profile" -> ((s, dir) => GraftSql.readmeRiskProfile(s, dir)),
    "q123_readme_liquidity" -> ((s, dir) => GraftSql.readmeLiquidity(s, dir)),

    // -- round 10: behavioral-analytics + time-series families --

    // RETENTION COHORT MATRIX: cohort = first active ISO week per user,
    // cell (cohort, k) = users from that cohort active k weeks later — the
    // product-analytics staple. Shape: distinct (user, week) — one keyed
    // shuffle — then a per-user window min (second keyed shuffle), then a
    // tiny (cohorts × weeks) aggregate. After the distinct, each user
    // contributes at most one row per week, so count(*) IS distinct users.
    "q148_retention_cohorts" -> ((s, dir) => {
      val wk = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("date"))
          .cast(org.apache.spark.sql.types.DateType).as("wk"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      wk.withColumn("cohort", min(col("wk")).over(w))
        .groupBy(dateStr(col("cohort")).as("cohort_week"),
          (datediff(col("wk"), col("cohort")) / lit(7)).cast("long").as("weeks_since"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "weeks_since")
    }),

    // MARKOV TRANSITION MATRIX of event types per user: lag over the
    // (ts, event_id) total order inside each user partition — one keyed
    // shuffle — then a 25-row aggregate; transition probabilities via a
    // window over the tiny result (integer counts, so the division is the
    // only float op and is a single deterministic IEEE divide)
    "q149_markov_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_ns", "event_id")
      val tot = org.apache.spark.sql.expressions.Window.partitionBy("prev_type")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
        .withColumn("p", rd(col("n").cast("double") / sum(col("n")).over(tot), 6))
        .orderBy("prev_type", "event_type")
    }),

    // WEEKLY OHLC RESAMPLE via ordered aggregates: min_by/max_by pick the
    // first open / last close in ONE map-side-combinable hash aggregate —
    // no window, no row_number, no second exchange. The 100 TB shape for
    // downsampling: a window-rank formulation would sort every partition;
    // this is a straight partial+final aggregate keyed (symbol, week).
    "q151_weekly_ohlc" -> ((s, dir) =>
      MarketView.dailyBars(s, dir)
        .groupBy(col("symbol"), date_trunc("week", col("date"))
          .cast(org.apache.spark.sql.types.DateType).as("wk"))
        .agg(min_by(col("open"), col("date")).as("open"),
          max(col("high")).as("high"), min(col("low")).as("low"),
          max_by(col("close"), col("date")).as("close"),
          sum(col("volume")).as("volume"), count(lit(1)).as("n_days"))
        .select(col("symbol"), dateStr(col("wk")).as("semana"),
          col("open"), col("high"), col("low"), col("close"),
          col("volume"), col("n_days"))
        .orderBy("symbol", "semana")),

    // DAY-OF-WEEK SEASONAL ANOMALIES: per-(symbol, weekday) mean/std of
    // daily returns via decimal sufficient statistics (the q143 contract —
    // order-free, engine-exact), broadcast back over one scan; a return is
    // anomalous when its |z| > 2 against its own weekday's distribution.
    // sqrt is IEEE-correctly-rounded, so mu/sd/z are bit-identical across
    // engines; the threshold compares identical doubles. PG DOW shim: −1.
    "q153_seasonal_anomaly" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      val f = MarketView.fact(s, dir)
        .filter(col("variacao_diaria").isNotNull)
        .withColumn("dow", (dayofweek(col("date")) - 1).cast("long"))
      val sm = col("sm").cast("double") / col("n")
      val st = f.groupBy("symbol", "dow")
        .agg(count(lit(1)).as("n"),
          sum(round(col("variacao_diaria"), 9).cast(dec)).as("sm"),
          sum(round(col("variacao_diaria") * col("variacao_diaria"), 9).cast(dec)).as("ss"))
        .select(col("symbol"), col("dow"), rd(sm, 6).as("mu"),
          rd(sqrt(greatest(lit(0.0), col("ss").cast("double") / col("n") - sm * sm)), 6).as("sd"))
      f.join(broadcast(st), Seq("symbol", "dow"))
        .withColumn("z", rd((col("variacao_diaria") - col("mu")) / nullIfZero(col("sd")), 4))
        .filter(abs(col("z")) > 2)
        .select(col("symbol"), dateStr(col("date")).as("date"), col("dow"),
          rd(col("variacao_diaria"), 6).as("ret"), col("z"))
        .orderBy("symbol", "date")
    }),

    // FAST/SLOW TRUNCATED EWMA + MACD per symbol: decays 0.5/0.75 whose
    // powers, normalizers, and per-term multiplies are EXACT doubles on
    // both engines (see Indicators scaladoc) — the per-row frame fold is
    // order-free decimal, so the indicator is bit-reproducible. One
    // exchange on symbol; the textbook decay^-rn window-sum trick is
    // rejected in-code (it overflows double within a year of bars).
    "q150_ema_macd" -> ((s, dir) => Indicators.emaMacd(s, dir)),

    // 2-D SKYLINE (Pareto frontier) of the part catalogue: the engine runs
    // the distributive bucketed sweep (distinct-x collapse -> in-bucket
    // running max -> <=32-row cross-bucket prefix, broadcast back); the
    // oracle is the literal quadratic NOT EXISTS definition. Hash equality
    // proves sweep == definition, with nothing quadratic in the plan.
    "q152_skyline_parts" -> ((s, dir) => Skyline.paretoParts(s, dir)),

    // THROTTLE AUDIT: per (user, type), an event within 24h of its
    // predecessor is throttled (the notification/dedupe cap) — lag diff on
    // the (ts, event_id) total order, one keyed shuffle, per-type census
    "q160_throttle_audit" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "event_type").orderBy("ts_ns", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
        .withColumn("prev_ns", lag(col("ts_ns"), 1).over(w))
        .withColumn("kept", (col("prev_ns").isNull ||
          col("ts_ns") - col("prev_ns") > lit(86400L * 1000000000L)).cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum(col("kept")).as("n_kept"),
          (count(lit(1)) - sum(col("kept"))).as("n_throttled"))
        .orderBy("event_type")
    }),

    // CUMULATIVE SUM WITH RESETS (gaps-and-islands cumsum): running
    // purchase spend since the user's latest signup — segment id = running
    // signup count, then an in-segment running decimal sum over purchases.
    // Two keyed window exchanges (user, then (user, segment)); purchases
    // before any signup land in segment 0 by construction.
    "q161_spend_since_signup" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_ns", "event_id")
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "seg").orderBy("ts_ns", "event_id")
        .rowsBetween(Long.MinValue, 0)
      Tables.events(s, dir)
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          col("event_type"), col("value"))
        .withColumn("seg", sum(when(col("event_type") === "signup", 1L)
          .otherwise(0L)).over(w.rowsBetween(Long.MinValue, 0)))
        .filter(col("event_type") === "purchase")
        .withColumn("spend",
          rd(sum(round(col("value"), 9).cast(dec)).over(w2).cast("double"), 6))
        .select(col("user_id"), col("ts_ns"), col("seg"), col("spend"))
        .orderBy("user_id", "ts_ns")
    }),

    // PER-SYMBOL OLS TREND: closed-form regression of close on the day
    // index from ONE pass of distributive sufficient statistics (n, Σt,
    // Σx, Σtx, Σt²) under the decimal contract — the sums are exact and
    // order-free, so slope/intercept are single deterministic IEEE chains
    // on identical doubles. The map-side-combined aggregate shape is how
    // per-key regression runs at 100 TB (never a per-key collect or fit).
    "q162_symbol_trend" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      val t = unix_date(col("date")).cast("double")
      val a = MarketView.dailyBars(s, dir)
        .select(col("symbol"), t.as("t"), col("close").as("x"))
        .groupBy("symbol")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("t").cast(dec)).as("st"),
          sum(round(col("x"), 9).cast(dec)).as("sx"),
          sum(round(col("t") * col("x"), 9).cast(dec)).as("stx"),
          sum((col("t") * col("t")).cast(dec)).as("stt"))
      val (st, sx, stx, stt) = (col("st").cast("double"), col("sx").cast("double"),
        col("stx").cast("double"), col("stt").cast("double"))
      val slope = (col("n") * stx - st * sx) / (col("n") * stt - st * st)
      // intercept from the PUBLISHED (6-decimal) slope: the raw slope*st
      // product sits at ~1e6 scale where a 1-ulp slope difference crosses
      // the round-6 boundary; quantizing first makes the chain exact
      val slope6 = rd(slope, 6)
      a.select(col("symbol"), col("n").cast("long").as("n_days"),
          slope6.as("slope"),
          rd((sx - slope6 * st) / col("n"), 6).as("intercept"))
        .orderBy("symbol")
    }),

    // RETURN HISTOGRAM: fixed-width 2%-bins of daily returns per symbol,
    // clamped to [-5, 5] — floor/least/greatest on identical doubles, so
    // the binning is engine-exact; one partial+final aggregate
    "q163_return_histogram" -> ((s, dir) =>
      MarketView.fact(s, dir).filter(col("variacao_diaria").isNotNull)
        .withColumn("bin", least(greatest(floor(col("variacao_diaria") / 2.0),
          lit(-5.0)), lit(5.0)).cast("long"))
        .groupBy("symbol", "bin").agg(count(lit(1)).as("n"))
        .orderBy("symbol", "bin")),

    // INTER-ARRIVAL PROFILE: per event type, the arrival-gap distribution
    // (mean + median) across (user, type) series. Gaps are exact integer
    // microseconds; the median of integers interpolates to at worst a .5 —
    // exact in double — and the mean rides the decimal contract, so both
    // stats are engine-exact. (p90-style quantiles interpolate at inexact
    // fractions whose FP shape is engine-specific — median is the quantile
    // that is exact by construction, which is why the profile stops there.)
    "q164_interarrival" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "event_type").orderBy("ts_ns", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
        .withColumn("prev_ns", lag(col("ts_ns"), 1).over(w))
        // integer DIV: a / on longs is a DOUBLE divide, which loses ulps
        // once a multi-month gap exceeds 2^53 ns — DIV stays exact
        .withColumn("gap_us", expr("(ts_ns - prev_ns) div 1000"))
        .filter(col("gap_us").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          rd(sum(col("gap_us").cast(dec)).cast("double")
            / count(lit(1)) / lit(1000000.0), 6).as("mean_gap_s"),
          rd(expr("percentile(gap_us, 0.5)") / lit(1000000.0), 6).as("median_gap_s"))
        .orderBy("event_type")
    }),

    // STREAMING RECURSIVE EMA: unbounded-history recursive indicator as
    // per-symbol keyed state (flatMapGroupsWithState), state quantized at
    // 6 decimals each step so streaming == sequential fold == the oracle's
    // RECURSIVE CTE, independent of micro-batch boundaries. The stateful
    // complement of q150's truncated-window EWMA.
    "q165_stream_ema" -> ((s, dir) =>
      graft.streaming.StreamingOps.streamEmaParity(s, dir)),

    // SLIDING STREAMING WINDOWS: 14-day windows every 7 days — each event
    // in exactly TWO overlapping windows (what tumbling can't express);
    // Complete mode + decimal sums make the lifecycle batch-boundary
    // independent; oracle assigns each event to both window starts
    "q169_stream_sliding" -> ((s, dir) =>
      graft.streaming.StreamingOps.slidingWindowParity(s, dir)),

    // EQUAL-FREQUENCY DECILES: ntile(10) over the strict (return, date)
    // total order per symbol — the quantile-discretizer binning; per-decile
    // census with range bounds. Both engines implement ntile's positional
    // rule identically given the same strict order.
    "q170_return_deciles" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol").orderBy(col("variacao_diaria"), col("date"))
      MarketView.fact(s, dir).filter(col("variacao_diaria").isNotNull)
        .withColumn("decile", ntile(10).over(w).cast("long"))
        .groupBy("symbol", "decile")
        .agg(count(lit(1)).as("n"),
          rd(min(col("variacao_diaria")), 6).as("lo"),
          rd(max(col("variacao_diaria")), 6).as("hi"))
        .orderBy("symbol", "decile")
    }),

    // WRITE-AUDIT-PUBLISH: staged version -> audit -> atomic publish (or
    // vacuum on failure) — the Iceberg/Delta WAP workflow over the
    // versioned table. The gate's construction stages a CORRUPT batch
    // whose audit fails (discarded, latest untouched) then a valid batch
    // that publishes; hash equality with the good-batch-only oracle proves
    // the corrupt stage never leaked into the published snapshot.
    "q171_wap" -> ((s, dir) => graft.sources.Versioned.wapGate(s, dir)),

    // BENFORD FIRST-DIGIT AUDIT: the fraud/data-quality screen — observed
    // first-digit distribution of volumes per symbol vs Benford's law,
    // with a chi-square statistic. First digit via STRING head (exact on
    // both engines — no log10 at runtime); expected shares are driver-
    // computed literals shared verbatim with the oracle; chi2 terms ride
    // the round-9/decimal window sum.
    "q167_benford" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      val p = benfordShares // digit d -> log10(1 + 1/d), as driver literals
      val expCol = (1 to 9).foldLeft(lit(0.0))((acc, d) =>
        when(col("digit") === d, lit(p(d - 1))).otherwise(acc))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("symbol")
      MarketView.dailyBars(s, dir)
        .filter(col("volume") > 0)
        .withColumn("digit",
          substring(col("volume").cast("string"), 1, 1).cast("long"))
        .groupBy("symbol", "digit").agg(count(lit(1)).as("n_obs"))
        .withColumn("n", sum(col("n_obs")).over(w))
        .withColumn("exp_n", col("n") * expCol)
        .withColumn("term",
          (col("n_obs") - col("exp_n")) * (col("n_obs") - col("exp_n")) / col("exp_n"))
        .withColumn("chi2",
          rd(sum(round(col("term"), 9).cast(dec)).over(w).cast("double"), 4))
        .select(col("symbol"), col("digit"), col("n_obs"),
          rd(col("exp_n"), 4).as("exp_n"), col("chi2"))
        .orderBy("symbol", "digit")
    }),

    // K-ANONYMITY PROFILE: the privacy audit a training corpus gets before
    // release — quasi-identifier groups (lang, source, 100-char length
    // bucket), per-language k-distribution: group count, min k, groups and
    // row share below k = 5. Two stacked aggregates, both map-side
    // combinable; the at-risk share is an exact integer ratio.
    "q168_k_anonymity" -> ((s, dir) => {
      val g = Tables.documents(s, dir)
        .groupBy(col("lang"), col("source"),
          (col("n_chars") / lit(100)).cast("long").as("len_bucket"))
        .agg(count(lit(1)).as("k"))
      g.groupBy("lang")
        .agg(count(lit(1)).as("n_groups"),
          min(col("k")).as("min_k"),
          sum(when(col("k") < 5, 1L).otherwise(0L)).as("groups_below_5"),
          sum(when(col("k") < 5, col("k")).otherwise(0L)).as("rows_below_5"),
          sum(col("k")).as("n_rows"))
        .withColumn("pct_at_risk",
          rd(col("rows_below_5").cast("double") / col("n_rows") * 100, 4))
        .orderBy("lang")
    }),

    // PARTITION-PRUNED COPY-ON-WRITE MERGE: the q155 scale refinement —
    // the versioned table laid out in 16 key-hash bucket dirs; a merge
    // rewrites ONLY buckets containing batch keys and hard-links the rest
    // forward, so a small batch against a huge table costs O(touched
    // buckets), not a full rewrite. Gate: full LWW collapse (v1) + a
    // sparse adjustment batch (v2, users %97) through the pruned path.
    "q166_cow_merge" -> ((s, dir) =>
      graft.sources.Versioned.bucketedMergeGate(s, dir)),

    // SESSION PATH MINING: top event-type sequences (first 5 per session,
    // 30-min gap sessions — q23's convention) joined '>'-separated. The
    // per-session path is deterministic by construction: collect the
    // (ts_ns, event_id, type) structs, array_sort gives the lexicographic
    // = chronological order, transform projects the types. One keyed
    // shuffle for the windows + per-session aggregate; the path census is
    // tiny and the top-20 is TakeOrdered, never a global sort.
    "q158_session_paths" -> ((s, dir) => {
      val gapNs = 30L * 60L * 1000000000L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_ns").asc, col("event_id").asc)
      val sess = Tables.events(s, dir)
        .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
        .withColumn("prev_ns", lag(col("ts_ns"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ns").isNull || col("ts_ns") - col("prev_ns") > gapNs, 1L)
            .otherwise(0L))
        .withColumn("sid", sum(col("new_session"))
          .over(w.rowsBetween(Long.MinValue, 0)))
      sess.groupBy("user_id", "sid")
        .agg(array_join(slice(transform(
          array_sort(collect_list(struct(col("ts_ns"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), 1, 5), ">").as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path").asc).limit(20)
    }),

    // CROSS-SOURCE DUPLICATE MATRIX: dedup DIAGNOSTICS — for each source
    // pair, how many 6-token-prefix fingerprints (a standard near-dup
    // blocking key) they share. The join runs on the DISTINCT (source, fp)
    // relation, so each fingerprint carries at most |sources| rows into
    // the equi-join — bounded fan-out, never doc×doc.
    "q159_crosssource_dups" -> ((s, dir) => {
      val fp = md5(array_join(
        slice(graft.operators.TextOps.tokens(col("text")), 1, 6), " "))
      val d = Tables.documents(s, dir)
        .select(col("source"), fp.as("fp")).distinct()
      d.as("a").join(d.as("b"),
          col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("source_a", "source_b")
    }),

    // SCHEMA EVOLUTION: a pre-column generation and a post-column
    // generation of the orders layout read as ONE relation via mergeSchema
    // (the read-side union schema — the only viable path when backfilling
    // a column would rewrite petabytes); old rows surface NULL, coalesced
    // to 'legacy' so the gate never depends on engine NULL ordering
    "q156_schema_evolution" -> ((s, dir) => {
      graft.sources.Formats.ordersTwoGenerations(s, dir)
        .groupBy(col("o_orderstatus"),
          coalesce(col("o_priority_class"), lit("legacy")).as("priority_class"))
        .agg(count(lit(1)).as("n_orders"),
          rd(exactSum(col("o_totalprice")), 4).as("total_price"))
        .orderBy("o_orderstatus", "priority_class")
    }),

    // REPRODUCIBLE SHARD MANIFEST: the deterministic hash-sharding a
    // training run uses to split a corpus across workers — shard =
    // md5(doc_id) mod 16 (engine-independent, rerun-stable), manifest =
    // per-shard doc count, char volume, and an order-free content checksum.
    // One map-side-combinable aggregate; the manifest is what makes a
    // 100 TB re-shard auditable without re-reading the data.
    "q157_shard_manifest" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 0)
      val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"), h.as("h"))
        .groupBy((col("h") % 16).as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          sum(col("h").cast(dec)).as("checksum"))
        .select(col("shard"), col("n_docs"), col("n_chars"),
          col("checksum").cast("string").as("checksum"))
        .orderBy("shard")
    }),

    // STREAMING CDC APPLY: a real foreachBatch lifecycle MERGEing each
    // micro-batch into the versioned MVCC table with last-writer-wins
    // semantics — convergent under ANY batching/ordering of the stream
    // (unique (ts_ns, event_id) total order + tombstoned deletes), which is
    // what makes a streaming apply oracle-able by a plain window query
    "q155_stream_cdc_apply" -> ((s, dir) =>
      graft.streaming.StreamingOps.cdcApplyParity(s, dir)),

    // TIME-RANGE WINDOW FRAME: rolling 7-CALENDAR-DAY spend per user over
    // the SPARSE per-user purchase days — RANGE on a day index, where a
    // ROWS frame (q46's shape) would silently span gaps. One keyed shuffle;
    // per-day and windowed sums both ride the round/decimal contract.
    "q154_rolling_spend_7d" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      val daily = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("date"))
        .agg(rd(sum(round(col("value"), 9).cast(dec)).cast("double"), 6).as("spend"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(unix_date(col("date")))
        .rangeBetween(-6, 0)
      daily
        .withColumn("spend_7d",
          rd(sum(round(col("spend"), 6).cast(dec)).over(w).cast("double"), 6))
        .withColumn("n_days_7d", count(lit(1)).over(w))
        .select(col("user_id"), dateStr(col("date")).as("date"),
          col("spend"), col("spend_7d"), col("n_days_7d"))
        .orderBy("user_id", "date")
    }),

    // TWO-PASS EXACT HEAVY HITTERS: Misra–Gries candidate sketch (map-side
    // k-counter summaries, O(k) bytes per partition through the exchange)
    // then an exact recount of ONLY the candidates; the oracle is the plain
    // GROUP BY / HAVING over the full key universe — hash equality proves
    // the sketch missed nothing (the q95/q110 proof framing).
    "q172_exact_heavy_hitters" -> ((s, dir) => Sketches.tokenHeavyHittersGate(s, dir)),

    // PEAK CONCURRENCY sweep line: session intervals → ±1 deltas collapsed
    // per exact nanosecond → per-day running sums + a dates-sized cross-day
    // carry. Integer-only; no global window over the full delta stream.
    "q173_peak_concurrency" -> ((s, dir) => EventOps.peakConcurrency(s, dir)),

    // JARO–WINKLER RECORD LINKAGE on the collapsed part-name domain: the
    // codegen'd native expression is bit-matched to DuckDB's
    // jaro_winkler_similarity (byte-level, integer-halved transpositions,
    // 0.7 boost gate — probed and pinned in TextExpressionsSpec), so the
    // τ=0.84 cut selects identical pairs and the gate hash-compares raw
    // rounded doubles. Quadratic step bounded by the 64-name domain.
    "q174_jw_linkage" -> ((s, dir) =>
      TextOps.jwLinkage(Tables.part(s, dir), "p_name", 0.84)),

    // ROLLING EXACT MEDIAN (15-row frame) of daily volume per symbol: the
    // engine sorts each frame's collected values and interpolates even
    // counts exactly like DuckDB's windowed median (quantile_cont 0.5);
    // volumes are integers < 2^53, so the lower/upper average is one exact
    // IEEE op. One symbol-keyed exchange shared with the window sort.
    "q175_rolling_median" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol").orderBy("date").rowsBetween(-14, 0)
      MarketView.dailyBars(s, dir)
        .withColumn("vols", sort_array(collect_list(col("volume")).over(w)))
        .withColumn("n", size(col("vols")))
        .withColumn("med_15",
          when(col("n") === 0, lit(null).cast("double"))
            .when(col("n") % 2 === 1,
              element_at(col("vols"), ((col("n") + 1) / 2).cast("int")).cast("double"))
            .otherwise(
              (element_at(col("vols"), (col("n") / 2).cast("int")) +
                element_at(col("vols"), (col("n") / 2 + 1).cast("int"))) / 2.0))
        .select(col("symbol"), dateStr(col("date")).as("date"), col("volume"),
          rd(col("med_15"), 6).as("med_15"), col("n").cast("long").as("n_frame"))
        .orderBy("symbol", "date")
    }),

    // SAMPLE AUTOCORRELATION at lags 1..5 per symbol — the Box–Jenkins
    // model-identification diagnostic. Two-pass mean-centering under the
    // q179 decimal contract; the k lag columns ride ONE symbol-keyed window
    // scan, and the unpivot explodes the symbols-sized aggregate, never the
    // bar stream.
    "q176_acf" -> ((s, dir) => Indicators.acf(MarketView.fact(s, dir), 5)),

    // ANCHORED VWAP re-anchored monthly: typical price (H+L+C)/3 weighted
    // by integer daily volume; running numerator is an order-free decimal
    // window sum, so the running ratio is exact-operand IEEE on both
    // engines. One symbol exchange, no join.
    "q177_vwap" -> ((s, dir) => Indicators.anchoredVwap(MarketView.dailyBars(s, dir))),

    // MARKET-BASKET ASSOCIATION RULES over the q120/q127 co-purchase edge
    // base: support/confidence/lift from integer co-occurrence counts (all
    // products < 2^53 — every ratio is a single exact-operand IEEE divide).
    // Pair fan-out stays bounded by per-order line count; item counts join
    // by broadcast. Top-20 by lift via TakeOrdered, ties broken (a, b).
    "q178_association_rules" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      val nOrders = li.agg(countDistinct(col("ok")).as("n_orders"))
      val items = li.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
      val edges = GraphOps.copurchaseEdges(s, dir).filter(col("w") >= 2)
      edges
        .join(broadcast(items.select(col("pk").as("src"), col("n_item").as("n_a"))), "src")
        .join(broadcast(items.select(col("pk").as("dst"), col("n_item").as("n_b"))), "dst")
        .crossJoin(broadcast(nOrders))
        .select(
          col("src").as("item_a"), col("dst").as("item_b"),
          col("w").as("n_ab"), col("n_a"), col("n_b"),
          rd(col("w").cast("double") / col("n_orders"), 6).as("support"),
          rd(col("w").cast("double") / col("n_a"), 6).as("conf_ab"),
          rd(col("w").cast("double") / col("n_b"), 6).as("conf_ba"),
          rd((col("w").cast("double") * col("n_orders")) /
            (col("n_a").cast("double") * col("n_b")), 6).as("lift"))
        .orderBy(col("lift").desc, col("item_a"), col("item_b"))
        .limit(20)
    }),

    // CUSUM CHANGE-POINT detection, window-reduced: the recursive
    // S_t = max(0, S_{t-1} + z_t - k) folds to P_t - min(0, running-min P)
    // where P is the prefix sum of (z - k) — so the sequential control
    // chart becomes two plain windows over one symbol exchange. All state
    // is DECIMAL (z quantized at 6, increments at 9): the running sums,
    // mins, and the h-threshold compare are exact on both engines.
    "q179_cusum" -> ((s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(30, 12)
      val f = MarketView.fact(s, dir)
        .filter(col("variacao_diaria").isNotNull)
      val sm = col("sm").cast("double") / col("n")
      val st = f.groupBy("symbol")
        .agg(count(lit(1)).as("n"),
          sum(round(col("variacao_diaria"), 9).cast(dec)).as("sm"),
          sum(round(col("variacao_diaria") * col("variacao_diaria"), 9).cast(dec)).as("ss"))
        .select(col("symbol"), rd(sm, 6).as("mu"),
          rd(sqrt(greatest(lit(0.0), col("ss").cast("double") / col("n") - sm * sm)), 6).as("sd"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol").orderBy("date")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val z = f.join(broadcast(st), "symbol")
        .withColumn("z", rd((col("variacao_diaria") - col("mu")) / nullIfZero(col("sd")), 6))
        .filter(col("z").isNotNull)
      val zero = lit(0).cast(dec)
      val withP = z
        .withColumn("p", sum(round(col("z") - lit(0.5), 9).cast(dec)).over(w))
        .withColumn("q", sum(round(-col("z") - lit(0.5), 9).cast(dec)).over(w))
        .withColumn("s_pos", col("p") - least(min(col("p")).over(w), zero))
        .withColumn("s_neg", col("q") - least(min(col("q")).over(w), zero))
      withP.select(col("symbol"), dateStr(col("date")).as("date"), col("z"),
          rd(col("s_pos").cast("double"), 6).as("s_pos"),
          rd(col("s_neg").cast("double"), 6).as("s_neg"),
          (col("s_pos") > 4 || col("s_neg") > 4).cast("long").as("alarm"))
        .orderBy("symbol", "date")
    }),

    // TWO-SAMPLE KOLMOGOROV–SMIRNOV per symbol vs the pooled rest: exact
    // ECDF max-gap over the 6-decimal return grid — integer counting, one
    // scan, rest-ECDF derived by subtraction (no second pass)
    "q180_ks_test" -> ((s, dir) => Stats.ksPerSymbol(MarketView.fact(s, dir))),

    // GINI COEFFICIENT of per-customer revenue within market segment:
    // cent-exact decimal sums, rank-product formula (tie-order invariant)
    "q181_gini" -> ((s, dir) =>
      Stats.giniBySegment(Tables.orders(s, dir), Tables.customer(s, dir))),

    // LEAVE-ONE-OUT TARGET ENCODING of p_brand on l_extendedprice:
    // (S - y) / (n - 1) per row via one broadcast of per-category decimal
    // stats; the gate row is the per-category audit incl. an order-free
    // checksum of every row-level encoding
    "q182_target_encoding" -> ((s, dir) =>
      Learn.looTargetEncoding(Tables.lineitem(s, dir), Tables.part(s, dir))),

    // FEATURE–LABEL CORRELATION ranking over embedding dimensions: one
    // posexplode scan → 64-group sufficient statistics, Pearson r from
    // exact decimal sums
    "q183_feature_label_corr" -> ((s, dir) =>
      Learn.featureLabelCorr(Tables.embeddings(s, dir))),

    // WEIGHTED SHORTEST PATHS: 4-round Bellman–Ford over the co-purchase
    // edge MV — q144's BFS lifted to the min-plus semiring; exact integer
    // distances, per-round equi-join + min agg
    "q184_weighted_paths" -> ((s, dir) => GraphOps.weightedPathsGate(s, dir)),

    // WATERMARK LATE-DATA DROP (9th streaming lifecycle): two-file ingest
    // makes the drop deterministic — the late file arrives after the
    // watermark passed its windows by ≥18 days, Append withholds the
    // still-open tail; the oracle states BOTH cuts in batch SQL
    "q185_stream_late_drop" -> ((s, dir) =>
      graft.streaming.StreamingOps.lateDropParity(s, dir)),

    // CUPED variance reduction: per-user cent-exact covariates, pooled
    // theta published at 6 decimals (quantize-first), arm means adjusted
    // from identical doubles
    "q186_cuped" -> ((s, dir) => Stats.cuped(Tables.events(s, dir))),

    // HISTOGRAM SPLIT FINDING: variance-reduction gain per quantity
    // threshold via the sum-of-squares identity — per-bin BIGINT cent
    // stats, candidate sweep on the bounded bin relation
    "q187_split_finding" -> ((s, dir) => Learn.stumpSplitGain(Tables.lineitem(s, dir))),

    // EXACT PENNY ALLOCATION: largest-remainder proration of order totals
    // across line items — all-integer, per-order cents sum exactly
    "q188_penny_allocation" -> ((s, dir) =>
      Analytics.pennyAllocation(Tables.lineitem(s, dir), Tables.orders(s, dir))),

    // MUTUAL INFORMATION between market segment and order priority: joint
    // contingency via one broadcast join + hash aggregate; margins and the
    // MI fold are windows over the bounded cells relation (q82 ln contract)
    "q189_mutual_information" -> ((s, dir) =>
      Stats.mutualInformation(Tables.orders(s, dir), Tables.customer(s, dir))),

    // SEASONAL-NAIVE BACKTEST: close(d-7) forecast + MAE/bias/RMSE/MAPE —
    // the baseline every forecaster must beat; calendar self-join, no
    // window sort, decimal metric folds
    "q190_forecast_backtest" -> ((s, dir) =>
      Indicators.seasonalNaiveBacktest(MarketView.dailyBars(s, dir))),

    // THEIL–SEN robust slope: median of all pairwise slopes per symbol —
    // pair fan-out bounded by the CALENDAR (trading days), not row scale
    "q191_theil_sen" -> ((s, dir) => Stats.theilSen(MarketView.dailyBars(s, dir))),

    // GENERIC COLUMN PROFILER (Deequ-style): one aggregate over one scan —
    // nulls, exact distincts, canonical-by-type min/max representations
    "q192_column_profile" -> ((s, dir) => Quality.columnProfile(Tables.orders(s, dir))),

    // REFERENTIAL-INTEGRITY AUDIT: all seven FK edges of the star schema,
    // each one broadcast-anti-join aggregate; NULL FKs are not orphans
    "q193_referential_integrity" -> ((s, dir) => Quality.referentialIntegrity(s, dir)),

    // FIFO LOT MATCHING as an interval-overlap join: prefix-sum both lot
    // streams per part, band the unit intervals (q54 discipline), match on
    // overlap — the sequential ledger walk with no loop and no driver
    // state; all-integer census incl. unit-weighted stock-age lag
    "q194_fifo_match" -> ((s, dir) => Ledger.fifoMatch(Tables.lineitem(s, dir))),

    // ITEM-ITEM COLLABORATIVE FILTERING: top-5 neighbors per part under
    // co-occurrence cosine over the edge MV; ranking via the q113 k-heap
    // (shuffle bounded at k rows/partition/item), score bit-exact (integer
    // operands through single sqrt/divide)
    "q195_item_neighbors" -> ((s, dir) => GraphOps.itemNeighbors(s, dir)),

    // POPULATION STABILITY INDEX per event type: fixed-width densified
    // bins, Laplace-smoothed shares, round-6 ln terms — the standard
    // feature-drift monitor next to the q180 KS test
    "q196_psi_drift" -> ((s, dir) => Stats.psiDrift(Tables.events(s, dir))),

    // ABC / PARETO CLASSIFICATION: global revenue cumsum via the q152
    // bucketed sweep (in-band window + tiny cross-band prefix broadcast);
    // class cuts are integer cross-multiplications — never an FP share
    "q197_abc_parts" -> ((s, dir) => Analytics.abcClassification(Tables.lineitem(s, dir))),

    // LONGEST WIN-STREAK per symbol: gaps-and-islands run census with
    // earliest-start tie-break — integer counting + calendar dates only
    "q198_win_streaks" -> ((s, dir) => Indicators.winStreaks(MarketView.fact(s, dir))),

    // L-DIVERSITY privacy profile: q168's k-anonymity extended to the
    // sensitive attribute — per-QI-group distinct-source counts + entropy
    // l-diversity minima (ln contract), rolled up per language
    "q199_l_diversity" -> ((s, dir) => Quality.lDiversity(Tables.documents(s, dir))),

    // CATEGORICAL NAIVE BAYES: counting-only train on the 80% order split,
    // broadcast likelihood tables, decimal log-score argmax; gate = the
    // held-out confusion matrix
    "q200_naive_bayes" -> ((s, dir) =>
      Learn.naiveBayes(Tables.orders(s, dir), Tables.customer(s, dir))),

    // VOCABULARY-GROWTH CURVE + HEAPS-LAW FIT: first-occurrence checkpoint
    // prefix sums (type is new at min(doc_id)); log-log OLS slope via the
    // q162 decimal sufficient statistics
    "q201_vocab_growth" -> ((s, dir) => TextOps.vocabGrowth(Tables.documents(s, dir))),

    // RFM SEGMENTATION: recency/frequency/monetary quintiles via the
    // DISTRIBUTED banded ntile (cross-band prefix rank + positional tile
    // rule — no customer-global sort window); 5x5x5 segment census
    "q202_rfm_segments" -> ((s, dir) => Analytics.rfmSegments(Tables.orders(s, dir))),

    // DAU / trailing-WAU STICKINESS: distinct-over-sliding-window
    // reformulated as the constant ≤7 window-end fan-out per user-day —
    // no per-window user sets, every distinct a keyed aggregate
    "q203_stickiness" -> ((s, dir) => EventOps.stickiness(Tables.events(s, dir))),

    // T+2 SETTLEMENT CALENDAR: weekend-free trading-day index (broadcast),
    // weekend trades roll forward, settlement = index + 2; end-of-corpus
    // trades honestly reported UNSETTLED
    "q204_settlement_t2" -> ((s, dir) => EventOps.settlementT2(Tables.events(s, dir))),

    // PRODUCT-QUANTIZED kNN (Jégou et al. 2011): m=8 md5-seeded subspace
    // codebooks, 1-byte codes, asymmetric-distance scoring through ONE
    // broadcast lookup join; left-associated m-term sums keep every score
    // bit-identical cross-engine; float rescore of 20k survivors
    // train-once/probe-many: codebooks come from the fingerprinted MV
    // (first call trains + persists; every later call pays only encode +
    // ADC + rescore) — parquet round-trips the quantized Lloyd coordinates
    // bit-exactly, so rows are identical to the train-in-query path
    "q205_pq_knn" -> ((s, dir) => Similarity.pqKnnWithCodebooks(
      Tables.embeddings(s, dir), Similarity.pqCodebooksMV(s, dir))),

    // LABEL-PROPAGATION COMMUNITIES: synchronous rounds, mode-of-neighbors
    // with smallest-label ties — fully deterministic, rounds unrolled in
    // the oracle; per-round cost = one keyed join + one hash argmax
    "q206_communities" -> ((s, dir) => GraphOps.communityGate(s, dir)),

    // FIFO INVENTORY AGING: the unmatched add-stream tail via the
    // closed-form remaining = max(0, hi - max(lo, consumed)) identity —
    // no matching pass; fixed age buckets, all-integer census
    "q207_fifo_aging" -> ((s, dir) => Ledger.fifoAging(Tables.lineitem(s, dir))),

    // HOLT LINEAR SMOOTHING + HOLDOUT BACKTEST: the level+trend recursion
    // as a per-symbol aggregate-HOF fold (q165's quantized contract in
    // batch), judged against the q190 seasonal-naive baseline on exact
    // decimal error sums
    "q208_holt_backtest" -> ((s, dir) =>
      Indicators.holtBacktest(MarketView.dailyBars(s, dir))),

    // DETERMINISTIC POISSON BOOTSTRAP CI: per-row Binomial(8,1/8)
    // multiplicities from md5 — both engines draw identical resamples;
    // positional 5/95 order statistics over the B resample means
    "q209_bootstrap_ci" -> ((s, dir) => Stats.bootstrapCi(MarketView.fact(s, dir))),

    // SCD TYPE-2 BUILD + POINT-IN-TIME JOIN: status versions at every
    // change (same-ns changes collapse deterministically); facts join the
    // version current AT THEIR OWN TIMESTAMP via the as-of operator —
    // the canonical warehouse pattern, 'none' for pre-history facts
    "q210_scd2_pit" -> ((s, dir) => Stars.scd2Pit(Tables.events(s, dir))),

    // BOUNDED k-CORE PEELING: 4 rounds of degree-<60 deletion over the
    // co-purchase graph — the "always bought together" backbone census;
    // each round one degree aggregate + two keyed semi-joins
    "q211_kcore" -> ((s, dir) => GraphOps.kCoreGate(s, dir)),

    // PREFIX-FILTERED SET-SIMILARITY JOIN (SSJoin/PPJoin): candidates only
    // from rarest-first prefixes over the 3-word SHINGLE universe, cut by
    // the length AND positional filters; exact array-intersect verify;
    // τ = 7/10 by integer cross-multiplication — the oracle is the
    // definitional every-shared-shingle join, proving losslessness
    "q212_prefix_join" -> ((s, dir) =>
      TextOps.prefixSimilarityJoin(Tables.documents(s, dir), 7, 10, shingled = true)),

    // PER-DOMAIN QUOTA (frontier-style corpus cap): md5-deterministic cap
    // of documents per source domain through the bounded k-heap aggregate —
    // the CommonCrawl-prep step that stops one crawl-heavy host from
    // dominating a training mixture
    "q213_domain_quota" -> ((s, dir) =>
      TextOps.domainQuota(Tables.documents(s, dir))),

    // EXACT-SUBSTRING SPAN-CUT CLEANER (Lee et al. 2022): REMOVE every
    // token position covered by a corpus-duplicated 3-gram instead of
    // dropping whole documents — kept text digested, removal census per
    // doc; the cut set equals q97's covered positions by construction
    // (spec-pinned), same vocabulary-sized df aggregate, no pair space
    "q214_span_cut" -> ((s, dir) => TextOps.spanCutClean(s, dir)),

    // MULTI-PROBE SemDeDup: each vector probes its 2 NEAREST k-means
    // cells, rescuing the boundary-straddling near-dup pairs the
    // single-cell rule provably misses (q90's quantified 0.454 cross-cell
    // miss at τ=0.35); drop rule unchanged, census keys on the primary
    // cell, pairwise work still cell-bounded (nProbe² × single-probe)
    "q215_semdedup_multiprobe" -> ((s, dir) =>
      Similarity.semanticDedupMultiProbe(Tables.embeddings(s, dir),
        nCells = 8, iters = 3, tau = 0.35, nProbe = 2)),

    // PER-REGISTRABLE-DOMAIN QUOTA: q213's cap keyed on the eTLD+1 of a
    // full URL (deterministically synthesized — the corpus has no URL
    // column; the oracle replays the synthesis), so one hot site across
    // www./news./cdn. subdomains is still ONE domain budget; same bounded
    // k-heap shuffle contract
    "q216_url_domain_quota" -> ((s, dir) =>
      TextOps.urlDomainQuota(Tables.documents(s, dir))),

    // FULL-PSL DOMAIN QUOTA: q216's quota under the complete Public-Suffix-
    // List algorithm — wildcard (`*.ck`) and exception (`!www.ck`) rules
    // plus the implicit `*` default, compiled from the classpath rule FILE
    // into a zero-shuffle codegen'd when-chain; apex-suffix hosts (no
    // registrable domain) are dropped, the crawl-frontier discipline
    "q218_psl_domain_quota" -> ((s, dir) =>
      TextOps.urlDomainQuotaPsl(Tables.documents(s, dir))),

    // INCREMENTAL SYM-MV MAINTENANCE: q127's base ⊎ delta discipline lifted
    // to the symmetrized-adjacency relation — pair weights AND degrees both
    // merge additively at delta cost (the standing relation is scanned
    // once, the source self-join never reruns); oracle = the full rebuild
    "q217_sym_incremental" -> ((s, dir) =>
      GraphOps.symIncrementalParity(s, dir)),

    // STREAMING DOMAIN QUOTA: q213's cap as keyed streaming state — a real
    // AvailableNow lifecycle whose bounded per-domain heap (cap ids + one
    // monotone counter) ends hash-identical to the batch quota; the
    // batch-vs-streaming asymmetry of the LLM-prep quota family closed
    "q219_stream_domain_quota" -> ((s, dir) =>
      graft.streaming.StreamingOps.domainQuotaStreamParity(s, dir)),

    // STREAMING SPAN-CUT: q214's cleaner as corpus ingestion — per-batch
    // cleaning against the standing duplicated-shingle index MV
    // (vocabulary-sized, the crawl pipeline's persisted state); identical
    // to the batch cleaner under any batch split, no state store
    "q220_stream_span_cut" -> ((s, dir) =>
      graft.streaming.StreamingOps.spanCutStreamParity(s, dir)),

    // INCREMENTAL INDEX MAINTENANCE: the q220 standing span-cut index
    // refreshed at delta cost — per-batch shingle dfs are additive under
    // the whole-document CDC grain; oracle = the full-corpus rebuild
    "q221_shingle_df_incremental" -> ((s, dir) =>
      TextOps.shingleDfIncrementalParity(s, dir)),

    // BENCHMARK DECONTAMINATION: the eval-leak REMOVAL step — q214's
    // span-cut machinery probed with the held-out benchmark source's
    // shingles (q65 measures the leakage; this cuts it out of the kept
    // text); benchmark side is distinct-aggregated then broadcast
    "q222_benchmark_decontam" -> ((s, dir) =>
      TextOps.benchmarkDecontam(s, dir)),

    // TOKEN-BUDGET SELECTION: quality-ranked corpus prefix under a global
    // token budget — the q83 two-phase distributed prefix sum over the
    // (rounded score desc, doc_id) range partitioning, never a
    // single-partition window
    "q223_token_budget_select" -> ((s, dir) =>
      TextOps.tokenBudgetSelect(s, dir, 8000L)),

    // LEAKAGE-SAFE SPLIT: train/val/test assignment keyed on the near-dup
    // CLUSTER REP (q74's relation) so no duplicate cluster straddles the
    // train/test boundary; singletons degenerate to the q59 per-doc rule
    "q224_leak_safe_split" -> ((s, dir) =>
      TextOps.leakSafeSplit(s, dir, 0.5)),

    // MIXTURE-BUDGET EXECUTION: q89's temperature-scaled weights turned
    // into per-source token budgets (integer micro-weight arithmetic),
    // each source selected by the q223 quality-ranked exclusive-prefix
    // rule via the SEGMENTED two-phase prefix sum — never a per-source
    // window
    "q225_mixture_budget_select" -> ((s, dir) =>
      TextOps.mixtureBudgetSelect(s, dir, 8000L)),

    // CHUNK-LEVEL DEDUP CLEANER: q92's content-defined chunks turned from
    // census into cleaning — per doc, drop every chunk whose digest occurs
    // in more than dfLimit documents, reassemble the survivors in order
    // (q214's cleaner contract at CDC granularity)
    "q226_chunk_dedup_clean" -> ((s, dir) =>
      TextOps.chunkDedupClean(s, dir, 1L)),

    // STREAMING MIXTURE-BUDGET ADMISSION: q225's per-source token budgets
    // as keyed streaming state — the admitted set is maintained by
    // insert-then-retrim (a displaced doc is out FOREVER because exclusive
    // prefixes only grow), so the final state equals the batch selection
    // under any arrival order; budgets decided offline, admission online
    "q227_stream_mixture_budget" -> ((s, dir) =>
      graft.streaming.StreamingOps.mixtureBudgetStreamParity(s, dir, 8000L)),

    // SHARD NOVELTY CURVE: per ingestion shard, distinct vs FIRST-SEEN
    // shingles + running vocabulary — the diminishing-returns curve that
    // tells a crawl when more data stops adding content; two
    // vocabulary-keyed aggregates, window only over the nShards-row result
    "q228_novelty_curve" -> ((s, dir) =>
      TextOps.noveltyCurve(s, dir, 10)),

    // CELL SILHOUETTE: pair-free (centroid-simplified) silhouette over the
    // q90 k-means cells — the clustering-quality diagnostic for the
    // SemDeDup/IVF k and nProbe knobs; ranks 1+2 of the assignment's own
    // broadcast cellRank pass ARE (a, b), one hash aggregate to k rows
    "q229_cell_silhouette" -> ((s, dir) =>
      Similarity.cellSilhouette(Tables.embeddings(s, dir), 8, 3)),

    // STREAMING BENCHMARK DECONTAMINATION: q222's eval-leak removal at
    // ingestion — per-batch span-cut against the standing benchmark
    // cut-set MV (q220's probe-the-index shape, benchmark-sized index);
    // identical to the batch cleaner under any batch split, no state store
    "q230_stream_decontam" -> ((s, dir) =>
      graft.streaming.StreamingOps.decontamStreamParity(s, dir)),

    // FULL-PSL + IDN DOMAIN QUOTA: q218 upgraded from the 35-line subset
    // to the complete published ~9.5k-rule Public Suffix List, with hosts
    // lowercased + punycoded (IdnAscii) before matching — 4-label rules,
    // two wildcard families with exception carve-outs, Unicode TLDs and
    // labels, the implicit-* default, and apex-suffix drops all exercised
    "q231_psl_full_domain_quota" -> ((s, dir) =>
      TextOps.urlDomainQuotaPslFull(Tables.documents(s, dir))),

    // BUCKETED-BASE SYM MERGE: q217's contract with the standing relation
    // persisted bucketed+sorted on (u, v) — the layout under which either
    // merge form plans ZERO base-side exchanges (only the delta shuffles);
    // proves write, catalog read-back, and merge end-to-end
    "q232_sym_incremental_bucketed" -> ((s, dir) =>
      GraphOps.symIncrementalParityBucketed(s, dir)),

    // BUCKETED-BASE SHINGLE-DF MERGE: q221's contract with the standing
    // index persisted bucketed+sorted on sg — base side exchange-free
    "q233_shingle_df_bucketed" -> ((s, dir) =>
      TextOps.shingleDfIncrementalParityBucketed(s, dir)),

    // EMBEDDING-DRIFT MONITOR: q196's PSI discipline in embedding space —
    // per label, centroid cosine across deterministic ref/current windows
    // (first-moment drift) + PSI over each vector's cosine to the rounded
    // reference centroid (shape drift); everything past two scans lives on
    // the bounded labels×bins relation
    "q234_centroid_drift" -> ((s, dir) =>
      Similarity.centroidDriftMonitor(Tables.embeddings(s, dir))),

    // MULTI-BENCHMARK DECONTAMINATION: q222's span cut with the cut set
    // widened to a TAGGED union of N benchmark sources probed in one pass,
    // each doc's cut attributed per benchmark (benches_hit audit column)
    "q235_multibench_decontam" -> ((s, dir) =>
      TextOps.multiBenchDecontam(s, dir)),

    // STREAMING MULTI-BENCHMARK DECONTAMINATION: q235's tagged one-pass
    // probe + per-benchmark audit run per arriving micro-batch against the
    // standing tagged cut-set MV — emitted relation ≡ batch q235 under any
    // batching (per-document cleaning), oracle verbatim
    "q239_stream_multibench_decontam" -> ((s, dir) =>
      graft.streaming.StreamingOps.multiBenchDecontamStreamParity(s, dir)),

    // STREAMING INCREMENTAL INDEX MAINTENANCE: the bucketed standing sym
    // MV maintained by a stream of CDC edge batches — per micro-batch,
    // join-form merge against the current publish + atomic bucketed
    // republish (no state store; the MV is the state); final publish must
    // equal the full rebuild, whatever the batching
    "q236_sym_merge_stream" -> ((s, dir) =>
      graft.streaming.StreamingOps.symMergeStreamParity(s, dir)),

    // INCREMENTAL IVF INDEX, BUCKETED: centroid MV trained once on the
    // standing split, assignment MV bucketed by cell, delta vectors
    // assigned by one broadcast pass, probe bucket-pruned to the probed
    // cell set — the ANN index refreshing at delta cost (q232's discipline)
    "q237_ivf_incremental_bucketed" -> ((s, dir) =>
      Similarity.ivfIncrementalParityBucketed(s, dir)),

    // DURABLE INCREMENTAL IVF: the q237 assignment MV grown through the
    // replay-idempotent republish chain (q236's discipline) — two delta
    // batches land in the standing MV exactly once each, and the probe
    // reads ONLY the latest publish's probed bucket files, with no
    // per-call delta job
    "q238_ivf_durable_refresh" -> ((s, dir) =>
      Similarity.ivfDurableRefreshBucketed(s, dir)),

    // INT8-QUANTIZED DURABLE IVF: the refresh chain applied to the index
    // production actually refreshes — the standing MV stores int8 codes +
    // scale (no floats), deltas land quantized exactly once, the probe is
    // coarse-int8-then-float-rescore over the probed bucket files only
    "q240_int8_ivf_durable" -> ((s, dir) =>
      Similarity.int8IvfDurableRefresh(s, dir)),

    // STREAMING QUANTIZED-INDEX MAINTENANCE: the int8 chain driven by an
    // actual at-least-once stream (foreachBatch) — per-vector assignment
    // makes the chain state batching-invariant, so the gate shares q240's
    // assign-everything oracle verbatim (stream ≡ batch, hash-exactly)
    "q241_int8_ivf_stream" -> ((s, dir) =>
      streaming.StreamingOps.int8IvfStreamParity(s, dir)),

    // DURABLE INCREMENTAL SemDeDup: q90's within-cell dedup maintained as
    // delta batches land through the replay-idempotent chain — lower-id-
    // wins preserved across batches in BOTH directions (an arrival can
    // flip a standing vector), so the census equals the batch rule over
    // the fully-assigned corpus under any batching
    "q242_semantic_dedup_durable" -> ((s, dir) =>
      Similarity.semanticDedupDurable(s, dir)),

    // MIN-RUN SPAN CUT: q214's cleaner cutting only maximal covered runs
    // of >= SpanCutMinRunTokens positions (Lee et al. 2022 cut runs >= 50
    // tokens) — incidental shared trigrams are kept, duplicated passages
    // still cut; probes the same standing dup-shingle MV as q214/q220
    "q243_span_cut_min_run" -> ((s, dir) =>
      TextOps.spanCutCleanRunsAgainst(Tables.documents(s, dir),
        TextOps.dupShinglesMV(s, dir), TextOps.SpanCutMinRunTokens)
        .orderBy("doc_id")),

    // STREAMING SEMANTIC-DEDUP MAINTENANCE: the q242 chain driven by an
    // at-least-once stream through the shared step body — the SemDeDup
    // column of the maintenance matrix; pair coverage is batching-
    // invariant, so the gate shares q242's oracle verbatim
    "q244_semantic_dedup_stream" -> ((s, dir) =>
      streaming.StreamingOps.semDedupStreamParity(s, dir)),

    // DURABLE INCREMENTAL PQ: the ANN-maintenance cell the IVF family had
    // and PQ didn't — codebooks stay split-trained and FIXED (the q238
    // centroid discipline), arriving batches are encoded against them and
    // land in the standing (vec_id, sub, code) table exactly once through
    // the batchId-guarded chain; the probe is q205's ADC + exact-rescore
    // over the LATEST publish only
    "q245_pq_durable" -> ((s, dir) => Similarity.pqDurableRefresh(s, dir)),

    // EMBEDDING-BASED BENCHMARK DECONTAMINATION: q222's eval-leak cut
    // catches exact n-gram overlap; this catches SEMANTIC near-matches —
    // benchmark vectors probe their nProbe nearest cells of the q238
    // centroid space (never brute force) and flag corpus vectors at
    // rounded cosine >= τ, the audit relation a pipeline anti-joins on
    "q246_semantic_decontam" -> ((s, dir) => Similarity.semanticDecontam(s, dir)),

    // STREAMING SEMANTIC DECONTAMINATION: q246 run where the corpus
    // arrives — per-batch broadcast assign + probe against the standing
    // benchmark relation, landed via the replay-idempotent sink; flagging
    // is per-vector given the standing inputs, so the gate shares q246's
    // oracle verbatim (stream ≡ batch, hash-exactly)
    "q247_semantic_decontam_stream" -> ((s, dir) =>
      streaming.StreamingOps.semanticDecontamStreamParity(s, dir)),

    // STREAMING DURABLE PQ MAINTENANCE: the q245 chain driven by an
    // at-least-once stream through the shared step body — the last cell
    // of the stream×ANN maintenance matrix (q241 int8-IVF, q244
    // SemDeDup); encoding against the fixed books is per-vector, so the
    // chain state is batching-invariant and the gate shares q245's
    // oracle verbatim (stream ≡ batch, hash-exactly)
    "q248_pq_stream" -> ((s, dir) =>
      streaming.StreamingOps.pqStreamParity(s, dir))
  )

  /** The q117 BPE training loop UNROLLED in SQL: v0 is the char-wrapped
    * word vocabulary; each iteration i counts pairs from v(i-1), selects
    * b_i (top pair per lang, ties on pair ASC), and rewrites v_i by literal
    * replace of '<a><b>' with '<ab>' — the same disjoint-occurrence string
    * semantics the engine uses, so the loop is engine-portable by
    * construction. */
  private def bpeOracleSql(k: Int): String = {
    val base = """
WITH words AS (
  SELECT lang,
         unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
  FROM documents
), v0 AS (
  SELECT lang, regexp_replace(word, '(.)', '<\1>', 'g') AS w, count(*) AS wcnt
  FROM words WHERE word <> '' GROUP BY 1, 2
)"""
    val iters = (1 to k).map { i =>
      s""", p$i AS (
  SELECT lang, pair, CAST(sum(wcnt) AS BIGINT) AS cnt FROM (
    SELECT lang, wcnt,
           unnest(list_transform(range(1, len(syms)), j -> syms[j] || ' ' || syms[j + 1])) AS pair
    FROM (SELECT lang, wcnt, regexp_extract_all(w, '<([^>]*)>', 1) AS syms FROM v${i - 1})
    WHERE len(syms) >= 2
  ) GROUP BY 1, 2
), b$i AS (
  SELECT lang, pair, cnt FROM (
    SELECT lang, pair, cnt,
           row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, pair) AS rk
    FROM p$i
  ) WHERE rk = 1
), v$i AS (
  SELECT v.lang,
         replace(v.w, '<' || replace(b.pair, ' ', '><') || '>',
                      '<' || replace(b.pair, ' ', '') || '>') AS w,
         v.wcnt
  FROM v${i - 1} v JOIN b$i b USING (lang)
)"""
    }.mkString
    val sel = (1 to k)
      .map(i => s"SELECT lang, CAST($i AS BIGINT) AS step, pair, cnt FROM b$i")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY lang, step")
    base + iters + sel
  }

  /** q118's oracle: the SAME unrolled training chain as [[bpeOracleSql]]
    * but carrying word identity through each rewrite (vw_i), LEFT-joined
    * per step so a language whose pairs run dry keeps its shorter chain
    * (mirroring the engine's null-guarded fold), then the encode census:
    * per-word symbol count = '<'-marker count, joined back to the document
    * word stream. */
  private def bpeEncodeOracleSql(k: Int): String = {
    val base = """
WITH wordsd AS (
  SELECT doc_id, lang,
         unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS word
  FROM documents
), vw0 AS (
  SELECT lang, word, regexp_replace(word, '(.)', '<\1>', 'g') AS w, count(*) AS wcnt
  FROM wordsd WHERE word <> '' GROUP BY 1, 2, 3
)"""
    val iters = (1 to k).map { i =>
      s""", p$i AS (
  SELECT lang, pair, CAST(sum(wcnt) AS BIGINT) AS cnt FROM (
    SELECT lang, wcnt,
           unnest(list_transform(range(1, len(syms)), j -> syms[j] || ' ' || syms[j + 1])) AS pair
    FROM (SELECT lang, wcnt, regexp_extract_all(w, '<([^>]*)>', 1) AS syms FROM vw${i - 1})
    WHERE len(syms) >= 2
  ) GROUP BY 1, 2
), b$i AS (
  SELECT lang, pair FROM (
    SELECT lang, pair, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, pair) AS rk
    FROM p$i
  ) WHERE rk = 1
), vw$i AS (
  SELECT v.lang, v.word,
         CASE WHEN b.pair IS NULL THEN v.w
              ELSE replace(v.w, '<' || replace(b.pair, ' ', '><') || '>',
                                '<' || replace(b.pair, ' ', '') || '>') END AS w,
         v.wcnt
  FROM vw${i - 1} v LEFT JOIN b$i b USING (lang)
)"""
    }.mkString
    base + iters + s""", enc AS (
  SELECT lang, word, CAST(len(w) - len(replace(w, '<', '')) AS BIGINT) AS n_bpe FROM vw$k
)
SELECT d.doc_id, d.lang, count(*) AS n_words,
       CAST(sum(len(d.word)) AS BIGINT) AS n_chars_alnum,
       CAST(sum(e.n_bpe) AS BIGINT) AS n_tokens_bpe
FROM wordsd d JOIN enc e ON d.lang = e.lang AND d.word = e.word
GROUP BY 1, 2 ORDER BY d.doc_id"""
  }

  def oracleSql: Map[String, String] = Map(
    "q117_bpe_merge_loop" -> bpeOracleSql(5),
    "q118_bpe_encode" -> bpeEncodeOracleSql(5),
    "q01_daily_bars" -> (BARS + """
SELECT symbol, CAST(date AS VARCHAR) AS date, open, high, low, close, volume
FROM bars ORDER BY symbol, date"""),

    "q02_pct_change" -> (FACT + """
SELECT symbol, CAST(date AS VARCHAR) AS date, close, prev_close,
       round(variacao_diaria, 6) + 0 AS variacao_diaria
FROM fact ORDER BY symbol, date"""),

    "q03_weekly_volatility" -> (WEEKLY + """
SELECT symbol, CAST(semana AS VARCHAR) AS semana, round(vol, 6) + 0 AS vol
FROM wv ORDER BY symbol, semana"""),

    "q04_top_volatility" -> (WEEKLY + """
SELECT symbol, round(avg(vol), 4) + 0 AS avg_volatility
FROM wv GROUP BY symbol
ORDER BY avg_volatility DESC, symbol LIMIT 1"""),

    "q05_risk_profile" -> (FACT + """
SELECT symbol,
       round(stddev_samp(variacao_diaria), 6) + 0 AS volatilidade,
       round(avg(variacao_diaria), 6) + 0 AS variacao_media,
       round(max(variacao_diaria), 6) + 0 AS maior_alta,
       round(min(variacao_diaria), 6) + 0 AS maior_queda
FROM fact WHERE variacao_diaria IS NOT NULL
GROUP BY symbol ORDER BY volatilidade DESC, symbol"""),

    "q06_liquidity" -> (BARS + """
SELECT symbol,
       round(avg(volume), 4) + 0 AS volume_medio,
       CAST(sum(volume) AS BIGINT) AS volume_total
FROM bars GROUP BY symbol ORDER BY volume_total DESC, symbol"""),

    "q07_global_stats" -> (FACT + """
SELECT count(*) AS n_rows,
       count(DISTINCT symbol) AS n_symbols,
       count(DISTINCT date) AS n_days,
       CAST(min(date) AS VARCHAR) AS first_date,
       CAST(max(date) AS VARCHAR) AS last_date,
       round(avg(close), 4) + 0 AS avg_close,
       round(stddev_samp(variacao_diaria), 4) + 0 AS std_variacao,
       round(avg(volume), 4) + 0 AS avg_volume
FROM fact"""),

    "q08_dim_instrument" -> (BARS + """
SELECT DISTINCT symbol AS ticker, 'Ativo ' || symbol AS nome
FROM bars ORDER BY ticker"""),

    "q09_dim_tempo" -> (BARS + """
SELECT DISTINCT CAST(date AS VARCHAR) AS data_id,
       CAST(date_part('year', date) AS BIGINT) AS ano,
       CAST(date_part('month', date) AS BIGINT) AS mes,
       CAST(date_part('dow', date) AS BIGINT) AS dia_da_semana
FROM bars ORDER BY data_id"""),

    "q10_quality_gate" -> (BARS + """
SELECT total_rows, null_criticals,
       CASE WHEN null_criticals = 0 AND n_keys = total_rows THEN 1 ELSE 0 END::BIGINT AS passed
FROM (
  SELECT count(*) AS total_rows,
         CAST(sum(CASE WHEN close IS NULL OR date IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_criticals,
         count(DISTINCT symbol || '|' || CAST(date AS VARCHAR)) AS n_keys
  FROM bars
)"""),

    "q11_weekly_vol_rounded" -> (FACT + """
SELECT symbol AS ticker, CAST(CAST(date_trunc('week', date) AS DATE) AS VARCHAR) AS semana,
       round(stddev_samp(variacao_diaria), 2) + 0 AS vol
FROM fact WHERE variacao_diaria IS NOT NULL
GROUP BY 1, 2 ORDER BY ticker, semana"""),

    "q12_top_performance" -> (FACT + """
SELECT symbol, round(avg(variacao_diaria), 4) + 0 AS variacao_media
FROM fact WHERE variacao_diaria IS NOT NULL
GROUP BY symbol ORDER BY variacao_media DESC, symbol LIMIT 5"""),

    "q13_investor_scores" -> (FACT + """, metrics AS (
  SELECT symbol, stddev_samp(variacao_diaria) AS vol, avg(variacao_diaria) AS vm,
         CAST(sum(volume) AS DOUBLE) AS vt
  FROM fact WHERE variacao_diaria IS NOT NULL GROUP BY symbol
), g AS (
  SELECT max(vol) AS vol_max, min(vm) AS vm_min, max(vm) AS vm_max,
         min(vt) AS vt_min, max(vt) AS vt_max
  FROM metrics
), sc AS (
  SELECT symbol,
         100.0 - vol / nullif(vol_max, 0) * 100 AS s_seg,
         (vm - vm_min) / nullif(vm_max - vm_min, 0) * 100 AS s_perf,
         (vt - vt_min) / nullif(vt_max - vt_min, 0) * 100 AS s_liq
  FROM metrics CROSS JOIN g
)
SELECT symbol,
       round(s_seg, 4) + 0 AS score_seguranca,
       round(s_perf, 4) + 0 AS score_performance,
       round(s_liq, 4) + 0 AS score_liquidez,
       round(s_seg * 0.5 + s_perf * 0.3 + s_liq * 0.2, 4) + 0 AS score_conservador,
       round(s_seg * 0.35 + s_perf * 0.35 + s_liq * 0.3, 4) + 0 AS score_moderado,
       round(s_seg * 0.2 + s_perf * 0.5 + s_liq * 0.3, 4) + 0 AS score_agressivo
FROM sc ORDER BY symbol"""),

    "q14_monthly_summary" -> (BARS + """
SELECT CAST(date_part('year', date) AS BIGINT) AS ano,
       CAST(date_part('month', date) AS BIGINT) AS mes,
       count(*) AS n_bars,
       round(avg(close), 4) + 0 AS avg_close,
       CAST(sum(volume) AS BIGINT) AS volume_total
FROM bars GROUP BY 1, 2 ORDER BY ano, mes"""),

    "q15_star_revenue" -> """
SELECT r_name, n_name,
       CAST(sum(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name ORDER BY r_name, n_name""",

    "q16_top_customers" -> """
SELECT c_custkey, c_name, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total_spent
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spent DESC, c_custkey LIMIT 10""",

    "q17_part_type_stats" -> """
SELECT p_type, count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
       round(avg(l_discount), 6) + 0 AS avg_discount,
       CAST(sum(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type ORDER BY p_type""",

    "q18_semi_join_big_orders" -> """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
ORDER BY c_custkey""",

    "q19_anti_join_no_big_orders" -> """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
ORDER BY c_custkey""",

    "q20_pricing_summary" -> """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) * (CAST(1.0 AS DOUBLE) + l_tax) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
       round(avg(l_quantity), 6) + 0 AS avg_qty,
       round(avg(l_extendedprice), 4) + 0 AS avg_price,
       round(avg(l_discount), 6) + 0 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",

    "q21_orders_by_month" -> """
SELECT strftime(o_orderdate, '%Y-%m') AS mes, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total
FROM orders GROUP BY 1 ORDER BY mes""",

    "q22_events_weekly" -> """
SELECT event_type,
       CAST(CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS VARCHAR) AS semana,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY event_type, semana""",

    "q23_user_sessions" -> """
WITH x AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT user_id,
       CAST(sum(CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM x GROUP BY user_id ORDER BY user_id""",

    "q63_event_funnel" -> """
WITH f AS (
  -- epoch_ns(ts): DuckDB reads the parquet TIMESTAMP(NANOS) losslessly, so
  -- this is the SAME nanosecond long the Spark side compares (ts_ns) — the
  -- strict tc > tv / tp > tc comparisons agree even for sub-microsecond gaps
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END) AS tv,
         min(CASE WHEN event_type = 'click' THEN epoch_ns(ts) END) AS tc,
         min(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS tp
  FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       CAST(sum(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN tv IS NOT NULL AND tc IS NOT NULL AND tc > tv
                THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(sum(CASE WHEN tv IS NOT NULL AND tc IS NOT NULL AND tp IS NOT NULL
                     AND tc > tv AND tp > tc
                THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
FROM f""",

    "q24_props_rollup" -> """
SELECT event_type, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k,
       round(avg(k), 4) + 0 AS avg_k,
       min(k) AS min_k, max(k) AS max_k
FROM (SELECT event_type,
             TRY_CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT) AS k
      FROM events)
GROUP BY event_type ORDER BY event_type""",

    "q25_dedup_exact" -> """
SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
       count(*) - count(DISTINCT md5(text)) AS n_dups
FROM documents GROUP BY source ORDER BY source""",

    "q26_dedup_normalized" -> """
SELECT lang, count(*) AS n_docs,
       count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS n_norm_unique
FROM documents GROUP BY lang ORDER BY lang""",

    "q27_jaccard_pairs" -> """
WITH d AS (
  SELECT doc_id, lang, source,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, lang, source, string_split(norm, ' ') AS toks FROM d
), sh AS (
  SELECT DISTINCT doc_id, lang, source,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sg
  FROM t
), cnt AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.source = b.source AND a.sg = b.sg AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter), 6) + 0 AS jaccard
FROM pairs JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""",

    "q30_lang_id" -> """
WITH d AS (
  SELECT doc_id, lang, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), h AS (
  SELECT doc_id, lang AS lang_claimed,
    CAST(len(regexp_extract_all(norm, '\b(the|a|and|of|to|in|is)\b', 0)) AS BIGINT) AS hits_en,
    CAST(len(regexp_extract_all(norm, '\b(der|die|das|und|ist|nicht)\b', 0)) AS BIGINT) AS hits_de,
    CAST(len(regexp_extract_all(norm, '\b(le|la|les|et|est|une)\b', 0)) AS BIGINT) AS hits_fr,
    CAST(len(regexp_extract_all(norm, '\b(el|los|las|una|pero|como)\b', 0)) AS BIGINT) AS hits_es
  FROM d
)
SELECT doc_id, lang_claimed, hits_en, hits_de, hits_fr, hits_es,
  CASE WHEN hits_de > hits_en AND hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
       WHEN hits_fr > hits_en AND hits_fr > hits_de AND hits_fr >= hits_es THEN 'fr'
       WHEN hits_es > hits_en AND hits_es > hits_de AND hits_es > hits_fr THEN 'es'
       ELSE 'en' END AS predicted
FROM h ORDER BY doc_id""",

    "q31_text_quality" -> """
WITH d AS (
  SELECT doc_id, text, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(regexp_extract_all(text, '[^\s]+', 0)) AS BIGINT) AS n_tokens,
    CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS letter_chars,
    CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS alnum_space,
    CAST(len(regexp_extract_all(norm, '\b(the|a|and|of|to|in|is)\b', 0)) AS BIGINT) AS stop_hits
  FROM d
), r AS (
  SELECT doc_id, n_chars, n_tokens,
    CAST(letter_chars AS DOUBLE) / nullif(CAST(n_tokens AS DOUBLE), 0) AS avg_token_len,
    CAST(n_chars - alnum_space AS DOUBLE) / nullif(CAST(n_chars AS DOUBLE), 0) AS punct_ratio,
    CAST(stop_hits AS DOUBLE) / nullif(CAST(n_tokens AS DOUBLE), 0) AS stopword_ratio
  FROM m
)
SELECT doc_id, n_chars, n_tokens,
       round(avg_token_len, 6) + 0 AS avg_token_len,
       round(punct_ratio, 6) + 0 AS punct_ratio,
       round(stopword_ratio, 6) + 0 AS stopword_ratio,
       round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4
             + (1.0 - punct_ratio) * 0.3
             + least(1.0, stopword_ratio * 5.0) * 0.3, 6) + 0 AS quality_score
FROM r ORDER BY doc_id""",

    "q32_token_counts" -> """
SELECT source, count(*) AS n_docs,
  CAST(sum(len(regexp_extract_all(text, '[^\s]+', 0))) AS BIGINT) AS n_tokens_ws,
  CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]', 0))) AS BIGINT) AS n_tokens_bpe
FROM documents GROUP BY source ORDER BY source""",

    "q33_fingerprints" -> """
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(norm) - 6), i -> md5(substr(norm, i, 8)))) AS h
  FROM d WHERE length(norm) >= 8
)
SELECT doc_id, min(h) AS fingerprint, count(*) AS n_windows
FROM g GROUP BY doc_id ORDER BY doc_id""",

    "q34_knn_brute" -> """
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
FROM r WHERE rk <= 3 ORDER BY q_id, rk""",

    "q35_knn_lsh" -> {
      // replicate Similarity.lshKnn exactly: same fixed-seed hyperplanes as
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
    },

    "q125_int8_knn" -> {
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
    },

    "q39_ivf_knn" -> """
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
FROM r WHERE rk <= 3 ORDER BY q_id, rk""",

    "q73_ivf_knn_kmeans" -> {
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
    },

    "q90_semantic_dedup" -> {
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
    },

    "q36_label_centroids" -> """
WITH x AS (
  SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos,
       round(avg(v), 6) + 0 AS centroid
FROM x GROUP BY 1, 2 ORDER BY label, pos""",

    "q37_centroid_similarity" -> """
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
ORDER BY label_a, label_b""",

    "q56_embedding_neardup_lsh" -> {
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
    },

    "q38_embedding_neardup" -> """
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
ORDER BY sim DESC, vec_a, vec_b LIMIT 20""",

    "q40_media_profile" -> """
WITH m AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
  FROM documents
)
SELECT media_type,
       count(*) AS n_media,
       CAST(sum(byte_len) AS BIGINT) AS total_bytes,
       round(avg(64 + byte_len % 512), 4) + 0 AS avg_width,
       round(avg(64 + (byte_len * 7) % 512), 4) + 0 AS avg_height,
       CAST(sum(CASE WHEN media_type = 'video' THEN 1 + byte_len % 8 ELSE 1 END) AS BIGINT) AS total_frames
FROM m GROUP BY media_type ORDER BY media_type""",

    // closed-form expected features of the deterministic media fixtures:
    // solid-color PNGs decode to exact (r+g+b)/3 mean luminance; the PCM
    // payloads (±0.5 alternating mono, constant 0.25 stereo) have exact
    // binary-double RMS. The Spark side runs the REAL decoders; matching
    // these literals verifies them end-to-end.
    "q80_real_decode" -> """
SELECT item, metric, CAST(value AS DOUBLE) AS value FROM (VALUES
  ('dc_stereo.wav', 'duration_sec', 0.5),
  ('dc_stereo.wav', 'n_channels', 2.0),
  ('dc_stereo.wav', 'n_frames', 2000.0),
  ('dc_stereo.wav', 'rms', 0.25),
  ('dc_stereo.wav', 'sample_rate', 4000.0),
  ('img_a.png', 'height', 10.0),
  ('img_a.png', 'mean_luma', 60.0),
  ('img_a.png', 'width', 20.0),
  ('img_b.png', 'height', 5.0),
  ('img_b.png', 'mean_luma', 255.0),
  ('img_b.png', 'width', 7.0),
  ('img_c.png', 'height', 16.0),
  ('img_c.png', 'mean_luma', 24.0),
  ('img_c.png', 'width', 16.0),
  ('sq_mono.wav', 'duration_sec', 1.0),
  ('sq_mono.wav', 'n_channels', 1.0),
  ('sq_mono.wav', 'n_frames', 8000.0),
  ('sq_mono.wav', 'rms', 0.5),
  ('sq_mono.wav', 'sample_rate', 8000.0)
) AS t(item, metric, value)
ORDER BY item, metric""",

    // closed-form expected container metadata of the deterministic video
    // fixtures: AVI 320×240 at 25 fps × 250 frames = 10.0 s; MP4 640×360
    // with duration 1200 at timescale 600 = 2.0 s, 300 frames from stts
    "q81_video_meta" -> """
SELECT item, metric, CAST(value AS DOUBLE) AS value FROM (VALUES
  ('vid_a.avi', 'duration_sec', 10.0),
  ('vid_a.avi', 'height', 240.0),
  ('vid_a.avi', 'n_frames', 250.0),
  ('vid_a.avi', 'width', 320.0),
  ('vid_b.mp4', 'duration_sec', 2.0),
  ('vid_b.mp4', 'height', 360.0),
  ('vid_b.mp4', 'n_frames', 300.0),
  ('vid_b.mp4', 'width', 640.0)
) AS t(item, metric, value)
ORDER BY item, metric""",

    // per-frame ground truth: uniform-gray MJPEG frames decode to exactly
    // their gray level (all AC coefficients zero; DC reconstruction verified
    // at fixture build), so every row is a literal
    "q124_video_frames" -> """
SELECT item, CAST(frame_idx AS BIGINT) AS frame_idx, CAST(width AS BIGINT) AS width,
       CAST(height AS BIGINT) AS height, CAST(mean_luma AS DOUBLE) AS mean_luma
FROM (VALUES
  ('clip_a.avi', 0, 48, 32, 128.0),
  ('clip_a.avi', 1, 48, 32, 160.0),
  ('clip_a.avi', 2, 48, 32, 192.0),
  ('clip_b.avi', 0, 64, 48, 192.0),
  ('clip_b.avi', 1, 64, 48, 64.0)
) AS t(item, frame_idx, width, height, mean_luma)
ORDER BY item, frame_idx""",

    "q41_market_overview" -> (FACT + """, m AS (
  SELECT symbol, stddev_samp(variacao_diaria) AS vol, avg(variacao_diaria) AS vm
  FROM fact WHERE variacao_diaria IS NOT NULL GROUP BY symbol
)
SELECT count(*) AS n_tickers,
       round(avg(vol), 6) + 0 AS volatilidade_media,
       round(avg(vm), 6) + 0 AS variacao_media
FROM m"""),

    "q42_asof_prev_close" -> (BARS + """
SELECT e.event_id, e.symbol, CAST(e.date AS VARCHAR) AS date, e.value,
       b.close AS prev_close
FROM (SELECT event_type AS symbol, CAST(ts AS DATE) AS date, event_id, value
      FROM events) e
ASOF LEFT JOIN bars b ON e.symbol = b.symbol AND e.date > b.date
ORDER BY e.event_id"""),

    "q43_cumulative_return" -> (BARS + """, fl AS (
  SELECT symbol,
         arg_min(close, date) AS first_close,
         arg_max(close, date) AS last_close
  FROM bars GROUP BY symbol
)
SELECT symbol, round((last_close / first_close - 1) * 100, 4) + 0 AS retorno_acumulado
FROM fl ORDER BY retorno_acumulado DESC, symbol"""),

    "q44_global_weekly_vol" -> (WEEKLY + """
SELECT round(avg(vol), 4) + 0 AS volatilidade_semanal_media,
       count(*) AS n_weeks
FROM wv"""),

    "q61_bollinger" -> (BARS + """
SELECT symbol, CAST(date AS VARCHAR) AS date,
       round(ma20, 6) + 0 AS ma20,
       round(sd20, 6) + 0 AS sd20,
       round(round(ma20, 6) + 2 * round(sd20, 6), 6) + 0 AS upper,
       round(round(ma20, 6) - 2 * round(sd20, 6), 6) + 0 AS lower
FROM (
  SELECT symbol, date,
         avg(close) OVER w AS ma20,
         stddev_samp(close) OVER w AS sd20
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY date ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
ORDER BY symbol, date"""),

    "q62_max_drawdown" -> (BARS + """
SELECT symbol,
       round(min(close / peak - 1) * 100, 4) + 0 AS max_drawdown_pct
FROM (
  SELECT symbol, close,
         max(close) OVER (PARTITION BY symbol ORDER BY date
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM bars
)
GROUP BY symbol ORDER BY symbol"""),

    "q45_liquidity_share" -> (BARS + """, bt AS (
  SELECT symbol, sum(k_total) AS vt
  FROM (SELECT symbol, volume AS k_total FROM bars) GROUP BY symbol
), t5 AS (
  SELECT sum(vt) AS t5 FROM (SELECT vt FROM bt ORDER BY vt DESC, symbol LIMIT 5)
), tot AS (SELECT sum(vt) AS total FROM bt)
SELECT round(CAST(t5 AS DOUBLE) / total * 100, 4) + 0 AS top5_share_pct
FROM t5, tot"""),

    // -- q121–q123: the README's published ad-hoc texts. The readme CTE body
    // is the LITERAL README statement (DuckDB's STDDEV is sample stddev,
    // like Postgres'), with the same one-word date→data_id erratum applied
    // to q121 as on the Spark side; the outer SELECT is the standard gate
    // normalization (date→string, +0, deterministic order) --
    "q121_readme_weekly_vol" -> (FACT + """, fact_movimentacao_diaria AS (
  SELECT symbol AS ticker, date AS data_id, open, high, low, close, volume, variacao_diaria FROM fact
), readme AS (
SELECT
    DATE_TRUNC('week', data_id)::date AS week_start,
    ticker,
    ROUND(STDDEV(variacao_diaria), 2) AS vol
FROM fact_movimentacao_diaria
GROUP BY DATE_TRUNC('week', data_id), ticker
)
SELECT CAST(week_start AS VARCHAR) AS week_start, ticker, vol + 0 AS vol
FROM readme ORDER BY ticker, week_start"""),

    "q122_readme_risk_profile" -> (FACT + """, fact_movimentacao_diaria AS (
  SELECT symbol AS ticker, date AS data_id, open, high, low, close, volume, variacao_diaria FROM fact
), readme AS (
SELECT
    ticker,
    STDDEV(variacao_diaria) AS volatilidade,
    AVG(variacao_diaria) AS retorno_medio,
    MAX(variacao_diaria) AS variacao_maxima,
    MIN(variacao_diaria) AS variacao_minima
FROM fact_movimentacao_diaria
GROUP BY ticker
ORDER BY volatilidade DESC
)
SELECT ticker,
       round(volatilidade, 6) + 0 AS volatilidade,
       round(retorno_medio, 6) + 0 AS retorno_medio,
       round(variacao_maxima, 6) + 0 AS variacao_maxima,
       round(variacao_minima, 6) + 0 AS variacao_minima
FROM readme ORDER BY round(volatilidade, 6) DESC, ticker"""),

    "q123_readme_liquidity" -> (FACT + """, fact_movimentacao_diaria AS (
  SELECT symbol AS ticker, date AS data_id, open, high, low, close, volume, variacao_diaria FROM fact
), readme AS (
SELECT
    ticker,
    AVG(volume) AS volume_medio,
    SUM(volume) AS volume_total
FROM fact_movimentacao_diaria
GROUP BY ticker
ORDER BY volume_total DESC
)
SELECT ticker, round(volume_medio, 4) + 0 AS volume_medio,
       CAST(volume_total AS BIGINT) AS volume_total
FROM readme ORDER BY volume_total DESC, ticker"""),

    "q46_moving_avg" -> (BARS + """
SELECT symbol, CAST(date AS VARCHAR) AS date,
       round(avg(close) OVER (PARTITION BY symbol ORDER BY date
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) + 0 AS ma7
FROM bars ORDER BY symbol, date"""),

    "q47_volume_percentiles" -> (BARS + """
SELECT symbol,
       round(quantile_cont(volume, 0.5), 4) + 0 AS p50,
       round(quantile_cont(volume, 0.9), 4) + 0 AS p90,
       round(quantile_cont(volume, 0.99), 4) + 0 AS p99
FROM bars GROUP BY symbol ORDER BY symbol"""),

    "q48_user_cohort_setops" -> """
WITH e AS (
  SELECT user_id, CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk FROM events
), w AS (SELECT min(wk) AS w1 FROM e),
u1 AS (SELECT DISTINCT user_id FROM e, w WHERE wk = w1),
u2 AS (SELECT DISTINCT user_id FROM e, w WHERE wk = w1 + INTERVAL 7 DAY)
SELECT
  (SELECT count(*) FROM (SELECT user_id FROM u1 INTERSECT SELECT user_id FROM u2)) AS n_both,
  (SELECT count(*) FROM (SELECT user_id FROM u1 EXCEPT SELECT user_id FROM u2)) AS n_only_w1,
  (SELECT count(*) FROM (SELECT user_id FROM u1 UNION SELECT user_id FROM u2)) AS n_union""",

    "q49_minhash_lsh_portable" ->
      ("WITH " + MinhashPairsCtes +
        "\nSELECT doc_a, doc_b, jaccard FROM pairs ORDER BY jaccard DESC, doc_a, doc_b"),

    "q74_neardup_clusters" ->
      // transitive closure over the raw near-dup pair graph: cluster_rep =
      // the smallest doc_id reachable from each doc (the same CTE chain as
      // q49 feeds the recursion, so the verified pair set is identical)
      ("WITH RECURSIVE " + MinhashPairsCtes + """
, edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_rep
FROM reach GROUP BY a ORDER BY cluster_rep, doc_id"""),

    "q75_novelty" -> """
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
), f AS (
  SELECT sg, min(doc_id) AS first_doc FROM sh GROUP BY sg
)
SELECT s.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) + 0 AS novelty_ratio
FROM sh s JOIN f ON s.sg = f.sg
GROUP BY s.doc_id ORDER BY doc_id""",

    "q76_incremental_dedup" -> """
WITH newd AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE source = 'src0'
), corp AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE source <> 'src0'
), d AS (
  SELECT doc_id, lang, source,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, lang, source, string_split(norm, ' ') AS toks FROM d
), sh AS (
  SELECT DISTINCT doc_id, lang, source,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sg
  FROM t
), a AS (
  SELECT lang, doc_id AS doc_a, sg FROM sh WHERE source = 'src0'
), b AS (
  SELECT lang, doc_id AS doc_b, sg FROM sh WHERE source <> 'src0'
), cnta AS (
  SELECT doc_a, count(*) AS na FROM a GROUP BY 1
), cntb AS (
  SELECT doc_b, count(*) AS nb FROM b GROUP BY 1
), best AS (
  SELECT x.doc_a, round(max(CAST(x.i AS DOUBLE) / (cnta.na + cntb.nb - x.i)), 6) + 0 AS best_jaccard
  FROM (SELECT a.doc_a, b.doc_b, count(*) AS i
        FROM a JOIN b ON a.lang = b.lang AND a.sg = b.sg
        GROUP BY 1, 2) x
  JOIN cnta ON x.doc_a = cnta.doc_a
  JOIN cntb ON x.doc_b = cntb.doc_b
  GROUP BY x.doc_a
)
SELECT n.doc_id,
       CASE WHEN c.h IS NOT NULL THEN 'exact_dup'
            WHEN best.best_jaccard >= 0.5 THEN 'near_dup'
            ELSE 'novel' END AS status,
       best.best_jaccard
FROM newd n
LEFT JOIN corp c ON n.h = c.h
LEFT JOIN best ON n.doc_id = best.doc_a
ORDER BY n.doc_id""",

    "q78_boilerplate" -> """
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
), f AS (
  SELECT sg, count(*) AS df FROM sh GROUP BY sg
)
SELECT s.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN f.df > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       round(CAST(sum(CASE WHEN f.df > 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) + 0 AS boilerplate_frac
FROM sh s JOIN f ON s.sg = f.sg
GROUP BY s.doc_id ORDER BY doc_id""",

    "q77_mad_outliers" -> (FACT + """, m AS (
  SELECT symbol, quantile_cont(variacao_diaria, 0.5) AS med
  FROM fact WHERE variacao_diaria IS NOT NULL GROUP BY symbol
), dv AS (
  SELECT f.symbol, f.variacao_diaria AS x, m.med,
         abs(f.variacao_diaria - m.med) AS dev
  FROM fact f JOIN m ON f.symbol = m.symbol
  WHERE f.variacao_diaria IS NOT NULL
), md AS (
  SELECT symbol, quantile_cont(dev, 0.5) AS mad FROM dv GROUP BY symbol
)
SELECT dv.symbol,
       round(max(dv.med), 6) + 0 AS median_return,
       round(max(md.mad), 6) + 0 AS mad,
       CAST(sum(CASE WHEN md.mad > 0 AND abs(0.6745 * (dv.x - dv.med) / md.mad) > 3.5
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       count(*) AS n_days
FROM dv JOIN md ON dv.symbol = md.symbol
GROUP BY dv.symbol ORDER BY dv.symbol"""),

    "q57_simhash_portable" ->
      ("WITH " + SimhashSigCtes + "\nSELECT doc_id, simhash FROM sig ORDER BY doc_id"),

    "q79_simhash_neardup" ->
      // the raw algorithm: every doc pair within Hamming distance 3. The
      // Spark side never runs this all-pairs form — it chunk-bands cluster
      // reps — but for maxHamming ≤ 3 the 4×15-bit banding is EXHAUSTIVE
      // (pigeonhole: ≤3 differing bits cannot touch all 4 chunks), so the
      // banded plan provably emits exactly this answer
      ("WITH " + SimhashSigCtes + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY hamming, doc_a, doc_b"""),

    "q50_pii_redaction" -> """
WITH m AS (
  SELECT doc_id, source,
    CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', 0)) AS BIGINT) AS n_emails,
    CAST(len(regexp_extract_all(text, '\+?[0-9][0-9 ()-]{7,}[0-9]', 0)) AS BIGINT) AS n_phones
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_emails) AS BIGINT) AS n_emails,
       CAST(sum(n_phones) AS BIGINT) AS n_phones,
       CAST(sum(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_redacted
FROM m GROUP BY source ORDER BY source""",

    "q59_split_profile" -> """
WITH b AS (
  SELECT source, text,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bk
  FROM documents
)
SELECT source,
       CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '[^\s]+', 0))) AS BIGINT) AS n_tokens
FROM b GROUP BY 1, 2 ORDER BY source, split""",

    "q60_tfidf_terms" -> """
WITH d AS (
  SELECT doc_id, lang, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, lang, unnest(string_split(norm, ' ')) AS tok FROM d
), tk AS (
  SELECT doc_id, lang, tok FROM t WHERE length(tok) > 0
), n AS (SELECT count(*) AS n_total FROM documents),
stats AS (
  SELECT lang, tok, count(*) AS cnt, count(DISTINCT doc_id) AS df FROM tk GROUP BY 1, 2
), scored AS (
  SELECT lang, tok, cnt, df,
         cnt * ln(CAST(n_total AS DOUBLE) / df) AS score
  FROM stats CROSS JOIN n
), ranked AS (
  SELECT lang, tok, cnt, df, score,
         row_number() OVER (PARTITION BY lang ORDER BY score DESC, tok) AS rk
  FROM scored
)
SELECT lang, CAST(rk AS BIGINT) AS rk, tok, cnt, df,
       round(score, 6) + 0 AS tfidf_mass
FROM ranked WHERE rk <= 10 ORDER BY lang, rk""",

    "q82_unigram_surprisal" -> """
WITH d AS (
  SELECT doc_id, lang, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, lang, unnest(string_split(norm, ' ')) AS tok FROM d
), tk AS (
  SELECT doc_id, lang, tok FROM t WHERE length(tok) > 0
), f AS (
  SELECT lang, tok, count(*) AS cnt FROM tk GROUP BY 1, 2
), g AS (
  SELECT lang, count(*) AS tot FROM tk GROUP BY 1
)
SELECT tk.doc_id, tk.lang, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(-ln(CAST(cnt AS DOUBLE) / tot)), 6) + 0 AS avg_surprisal
FROM tk JOIN f USING (lang, tok) JOIN g USING (lang)
GROUP BY 1, 2 ORDER BY 1""",

    "q83_pack_sequences" -> """
WITH d AS (
  SELECT doc_id, CAST(len(regexp_extract_all(text, '[^\s]+', 0)) AS BIGINT) AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset
  FROM d
)
SELECT doc_id, n_tokens, token_offset,
       token_offset // 512 AS seq_id,
       token_offset % 512 AS pos_in_seq
FROM o ORDER BY doc_id""",

    "q84_packed_spans" -> """
WITH d AS (
  SELECT doc_id, CAST(len(regexp_extract_all(text, '[^\s]+', 0)) AS BIGINT) AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset
  FROM d
), s AS (
  SELECT doc_id, n_tokens, token_offset,
         unnest(generate_series(token_offset // 512,
                                (token_offset + n_tokens - 1) // 512)) AS seq_id
  FROM o WHERE n_tokens > 0
)
SELECT seq_id, doc_id,
       greatest(token_offset, seq_id * 512) - token_offset AS start_tok,
       least(token_offset + n_tokens, (seq_id + 1) * 512)
         - greatest(token_offset, seq_id * 512) AS n_tok
FROM s ORDER BY seq_id, doc_id""",

    "q85_stream_weekly" -> """
SELECT event_type,
       CAST(CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS VARCHAR) AS semana,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY event_type, semana""",

    "q86_quarantine_profile" -> """
SELECT * FROM (VALUES
  ('csv',   CAST(5 AS BIGINT), CAST(2 AS BIGINT)),
  ('jsonl', CAST(4 AS BIGINT), CAST(3 AS BIGINT)),
  ('video', CAST(2 AS BIGINT), CAST(2 AS BIGINT))
) AS t(source, n_clean, n_quarantined) ORDER BY source""",

    // gaps-and-islands replay of the streaming session gate: a new session
    // starts at a gap >= 30 min (Spark merges only OVERLAPPING [t, t+gap)
    // windows); the append-mode emission cut is stated explicitly — the
    // end-of-stream watermark is max(ts) floored to MILLISECONDS (Spark
    // tracks event-time stats in ms) minus the 30-min delay, and a session
    // is emitted iff its window end (last event + gap) has been passed
    "q87_stream_sessions" -> """
WITH x AS (
  -- ONE total order (tus, event_id) for both windows: the lag flags and the
  -- running session counter must bracket tie groups identically
  SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS tus,
         lag(epoch_ns(ts) // 1000)
           OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id) AS prev
  FROM events
), g AS (
  SELECT user_id, value, tus,
         sum(CASE WHEN prev IS NULL OR tus - prev >= 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY tus, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM x
), s AS (
  SELECT user_id, sid,
         min(tus) AS session_start_us, max(tus) AS last_us,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
  FROM g GROUP BY 1, 2
), wm AS (
  SELECT (max(epoch_ns(ts) // 1000000) - 1800000) * 1000 AS w_us FROM events
)
SELECT user_id, session_start_us, n_events, sum_value
FROM s CROSS JOIN wm
WHERE last_us + 1800000000 <= w_us
ORDER BY user_id, session_start_us""",

    // q126: q87's µs gaps-and-islands sessions, but under the TIMER cut —
    // Spark's event-time timers are millisecond-grained and fire only when
    // the watermark STRICTLY passes the timeout (empirically pinned by the
    // boundary spec), so the cut is floor-ms and strict, unlike q87's
    // µs-grained Append-mode finalization
    "q126_stream_session_timeout" -> """
WITH x AS (
  SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS tus,
         lag(epoch_ns(ts) // 1000)
           OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id) AS prev
  FROM events
), g AS (
  SELECT user_id, value, tus,
         sum(CASE WHEN prev IS NULL OR tus - prev >= 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY tus, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM x
), s AS (
  SELECT user_id, sid,
         min(tus) AS session_start_us, max(tus) AS last_us,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
  FROM g GROUP BY 1, 2
), wm AS (
  SELECT max(epoch_ns(ts) // 1000000) - 1800000 AS w_ms FROM events
)
SELECT user_id, session_start_us, n_events, sum_value
FROM s CROSS JOIN wm
WHERE (last_us // 1000) + 1800000 < w_ms
ORDER BY user_id, session_start_us""",

    "q88_surprisal_buckets" -> """
WITH d AS (
  SELECT doc_id, lang, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, lang, unnest(string_split(norm, ' ')) AS tok FROM d
), tk AS (
  SELECT doc_id, lang, tok FROM t WHERE length(tok) > 0
), f AS (
  SELECT lang, tok, count(*) AS cnt FROM tk GROUP BY 1, 2
), g AS (
  SELECT lang, count(*) AS tot FROM tk GROUP BY 1
), sc AS (
  SELECT tk.doc_id, tk.lang, count(*) AS n_tokens,
         round(avg(-ln(CAST(cnt AS DOUBLE) / tot)), 6) + 0 AS avg_surprisal
  FROM tk JOIN f USING (lang, tok) JOIN g USING (lang)
  GROUP BY 1, 2
), n AS (
  SELECT lang, n_tokens, avg_surprisal,
         ntile(3) OVER (PARTITION BY lang ORDER BY avg_surprisal, doc_id) AS t3
  FROM sc
)
SELECT lang,
       CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       round(avg(avg_surprisal), 6) + 0 AS avg_surprisal
FROM n GROUP BY 1, 2 ORDER BY lang, bucket""",

    "q89_mixture_weights" -> """
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(regexp_extract_all(text, '[^\s]+', 0))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot FROM per),
s AS (
  SELECT source, n_docs, n_tokens,
         CAST(n_tokens AS DOUBLE) / tot AS p,
         sqrt(CAST(n_tokens AS DOUBLE) / tot) AS wr
  FROM per CROSS JOIN t
), z AS (SELECT sum(wr) AS z FROM s)
SELECT source, n_docs, n_tokens,
       round(p, 6) + 0 AS p,
       round(wr / z, 6) + 0 AS weight,
       round(wr / z / p, 6) + 0 AS sample_factor
FROM s CROSS JOIN z ORDER BY source""",

    "q91_epoch_shuffle" -> """
WITH d AS (
  SELECT doc_id, CAST(len(regexp_extract_all(text, '[^\s]+', 0)) AS BIGINT) AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset
  FROM d
), sp AS (
  SELECT doc_id, n_tokens, token_offset,
         unnest(generate_series(token_offset // 512,
                                (token_offset + n_tokens - 1) // 512)) AS seq_id
  FROM o WHERE n_tokens > 0
), spans AS (
  SELECT seq_id, doc_id,
         least(token_offset + n_tokens, (seq_id + 1) * 512)
           - greatest(token_offset, seq_id * 512) AS n_tok
  FROM sp
), q AS (
  SELECT seq_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tok
  FROM spans GROUP BY seq_id
), ep AS (SELECT CAST(unnest([1, 2]) AS BIGINT) AS epoch)
SELECT epoch, seq_id, md5(epoch || ':' || seq_id) AS shuffle_key, n_docs, n_tok
FROM q CROSS JOIN ep
ORDER BY epoch, shuffle_key, seq_id""",

    // content-defined chunking: boundary at position i iff the 8-char window
    // hash starts with nibble '0' — same predicate, same [2, len-7] range,
    // same last-chunk arithmetic as the Spark array expressions
    "q92_cdc_chunks" -> """
WITH d AS (
  SELECT source, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), b AS (
  SELECT source, norm,
         list_prepend(1, CASE WHEN length(norm) >= 9
           THEN list_filter(range(2, length(norm) - 6),
                            i -> substr(md5(substr(norm, i, 8)), 1, 1) = '0')
           ELSE [] END) AS bs
  FROM d WHERE length(norm) >= 8
), c AS (
  SELECT source,
         unnest(list_transform(range(1, len(bs) + 1), j ->
           substr(norm, bs[j],
                  CASE WHEN j < len(bs) THEN bs[j + 1] - bs[j]
                       ELSE length(norm) - bs[j] + 1 END))) AS chunk
  FROM b
)
SELECT source, count(*) AS n_chunks,
       CAST(count(DISTINCT md5(chunk)) AS BIGINT) AS n_distinct_chunks,
       round(1.0 - CAST(count(DISTINCT md5(chunk)) AS DOUBLE) / count(*), 6) + 0 AS dup_ratio
FROM c GROUP BY source ORDER BY source""",

    "q93_bpe_pairs" -> """
WITH d AS (
  SELECT lang, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
), p AS (
  SELECT lang,
         unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS pair
  FROM d WHERE len(toks) >= 2
), f AS (
  SELECT lang, pair, count(*) AS cnt FROM p GROUP BY 1, 2
), r AS (
  SELECT lang, pair, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, pair) AS rk
  FROM f
)
SELECT lang, CAST(rk AS BIGINT) AS rk, pair, cnt
FROM r WHERE rk <= 5 ORDER BY lang, rk""",

    "q94_stream_running_stats" -> """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY user_id ORDER BY user_id""",

    // the bloom-free statement of q95: hash-equality through the bloom path
    // is the no-false-negatives proof
    "q95_bloom_prefilter" -> """
WITH c AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE source <> 'src0'
), b AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE source = 'src0'
)
SELECT b.doc_id,
       CASE WHEN c.h IS NOT NULL THEN 'exact_dup' ELSE 'novel' END AS status
FROM b LEFT JOIN c ON b.h = c.h
ORDER BY b.doc_id""",

    "q96_containment_pairs" -> """
WITH d AS (
  SELECT doc_id, lang, source,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, lang, source, string_split(norm, ' ') AS toks FROM d
), sh AS (
  SELECT DISTINCT doc_id, lang, source,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sg
  FROM t
), cnt AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.source = b.source AND a.sg = b.sg AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), c AS (
  SELECT doc_a, doc_b,
         round(CAST(inter AS DOUBLE) / ca.n, 6) + 0 AS cont_a_in_b,
         round(CAST(inter AS DOUBLE) / cb.n, 6) + 0 AS cont_b_in_a,
         round(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter), 6) + 0 AS jaccard
  FROM pairs JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
)
SELECT doc_a, doc_b, cont_a_in_b, cont_b_in_a, jaccard
FROM c
ORDER BY greatest(cont_a_in_b, cont_b_in_a) DESC, doc_a, doc_b LIMIT 20""",

    "q97_dup_passages" -> """
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, string_split(norm, ' ') AS toks FROM d
), n AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t
), sh AS (
  SELECT doc_id, i, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sg
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
        FROM t WHERE len(toks) >= 3)
), dup AS (
  SELECT sg FROM (SELECT sg, count(DISTINCT doc_id) AS df FROM sh GROUP BY sg)
  WHERE df > 1
), cov AS (
  SELECT doc_id, count(DISTINCT cp) AS covered
  FROM (SELECT s.doc_id, unnest(range(s.i, s.i + 3)) AS cp
        FROM sh s JOIN dup USING (sg))
  GROUP BY doc_id
)
SELECT n.doc_id, n.n_tokens,
       CAST(COALESCE(cov.covered, 0) AS BIGINT) AS covered_tokens,
       round(CAST(COALESCE(cov.covered, 0) AS DOUBLE) / n.n_tokens, 6) + 0 AS coverage
FROM n LEFT JOIN cov ON n.doc_id = cov.doc_id
ORDER BY n.doc_id""",

    "q98_copurchase_pagerank" -> pageRankOracle(5),

    "q99_gap_fill" -> """
WITH daily AS (
  SELECT l_suppkey AS suppkey, CAST(l_shipdate AS DATE) AS d, count(*) AS n_items,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS avg_price
  FROM lineitem WHERE year(l_shipdate) = 1998 GROUP BY 1, 2
), spine AS (
  SELECT suppkey,
         CAST(unnest(generate_series(DATE '1998-01-01', DATE '1998-12-31',
                                     INTERVAL 1 DAY)) AS DATE) AS d
  FROM (SELECT DISTINCT suppkey FROM daily)
), j AS (
  SELECT s.suppkey, s.d, daily.n_items, daily.avg_price
  FROM spine s LEFT JOIN daily ON s.suppkey = daily.suppkey AND s.d = daily.d
)
SELECT suppkey, strftime(d, '%Y-%m-%d') AS day,
       CAST(COALESCE(n_items, 0) AS BIGINT) AS n_items,
       round(last_value(avg_price IGNORE NULLS) OVER (
         PARTITION BY suppkey ORDER BY d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) + 0 AS price_filled,
       CAST(CASE WHEN n_items IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_filled
FROM j ORDER BY suppkey, day""",

    // the DIRECT weekly computation over raw quotes, from the SAME decimal
    // sufficient statistics (n, Σv, Σv²) the engine's daily partials carry:
    // decimal sums are exact and associative, so hash-equality through the
    // daily-partials route proves incremental merge ≡ direct with an
    // ORDER-INDEPENDENT contract (raw double avg/stddev accumulation would
    // make the parity depend on summation order — float-lucky)
    "q100_partial_merge" -> """
WITH e AS (
  SELECT event_type AS symbol, CAST(ts AS DATE) AS d, value FROM events
), w AS (
  SELECT symbol, strftime(date_trunc('week', d), '%Y-%m-%d') AS semana,
         count(*) AS n_quotes,
         count(DISTINCT d) AS n_days,
         CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS s,
         CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS q
  FROM e GROUP BY 1, 2
)
SELECT symbol, semana, n_quotes, n_days,
       round(s / n_quotes, 6) + 0 AS mean_value,
       round(CASE WHEN n_quotes > 1 THEN
         sqrt(greatest((q - s * s / n_quotes) / (n_quotes - 1), 0.0))
       END, 6) + 0 AS std_value
FROM w ORDER BY symbol, semana""",

    "q101_bm25" -> """
WITH d AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
), dls AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d
), corpus AS (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dls
), post AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
  WHERE tok IN ('table', 'scan', 'merge', 'hash')
  GROUP BY 1, 2
), dfr AS (
  SELECT tok, count(*) AS df FROM post GROUP BY tok
), contrib AS (
  SELECT p.doc_id, dls.dl,
         ln((c.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
           * (p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * dls.dl / c.avgdl)) AS w
  FROM post p JOIN dfr f USING (tok) JOIN dls USING (doc_id) CROSS JOIN corpus c
), scored AS (
  SELECT doc_id, dl AS n_tokens, count(*) AS n_terms_matched,
         round(sum(w), 6) + 0 AS bm25
  FROM contrib GROUP BY 1, 2
)
SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rk,
       doc_id, n_tokens, n_terms_matched, bm25
FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20""",

    "q102_weighted_sample" -> """
WITH k AS (
  SELECT source, doc_id, n_chars,
         -ln((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   AS DOUBLE) + 1.0)
             / 1152921504606846976.0) / n_chars AS key
  FROM documents WHERE n_chars > 0
), r AS (
  SELECT source, doc_id, n_chars, key,
         row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rk
  FROM k
)
SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, n_chars,
       round(key * 1000.0, 6) + 0 AS key_milli
FROM r WHERE rk <= 5 ORDER BY source, rk""",

    "q103_stream_dedup" -> """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1 ORDER BY 1""",

    "q104_rag_chunks" -> """
WITH d AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
), t AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n, toks FROM d
), g AS (
  SELECT doc_id, n, toks,
         unnest(range(0, CASE WHEN n <= 32 THEN 1 ELSE 1 + (n - 32 + 23) // 24 END)) AS chunk_id
  FROM t
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * 24 AS BIGINT) AS start_tok,
       CAST(least(32, n - chunk_id * 24) AS BIGINT) AS n_tok,
       md5(array_to_string(
         list_slice(toks, chunk_id * 24 + 1,
                    chunk_id * 24 + least(32, n - chunk_id * 24)), ' ')) AS chunk_digest
FROM g ORDER BY doc_id, chunk_id""",

    "q105_quality_calibration" -> (QualityCtes + """, p AS (
  SELECT doc_id, lang, score AS quality_score,
         percent_rank() OVER (PARTITION BY lang ORDER BY score) AS pr
  FROM qscore
)
SELECT doc_id, lang, quality_score, round(pr, 6) + 0 AS pct_rank,
       CAST(least(floor(pr * 10), 9) AS BIGINT) AS decile
FROM p ORDER BY doc_id"""),

    "q106_status_intervals" -> """
WITH c AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
         CASE WHEN lag(o_orderstatus) OVER w IS NULL
                OR lag(o_orderstatus) OVER w <> o_orderstatus THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), i AS (
  SELECT *, sum(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM c
)
SELECT o_custkey AS custkey, CAST(island AS BIGINT) AS seq, o_orderstatus AS status,
       strftime(min(o_orderdate), '%Y-%m-%d') AS valid_from,
       strftime(max(o_orderdate), '%Y-%m-%d') AS valid_to,
       count(*) AS n_orders
FROM i GROUP BY 1, 2, 3 ORDER BY custkey, seq""",

    "q107_attribution" -> """
WITH p AS (
  SELECT user_id, epoch_ns(ts) AS tsn, event_id FROM events
  WHERE event_type = 'purchase'
), t0 AS (
  SELECT user_id, epoch_ns(ts) AS tsn, event_id, event_type FROM events
  WHERE event_type IN ('view', 'click')
), t AS (
  SELECT user_id, tsn AS touch_tsn, max_by(event_type, event_id) AS touch_type
  FROM t0 GROUP BY 1, 2
), j AS (
  SELECT p.user_id, p.tsn, t.touch_tsn, t.touch_type
  FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.tsn >= t.touch_tsn
)
SELECT CASE WHEN touch_tsn IS NULL OR tsn - touch_tsn > 86400000000000 THEN 'none'
            ELSE touch_type END AS attributed,
       count(*) AS n_purchases,
       count(DISTINCT user_id) AS n_users
FROM j GROUP BY 1 ORDER BY 1""",

    "q108_stream_join" -> """
WITH c AS (
  SELECT user_id, epoch_ns(ts) AS tsn, event_id FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_ns(ts) AS tsn, event_id FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, count(*) AS n_pairs, count(DISTINCT c.event_id) AS n_clicks
FROM c JOIN p ON c.user_id = p.user_id
  AND p.tsn >= c.tsn AND p.tsn <= c.tsn + 600000000000
GROUP BY 1 ORDER BY 1""",

    // the emitted set of the left-outer watermarked join, stated in batch:
    // eager inner pairs UNION the unmatched clicks whose match window the
    // end-of-stream watermark W = min(max click ts, max purchase ts) − delay
    // STRICTLY passed (state for a row whose window end equals W is
    // retained). Micro precision matches the event-time columns.
    "q116_stream_left_join" -> """
WITH c AS (
  SELECT user_id, epoch_ns(ts)//1000 AS cus, event_id AS click_id
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_ns(ts)//1000 AS pus, event_id AS p_id
  FROM events WHERE event_type = 'purchase'
), wm AS (
  SELECT least((SELECT max(cus) FROM c), (SELECT max(pus) FROM p))
           - 600000000 AS w
), m AS (
  SELECT c.user_id, c.click_id, c.cus, p.p_id
  FROM c JOIN p ON c.user_id = p.user_id
    AND p.pus >= c.cus AND p.pus <= c.cus + 600000000
)
SELECT user_id, click_id, cus AS click_us, p_id FROM m
UNION ALL
SELECT c.user_id, c.click_id, c.cus AS click_us, CAST(NULL AS BIGINT) AS p_id
FROM c CROSS JOIN wm
WHERE c.cus + 600000000 < wm.w
  AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
ORDER BY click_id, p_id""",

    // replays the same degree orientation: each triangle closes at its
    // (deg, id)-minimum apex's out-wedge, against the canonical src<dst edge
    "q120_copurchase_triangles" -> """
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), e AS (
  SELECT a.pk AS src, b.pk AS dst
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
), un AS (
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e
), deg AS (
  SELECT node, count(*) AS deg FROM un GROUP BY 1
), o AS (
  SELECT CASE WHEN ds.deg < dd.deg OR (ds.deg = dd.deg AND e.src < e.dst)
              THEN e.src ELSE e.dst END AS u,
         CASE WHEN ds.deg < dd.deg OR (ds.deg = dd.deg AND e.src < e.dst)
              THEN e.dst ELSE e.src END AS v
  FROM e JOIN deg ds ON e.src = ds.node JOIN deg dd ON e.dst = dd.node
), w AS (
  SELECT o1.u, o1.v AS a, o2.v AS b
  FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v
), t AS (
  SELECT w.u, w.a, w.b FROM w JOIN e ON e.src = w.a AND e.dst = w.b
), tn AS (
  SELECT node, count(*) AS n_tri FROM (
    SELECT u AS node FROM t
    UNION ALL SELECT a FROM t
    UNION ALL SELECT b FROM t
  ) GROUP BY 1
)
SELECT d.node AS partkey, CAST(d.deg AS BIGINT) AS degree,
       CAST(COALESCE(tn.n_tri, 0) AS BIGINT) AS n_triangles,
       round(CASE WHEN d.deg >= 2
             THEN 2.0 * COALESCE(tn.n_tri, 0) / (d.deg * (d.deg - 1)) END, 6) + 0
         AS clustering
FROM deg d LEFT JOIN tn ON d.node = tn.node
ORDER BY partkey""",

    // q127's oracle is the FULL REBUILD — hash equality against the
    // engine's base ⊎ delta merge is the incremental-refresh proof
    "q127_edge_incremental" -> """
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), e AS (
  SELECT a.pk AS src, b.pk AS dst, count(*) AS w
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
)
SELECT src, dst, CAST(w AS BIGINT) AS w FROM e ORDER BY src, dst""",

    // q128: q27's shingle relation (unblocked — the tiny query batch IS the
    // block) and q34's cosine, each row_number-ranked to depth 50 with ties
    // on id (the TopKByScore contract), full-outer fused by 1/(60+rank)
    "q128_hybrid_rrf" -> """
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
FROM r WHERE rk <= 3 ORDER BY q_id, rk""",

    // KMV replayed exactly: distinct portable 60-bit hashes per group, k
    // smallest by window rank, (k-1)/R_k on the exact BIGINT kth hash
    "q129_kmv_distinct" -> """
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events
), r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
         count(*) OVER (PARTITION BY event_type) AS nd
  FROM h
)
SELECT event_type,
       CAST(max(nd) AS BIGINT) AS n_distinct,
       round(CASE WHEN max(nd) <= 32 THEN CAST(max(nd) AS DOUBLE)
                  ELSE CAST(31 AS DOUBLE)
                       / (max(CASE WHEN rk = 32 THEN h END)
                          / CAST(1152921504606846976 AS DOUBLE))
             END, 6) + 0 AS kmv_est
FROM r GROUP BY event_type ORDER BY event_type""",

    // count-min replayed exactly: j-salted portable hashes mod width build
    // the integer cell relation; estimate = min cell over the 4 depth rows
    "q130_cms_heavy_hitters" -> """
WITH js AS (SELECT unnest(range(4)) AS depth),
cells AS (
  SELECT depth,
         CAST(('0x' || substr(md5(CAST(depth AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS bucket,
         count(*) AS cnt
  FROM events CROSS JOIN js
  GROUP BY 1, 2
), ex AS (
  SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1
), top AS (
  SELECT user_id, n_exact FROM ex ORDER BY n_exact DESC, user_id LIMIT 10
), pr AS (
  SELECT t.user_id, t.n_exact, j.depth,
         CAST(('0x' || substr(md5(CAST(j.depth AS VARCHAR) || '|' || CAST(t.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 64 AS bucket
  FROM top t CROSS JOIN js j
)
SELECT p.user_id, p.n_exact, CAST(min(c.cnt) AS BIGINT) AS cms_est
FROM pr p JOIN cells c USING (depth, bucket)
GROUP BY p.user_id, p.n_exact
ORDER BY n_exact DESC, user_id""",

    // DSIR replayed: hashed-unigram bucket histograms for raw vs target,
    // Laplace-smoothed log-ratios rounded at 6 BEFORE the per-doc sum
    // (the determinism contract), rank by (rounded logw DESC, doc_id)
    "q131_dsir_resample" -> """
WITH d AS (
  SELECT doc_id, lang, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, lang, unnest(string_split(norm, ' ')) AS tok FROM d
), tk AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 256 AS bk
  FROM t WHERE length(tok) > 0
), raw AS (
  SELECT bk, count(*) AS cr FROM tk GROUP BY 1
), tgt AS (
  SELECT bk, count(*) AS ct FROM tk WHERE lang = 'en' GROUP BY 1
), tot AS (
  SELECT count(*) AS tr, count(CASE WHEN lang = 'en' THEN 1 END) AS tt FROM tk
), lr AS (
  SELECT raw.bk,
         round(ln(((COALESCE(ct, 0) + 1) / CAST(tt + 256 AS DOUBLE))
                  / ((cr + 1) / CAST(tr + 256 AS DOUBLE))), 6) + 0 AS lr
  FROM raw LEFT JOIN tgt USING (bk) CROSS JOIN tot
), dw AS (
  SELECT doc_id, round(sum(lr), 6) + 0 AS logw
  FROM tk JOIN lr USING (bk) GROUP BY 1
), r AS (
  SELECT doc_id, logw,
         row_number() OVER (ORDER BY logw DESC, doc_id) AS rk
  FROM dw
)
SELECT CAST(r.rk AS BIGINT) AS rk, r.doc_id, dd.lang, dd.source, r.logw
FROM r JOIN documents dd USING (doc_id)
WHERE r.rk <= 50 ORDER BY r.rk""",

    // Morton interleave replayed as plain integer arithmetic: the unrolled
    // shift/mask terms occupy disjoint bits, so + ≡ bitwise OR
    "q132_zorder_profile" -> s"""
WITH e AS (
  SELECT user_id AS x, CAST(hour(ts) * 60 + minute(ts) AS BIGINT) AS y FROM events
), z AS (
  SELECT x, y, ${zInterleaveSql("x", "y", 11)} AS z FROM e
)
SELECT z >> 14 AS cell, count(*) AS n,
       min(x) AS min_x, max(x) AS max_x,
       min(y) AS min_y, max(y) AS max_y
FROM z GROUP BY 1 ORDER BY 1""",

    // DuckDB's utf8proc nfc_normalize over the same deterministic
    // decomposed-suffix construction (chr() codepoints = the Spark \u
    // escapes); both sides implement UAX #15, hash equality is the proof
    "q133_unicode_nfc" -> """
WITH d AS (
  SELECT lang,
         text || CASE CAST(doc_id % 5 AS INTEGER)
           WHEN 0 THEN 'e' || chr(769)
           WHEN 1 THEN 'A' || chr(778)
           WHEN 2 THEN 'o' || chr(770) || 'n' || chr(771)
           WHEN 3 THEN 'A' || chr(807) || chr(778)
           ELSE chr(233) END AS dirty
  FROM documents
), n AS (
  SELECT lang, dirty, nfc_normalize(dirty) AS clean FROM d
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(dirty)) AS BIGINT) AS len_raw,
       CAST(sum(length(clean)) AS BIGINT) AS len_nfc,
       CAST(sum(CASE WHEN dirty <> clean THEN 1 ELSE 0 END) AS BIGINT) AS n_changed
FROM n GROUP BY lang ORDER BY lang""",

    // GD training loop unrolled: iteration i = (gradient-sum CTE g_i,
    // weight-update CTE w_i); see glmOracleSql for the determinism contract
    "q134_glm_quality" -> glmOracleSql(3, "2.0"),

    // the oracle never sees ORC/JSONL — it reads the source parquet; the
    // engine side aggregates the far end of the two-hop format chain
    "q135_format_roundtrip" -> """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 4) + 0 AS total_price,
       min(strftime(o_orderdate, '%Y-%m-%d')) AS first_date,
       max(strftime(o_orderdate, '%Y-%m-%d')) AS last_date,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders GROUP BY 1 ORDER BY 1""",

    // the oracle reads the pristine events relation; the engine reads its
    // fragmented-then-compacted copy
    "q136_compaction" -> """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE), 4) + 0 AS sum_value
FROM events GROUP BY 1 ORDER BY 1""",

    // closed-form Goertzel amplitudes of the bin-aligned pure-tone
    // fixtures (int16 quantization error ≤3e-5 vanishes at 4 decimals)
    "q137_spectral" -> """
SELECT item, CAST(freq_hz AS BIGINT) AS freq_hz, CAST(amp AS DOUBLE) AS amp,
       CAST(is_dominant AS BIGINT) AS is_dominant
FROM (VALUES
  ('sin_a.wav',  440, 0.5,  1), ('sin_a.wav', 1000, 0.0,  0), ('sin_a.wav', 2000, 0.0, 0),
  ('sin_b.wav',  440, 0.5,  1), ('sin_b.wav', 1000, 0.25, 0), ('sin_b.wav', 2000, 0.0, 0),
  ('sin_c.wav',  440, 0.0,  0), ('sin_c.wav', 1000, 0.0,  0), ('sin_c.wav', 2000, 0.8, 1)
) AS t(item, freq_hz, amp, is_dominant)
ORDER BY item, freq_hz""",

    // the two snapshot constructions restated over the source relation
    "q138_versioned_table" -> """
SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 4) + 0 AS total_price
FROM orders WHERE o_orderkey % 3 <> 0
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 4) + 0
FROM orders
ORDER BY version""",

    // v1 -> v2 adds back exactly the o_orderkey % 3 = 0 rows; no deletes
    "q139_version_changes" -> """
SELECT 'insert' AS _change, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
FROM orders WHERE o_orderkey % 3 = 0
GROUP BY o_orderstatus
ORDER BY _change, o_orderstatus""",

    // the MERGE batch replayed set-algebraically over the source
    "q147_versioned_merge" -> """
WITH kept AS (
  SELECT * FROM orders WHERE o_orderkey % 11 <> 0 AND o_orderkey % 7 <> 0
), up AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0
), ins AS (
  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
         'X' AS o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 13 = 0
), final AS (
  SELECT * FROM kept UNION ALL SELECT * FROM up UNION ALL SELECT * FROM ins
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 4) + 0 AS total_price,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM final GROUP BY 1 ORDER BY 1""",

    // same ratio relation; ln rounded at 6 at the bounded-distinct level
    // BEFORE any sum (the q82 libm contract), decimal-carried across rows
    "q146_lang_divergence" -> """
WITH b AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
st AS (SELECT source, sum(n) AS ns FROM b GROUP BY 1),
c AS (SELECT lang, sum(n) AS nl FROM b GROUP BY 1),
t AS (SELECT count(*) AS nt FROM documents),
j AS (
  SELECT b.source, st.ns,
         CAST(b.n AS DOUBLE) / st.ns AS p,
         CAST(c.nl AS DOUBLE) / t.nt AS q
  FROM b JOIN st USING (source) JOIN c USING (lang) CROSS JOIN t
)
SELECT source, CAST(max(ns) AS BIGINT) AS n_docs,
  round(-CAST(sum(CAST(round(p * round(ln(p), 6), 9) AS DECIMAL(30,12))) AS DOUBLE), 6) + 0
    AS entropy,
  round(CAST(sum(CAST(round(p * round(ln(p / q), 6), 9) AS DECIMAL(30,12))) AS DOUBLE), 6) + 0
    AS kl_vs_corpus
FROM j GROUP BY source ORDER BY source""",

    // stream-static enrichment replayed as a plain batch left join
    "q145_stream_enrich" -> """
SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment, e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2 ORDER BY segment, event_type""",

    // unnest + generate_subscripts expand in lockstep, replaying the
    // posexplode for ANY per-row width (no fixed-64 assumption — a ragged
    // array would previously have produced NULL out-of-range index rows);
    // identical decimal/rounding arithmetic for mean and var
    "q143_dim_stats" -> """
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
FROM a ORDER BY pos""",

    "q144_bfs_rings" -> bfsOracleSql(4),

    // DuckDB's native ASOF JOIN with the inequality flipped forward
    "q141_asof_next_purchase" -> """
WITH c AS (
  SELECT event_id, user_id, epoch_ns(ts) AS ts_ns
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns,
         max(event_id) AS p_id, arg_max(value, event_id) AS p_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id, c.ts_ns,
       p.p_id AS next_p_id, p.p_value AS next_p_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_ns <= p.ts_ns
ORDER BY c.event_id""",

    // both ASOF directions, then the closer match within tolerance, ties
    // to the past — the same pick logic the engine states
    "q142_asof_nearest" -> """
WITH c AS (
  SELECT event_id, user_id, epoch_ns(ts) AS ts_ns
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns, max(event_id) AS p_id
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), b AS (
  SELECT c.event_id, c.user_id, c.ts_ns, p.p_id AS b_id, p.ts_ns AS b_ts
  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_ns >= p.ts_ns
), f AS (
  SELECT c.event_id, p.p_id AS f_id, p.ts_ns AS f_ts
  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_ns <= p.ts_ns
), j AS (
  SELECT b.event_id, b.user_id, b.ts_ns, b.b_id, b.b_ts, f.f_id, f.f_ts,
         (b.b_ts IS NOT NULL AND b.ts_ns - b.b_ts <= 600000000000) AS ok_b,
         (f.f_ts IS NOT NULL AND f.f_ts - b.ts_ns <= 600000000000) AS ok_f
  FROM b JOIN f USING (event_id)
)
SELECT event_id, user_id, ts_ns,
       CASE WHEN ok_b AND (NOT ok_f OR ts_ns - b_ts <= f_ts - ts_ns) THEN b_id
            WHEN ok_f THEN f_id END AS nearest_p_id,
       CASE WHEN ok_b AND (NOT ok_f OR ts_ns - b_ts <= f_ts - ts_ns) THEN b_ts - ts_ns
            WHEN ok_f THEN f_ts - ts_ns END AS delta_ns
FROM j ORDER BY event_id""",

    // list_* lambdas mirror the Spark HOFs; the two per-row folds ride the
    // vec_dot ≡ list_dot_product ascending-left-fold parity (ones-vector
    // dot = ordered sum); cross-row means use the round-9/decimal contract
    "q140_array_hof" -> """
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
FROM embeddings GROUP BY label ORDER BY label""",

    // q116's completion in batch: inner pairs UNION dangling clicks beyond
    // click_ts + w UNION dangling purchases beyond their OWN ts (a purchase
    // matches only clicks at or before itself, so its window's upper bound
    // is p_ts — it is unmatchable as soon as W strictly passes p_ts)
    "q119_stream_full_join" -> """
WITH c AS (
  SELECT user_id, epoch_ns(ts)//1000 AS cus, event_id AS click_id
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, epoch_ns(ts)//1000 AS pus, event_id AS p_id
  FROM events WHERE event_type = 'purchase'
), wm AS (
  SELECT least((SELECT max(cus) FROM c), (SELECT max(pus) FROM p))
           - 600000000 AS w
), m AS (
  SELECT c.user_id, c.click_id, c.cus, p.p_id, p.pus
  FROM c JOIN p ON c.user_id = p.user_id
    AND p.pus >= c.cus AND p.pus <= c.cus + 600000000
)
SELECT user_id, click_id, cus AS click_us, p_id, pus AS p_us FROM m
UNION ALL
SELECT c.user_id, c.click_id, c.cus AS click_us,
       CAST(NULL AS BIGINT) AS p_id, CAST(NULL AS BIGINT) AS p_us
FROM c CROSS JOIN wm
WHERE c.cus + 600000000 < wm.w
  AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
UNION ALL
SELECT p.user_id, CAST(NULL AS BIGINT) AS click_id, CAST(NULL AS BIGINT) AS click_us,
       p.p_id, p.pus AS p_us
FROM p CROSS JOIN wm
WHERE p.pus < wm.w
  AND NOT EXISTS (SELECT 1 FROM m WHERE m.p_id = p.p_id)
ORDER BY click_id, p_id""",

    "q109_rolling_corr" -> (FACT + """, r AS (
  SELECT symbol, date, variacao_diaria AS r FROM fact WHERE variacao_diaria IS NOT NULL
), p AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.date, a.r AS ra, b.r AS rb
  FROM r a JOIN r b ON a.date = b.date AND a.symbol < b.symbol
)
SELECT sym_a, sym_b, strftime(date, '%Y-%m-%d') AS date,
       round(corr(ra, rb) OVER (PARTITION BY sym_a, sym_b ORDER BY date
         ROWS BETWEEN 29 PRECEDING AND CURRENT ROW), 6) + 0 AS corr30
FROM p ORDER BY sym_a, sym_b, date"""),

    // the UNSALTED statement of q110: hash-equality through the salted
    // two-phase plan is the proof salting changes nothing
    "q110_salted_distinct" -> """
SELECT l_suppkey, count(DISTINCT l_partkey) AS n_distinct
FROM lineitem GROUP BY 1 ORDER BY 1""",

    "q111_window_suite" -> (BARS + """
SELECT symbol, CAST(date AS VARCHAR) AS date, close,
       lead(close, 1) OVER w AS next_close,
       lag(close, 2) OVER w AS prev2_close,
       nth_value(close, 2) OVER (PARTITION BY symbol ORDER BY date
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_close,
       round(cume_dist() OVER (PARTITION BY symbol ORDER BY close), 6) + 0 AS close_cume_dist
FROM bars
WINDOW w AS (PARTITION BY symbol ORDER BY date)
ORDER BY symbol, date"""),

    // the rank-window statement of q113: hash-equality through the k-heap
    // aggregate proves the bounded-shuffle plan computes the same relation
    "q113_topk_aggregate" -> (QualityCtes + """, w AS (
  SELECT lang, doc_id, score,
         row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rk
  FROM qscore
)
SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, score
FROM w WHERE rk <= 3 ORDER BY lang, rk"""),

    "q114_bigram_surprisal" -> """
WITH d AS (
  SELECT doc_id, lang,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS toks
  FROM documents
), b AS (
  SELECT doc_id, lang, s['prev'] AS prev, s['tok'] AS tok
  FROM (SELECT doc_id, lang,
               unnest(list_transform(range(1, len(toks)),
                 i -> struct_pack(prev := toks[i], tok := toks[i+1]))) AS s
        FROM d WHERE len(toks) >= 2)
), cb AS (
  SELECT lang, prev, tok, count(*) AS cb FROM b GROUP BY 1, 2, 3
), cp AS (
  SELECT lang, prev, sum(cb) AS cp FROM cb GROUP BY 1, 2
), cu AS (
  SELECT lang, tok, count(*) AS cu
  FROM (SELECT lang, unnest(toks) AS tok FROM d)
  WHERE length(tok) > 0 GROUP BY 1, 2
), t AS (
  SELECT lang, sum(cu) AS t FROM cu GROUP BY 1
)
SELECT b.doc_id, b.lang, count(*) AS n_bigrams,
       round(avg(-ln((CAST(cb.cb AS DOUBLE) / cp.cp) * 0.5
                     + (CAST(cu.cu AS DOUBLE) / t.t) * 0.5)), 6) + 0 AS avg_surprisal
FROM b
JOIN cb USING (lang, prev, tok)
JOIN cp USING (lang, prev)
JOIN cu USING (lang, tok)
JOIN t USING (lang)
GROUP BY 1, 2 ORDER BY doc_id""",

    // the rank-window statement of q115: the keep-best struct-max aggregate
    // must select exactly the survivor the window picks
    "q115_dedup_keepbest" -> (QualityCtes + """, r AS (
  SELECT doc_id, lang, source, score,
         row_number() OVER (PARTITION BY md5(text) ORDER BY score DESC, doc_id) AS rk
  FROM qscore
)
SELECT doc_id, lang, source, score FROM r WHERE rk = 1 ORDER BY doc_id"""),

    "q112_unpivot_weekly" -> """
WITH wk AS (
  SELECT DISTINCT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk FROM events
), ty AS (
  SELECT unnest(['click', 'error', 'purchase', 'signup', 'view']) AS event_type
), cnt AS (
  SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT CAST(w.wk AS VARCHAR) AS semana, t.event_type,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n
FROM wk w CROSS JOIN ty t
LEFT JOIN cnt c ON w.wk = c.wk AND t.event_type = c.event_type
ORDER BY semana, t.event_type""",

    "q71_stratified_sample" -> """
WITH h AS (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents
), r AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rk
  FROM h
)
SELECT source, CAST(rk AS BIGINT) AS rk, doc_id
FROM r WHERE rk <= 3 ORDER BY source, rk""",

    "q72_winsorized_returns" -> (FACT + """, r AS (
  SELECT symbol, variacao_diaria FROM fact WHERE variacao_diaria IS NOT NULL
), b AS (
  SELECT symbol,
         quantile_cont(variacao_diaria, 0.05) AS lo,
         quantile_cont(variacao_diaria, 0.95) AS hi
  FROM r GROUP BY symbol
)
SELECT r.symbol,
       round(avg(variacao_diaria), 6) + 0 AS mean_raw,
       round(avg(greatest(lo, least(hi, variacao_diaria))), 6) + 0 AS mean_winsorized,
       CAST(sum(CASE WHEN variacao_diaria < lo OR variacao_diaria > hi
                THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
FROM r JOIN b ON r.symbol = b.symbol
GROUP BY r.symbol ORDER BY r.symbol"""),

    "q70_fuzzy_match" -> """
WITH d AS (
  SELECT doc_id, lang, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), b AS (
  SELECT doc_id, lang, norm, substr(norm, 1, 12) AS blk FROM d WHERE length(norm) >= 12
)
SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.lang,
       CAST(levenshtein(x.norm, y.norm) AS BIGINT) AS edit_distance
FROM b x JOIN b y ON x.lang = y.lang AND x.blk = y.blk AND x.doc_id < y.doc_id
WHERE levenshtein(x.norm, y.norm) <= 20
ORDER BY edit_distance, doc_a, doc_b""",

    "q64_repetition" -> """
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, string_split(norm, ' ') AS toks FROM d
), tri AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sg
  FROM t
), pg AS (
  SELECT doc_id, sg, count(*) AS c FROM tri GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_trigrams,
       count(*) AS n_distinct,
       round(1.0 - CAST(count(*) AS DOUBLE) / sum(c), 6) + 0 AS dup_trigram_frac,
       round(CAST(max(c) AS DOUBLE) / sum(c), 6) + 0 AS top_gram_share
FROM pg GROUP BY doc_id ORDER BY doc_id""",

    "q65_contamination" -> """
WITH d AS (
  SELECT doc_id, lang, source,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents WHERE source IN ('src0', 'src1')
), t AS (
  SELECT doc_id, lang, source, string_split(norm, ' ') AS toks FROM d
), sh AS (
  SELECT DISTINCT doc_id, lang, source,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sg
  FROM t
), hits AS (
  SELECT a.lang, a.doc_id AS doc_a,
         count(DISTINCT b.doc_id) AS n_docs_hit,
         count(DISTINCT a.sg) AS n_shared_shingles
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.sg = b.sg
  WHERE a.source = 'src0' AND b.source = 'src1'
  GROUP BY 1, 2
)
SELECT lang, count(*) AS n_contaminated_docs,
       CAST(sum(n_shared_shingles) AS BIGINT) AS total_shared_shingles,
       max(n_docs_hit) AS max_docs_hit
FROM hits GROUP BY lang ORDER BY lang""",

    "q51_token_histogram" -> """
WITH x AS (
  SELECT CAST(len(regexp_extract_all(text, '[^\s]+', 0)) AS DOUBLE) AS n FROM documents
)
SELECT CAST(CASE WHEN n < 0.0 THEN 0
            WHEN n >= 200.0 THEN 11
            ELSE floor(n / 20.0) + 1 END AS BIGINT) AS bucket,
       count(*) AS n_docs
FROM x GROUP BY bucket ORDER BY bucket""",

    "q52_rollup_calendar" -> (BARS + """
SELECT CAST(date_part('year', date) AS BIGINT) AS ano,
       CAST(date_part('month', date) AS BIGINT) AS mes,
       count(*) AS n_bars,
       CAST(sum(volume) AS BIGINT) AS volume_total,
       CAST(grouping(date_part('year', date)) * 2 + grouping(date_part('month', date)) AS BIGINT) AS gid
FROM bars
GROUP BY ROLLUP (date_part('year', date), date_part('month', date))
ORDER BY gid, ano, mes"""),

    "q54_range_join_band" -> (BARS + """
SELECT e.event_id,
       round(avg(b.close), 6) + 0 AS band_avg_close,
       count(*) AS n_bars
FROM (SELECT event_id, event_type AS symbol, CAST(ts AS DATE) AS date FROM events) e
JOIN bars b
  ON e.symbol = b.symbol AND abs(date_diff('day', b.date, e.date)) <= 3
GROUP BY e.event_id ORDER BY e.event_id"""),

    "q58_partition_pruned_week" -> (BARS + """
SELECT symbol, count(*) AS n_days,
       round(avg(close), 6) + 0 AS avg_close,
       CAST(sum(volume) AS BIGINT) AS volume_total
FROM bars
WHERE date BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
GROUP BY symbol ORDER BY symbol"""),

    "q68_return_correlation" -> (FACT + """
SELECT a.symbol AS sym_a, b.symbol AS sym_b,
       round(corr(a.variacao_diaria, b.variacao_diaria), 6) + 0 AS corr_returns,
       round(covar_samp(a.variacao_diaria, b.variacao_diaria), 6) + 0 AS covar_returns,
       count(*) AS n_days
FROM fact a JOIN fact b ON a.date = b.date AND a.symbol < b.symbol
WHERE a.variacao_diaria IS NOT NULL AND b.variacao_diaria IS NOT NULL
GROUP BY 1, 2 ORDER BY sym_a, sym_b"""),

    "q69_grouping_sets" -> (BARS + """
SELECT symbol, CAST(date_part('month', date) AS BIGINT) AS mes,
       count(*) AS n_bars,
       CAST(sum(volume) AS BIGINT) AS volume_total,
       CAST(grouping(symbol) * 2 + grouping(date_part('month', date)) AS BIGINT) AS gid
FROM bars
GROUP BY GROUPING SETS ((symbol), (date_part('month', date)), ())
ORDER BY gid, symbol, mes"""),

    "q66_pivot_weekly_events" -> """
SELECT CAST(CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS VARCHAR) AS semana,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events GROUP BY 1 ORDER BY semana""",

    "q67_daily_rank" -> (FACT + """
SELECT CAST(date AS VARCHAR) AS date, symbol,
       round(variacao_diaria, 6) + 0 AS variacao_diaria,
       CAST(rank() OVER (PARTITION BY date
                         ORDER BY variacao_diaria DESC, symbol) AS BIGINT) AS rk
FROM fact WHERE variacao_diaria IS NOT NULL
ORDER BY date, rk, symbol"""),

    "q55_cube_symbol_year" -> (BARS + """
SELECT symbol,
       CAST(date_part('year', date) AS BIGINT) AS ano,
       count(*) AS n_bars,
       CAST(sum(volume) AS BIGINT) AS volume_total,
       CAST(grouping(symbol) * 2 + grouping(date_part('year', date)) AS BIGINT) AS gid
FROM bars
GROUP BY CUBE (symbol, date_part('year', date))
ORDER BY gid, symbol, ano"""),

    // after the DISTINCT, one row per (user, week) — count(*) = users
    "q148_retention_cohorts" -> """
WITH a AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk
  FROM events
), f AS (
  SELECT user_id, min(wk) AS cohort FROM a GROUP BY 1
)
SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_week,
       CAST((a.wk - f.cohort) // 7 AS BIGINT) AS weeks_since,
       CAST(count(*) AS BIGINT) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2""",

    "q149_markov_transitions" -> """
WITH s AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
), t AS (
  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, event_type, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6) + 0 AS p
FROM t ORDER BY prev_type, event_type""",

    // DuckDB min_by/max_by are the same ordered aggregates; daily dates are
    // unique within (symbol, week), so the pick is deterministic
    "q151_weekly_ohlc" -> (BARS + """
SELECT symbol, strftime(CAST(date_trunc('week', date) AS DATE), '%Y-%m-%d') AS semana,
       min_by(open, date) AS open, max(high) AS high, min(low) AS low,
       max_by(close, date) AS close, CAST(sum(volume) AS BIGINT) AS volume,
       CAST(count(*) AS BIGINT) AS n_days
FROM bars GROUP BY 1, 2 ORDER BY symbol, semana"""),

    // identical decimal sufficient statistics, identical rounded mu/sd, so
    // z and the |z| > 2 cut compare bit-identical doubles on both engines
    "q153_seasonal_anomaly" -> (FACT + """
, f AS (
  SELECT symbol, date, dayofweek(date) AS dow, variacao_diaria AS ret
  FROM fact WHERE variacao_diaria IS NOT NULL
), st AS (
  SELECT symbol, dow, count(*) AS n,
         sum(CAST(round(ret, 9) AS DECIMAL(30,12))) AS sm,
         sum(CAST(round(ret * ret, 9) AS DECIMAL(30,12))) AS ss
  FROM f GROUP BY 1, 2
), ms AS (
  SELECT symbol, dow,
         round(CAST(sm AS DOUBLE) / n, 6) + 0 AS mu,
         round(sqrt(greatest(0, CAST(ss AS DOUBLE) / n
           - (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n))), 6) + 0 AS sd
  FROM st
)
SELECT f.symbol, CAST(f.date AS VARCHAR) AS date, CAST(f.dow AS BIGINT) AS dow,
       round(f.ret, 6) + 0 AS ret,
       round((f.ret - mu) / nullif(sd, 0), 4) + 0 AS z
FROM f JOIN ms ON f.symbol = ms.symbol AND f.dow = ms.dow
WHERE abs(round((f.ret - mu) / nullif(sd, 0), 4) + 0) > 2
ORDER BY f.symbol, f.date"""),

    "q150_ema_macd" -> Indicators.emaMacdOracleSql(BARS),

    // the quadratic NOT EXISTS dominance definition — the engine's
    // distributive sweep must reproduce it exactly
    "q152_skyline_parts" -> """
SELECT p.p_partkey, CAST(p.p_retailprice AS DOUBLE) AS p_retailprice,
       CAST(p.p_size AS BIGINT) AS p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
ORDER BY p_retailprice, p_size, p.p_partkey""",

    "q160_throttle_audit" -> """
WITH g AS (
  SELECT event_type,
         epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id, event_type
                                                ORDER BY ts, event_id) AS gap
  FROM events
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN gap IS NULL OR gap > 86400000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN gap IS NOT NULL AND gap <= 86400000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_throttled
FROM g GROUP BY 1 ORDER BY event_type""",

    // segment BEFORE the purchase filter (the signup rows define segments
    // but never contribute spend), in-segment running decimal sum after
    "q161_spend_since_signup" -> """
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type, value
  FROM events WHERE event_type IN ('signup', 'purchase')
), s AS (
  SELECT *, sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
    OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
          ROWS UNBOUNDED PRECEDING) AS seg
  FROM e
), p AS (
  SELECT * FROM s WHERE event_type = 'purchase'
)
SELECT user_id, ts_ns, CAST(seg AS BIGINT) AS seg,
       round(CAST(sum(CAST(round(value, 9) AS DECIMAL(30,12)))
         OVER (PARTITION BY user_id, seg ORDER BY ts_ns, event_id
               ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) + 0 AS spend
FROM p ORDER BY user_id, ts_ns""",

    // identical sufficient statistics, identical IEEE combination order
    "q162_symbol_trend" -> (BARS + """, a AS (
  SELECT symbol, CAST(count(*) AS DOUBLE) AS n,
         sum(CAST((date - DATE '1970-01-01') AS DECIMAL(30,12))) AS st,
         sum(CAST(round(close, 9) AS DECIMAL(30,12))) AS sx,
         sum(CAST(round((date - DATE '1970-01-01') * close, 9) AS DECIMAL(30,12))) AS stx,
         sum(CAST((date - DATE '1970-01-01') * (date - DATE '1970-01-01') AS DECIMAL(30,12))) AS stt
  FROM bars GROUP BY symbol
)
SELECT symbol, CAST(n AS BIGINT) AS n_days,
       round((n * CAST(stx AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
           / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)), 6) + 0 AS slope,
       round((CAST(sx AS DOUBLE)
           - (round((n * CAST(stx AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sx AS DOUBLE))
           / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)), 6) + 0)
           * CAST(st AS DOUBLE)) / n, 6) + 0 AS intercept
FROM a ORDER BY symbol"""),

    "q163_return_histogram" -> (FACT + """
SELECT symbol,
       CAST(least(greatest(floor(variacao_diaria / 2.0), -5.0), 5.0) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n
FROM fact WHERE variacao_diaria IS NOT NULL
GROUP BY 1, 2 ORDER BY symbol, bin"""),

    // gaps in exact integer microseconds: the median interpolates to at
    // worst a .5 (exact in double); the mean is a decimal sum
    "q164_interarrival" -> """
WITH g AS (
  SELECT event_type,
         (epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id, event_type
                                                 ORDER BY ts, event_id)) // 1000 AS gap_us
  FROM events
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
       round(CAST(sum(CAST(gap_us AS DECIMAL(30,12))) AS DOUBLE)
             / count(*) / 1000000.0, 6) + 0 AS mean_gap_s,
       round(quantile_cont(gap_us, 0.5) / 1000000.0, 6) + 0 AS median_gap_s
FROM g WHERE gap_us IS NOT NULL
GROUP BY 1 ORDER BY event_type""",

    // every event assigned to BOTH of its sliding-window starts
    "q169_stream_sliding" -> """
WITH e AS (
  SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk, event_type, value
  FROM events
), w AS (
  SELECT wk AS ws, event_type, value FROM e
  UNION ALL
  SELECT wk - 7, event_type, value FROM e
)
SELECT event_type, strftime(ws, '%Y-%m-%d') AS win_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE), 4) + 0 AS sum_value
FROM w GROUP BY 1, 2 ORDER BY event_type, win_start""",

    "q170_return_deciles" -> (FACT + """
, d AS (
  SELECT symbol, variacao_diaria,
         ntile(10) OVER (PARTITION BY symbol
                         ORDER BY variacao_diaria, date) AS decile
  FROM fact WHERE variacao_diaria IS NOT NULL
)
SELECT symbol, CAST(decile AS BIGINT) AS decile, CAST(count(*) AS BIGINT) AS n,
       round(min(variacao_diaria), 6) + 0 AS lo,
       round(max(variacao_diaria), 6) + 0 AS hi
FROM d GROUP BY 1, 2 ORDER BY symbol, decile"""),

    // only the AUDITED, published batch: baseline repriced on %3 keys
    "q171_wap" -> """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(CASE WHEN o_orderkey % 3 = 0
                                THEN o_totalprice + 10.0
                                ELSE o_totalprice END AS DECIMAL(30,6))) AS DOUBLE), 4) + 0 AS total_price,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys
FROM orders GROUP BY 1 ORDER BY o_orderstatus""",

    // identical literals, identical window decimal sums
    "q167_benford" -> (BARS + s""", o AS (
  SELECT symbol, CAST(substr(CAST(volume AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         count(*) AS n_obs
  FROM bars WHERE volume > 0 GROUP BY 1, 2
), p AS (SELECT * FROM (VALUES ${benfordShares.zipWithIndex
        .map { case (v, i) => s"(${i + 1}, CAST($v AS DOUBLE))" }.mkString(", ")}) t(digit, share)),
e2 AS (
  SELECT o.symbol, o.digit, o.n_obs,
         sum(o.n_obs) OVER (PARTITION BY o.symbol) AS n, p.share
  FROM o JOIN p ON p.digit = o.digit
)
SELECT symbol, digit, CAST(n_obs AS BIGINT) AS n_obs,
       round(n * share, 4) + 0 AS exp_n,
       round(CAST(sum(CAST(round((n_obs - n * share) * (n_obs - n * share)
             / (n * share), 9) AS DECIMAL(30,12)))
           OVER (PARTITION BY symbol) AS DOUBLE), 4) + 0 AS chi2
FROM e2 ORDER BY symbol, digit"""),

    "q168_k_anonymity" -> """
WITH g AS (
  SELECT lang, source, n_chars // 100 AS len_bucket, count(*) AS k
  FROM documents GROUP BY 1, 2, 3
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_5,
       CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS rows_below_5,
       CAST(sum(k) AS BIGINT) AS n_rows,
       round(CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS DOUBLE)
           / CAST(sum(k) AS DOUBLE) * 100, 4) + 0 AS pct_at_risk
FROM g GROUP BY 1 ORDER BY lang""",

    // both merges replayed: last event per user, %97 users replaced by
    // the adjustment row, error-tombstoned users filtered unless adjusted
    "q166_cow_merge" -> """
WITH last AS (
  SELECT user_id, event_type, value, epoch_ns(ts) AS ts_ns,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events
), base AS (
  SELECT user_id, ts_ns, event_type, value FROM last WHERE rk = 1
), mx AS (SELECT max(epoch_ns(ts)) AS m FROM events)
SELECT user_id,
       CASE WHEN user_id % 97 = 0 THEN (SELECT m FROM mx) + 1000 ELSE ts_ns END AS ts_ns,
       CASE WHEN user_id % 97 = 0 THEN 'adjust' ELSE event_type END AS event_type,
       CASE WHEN user_id % 97 = 0 THEN 0.5 ELSE value END AS value
FROM base
WHERE user_id % 97 = 0 OR event_type <> 'error'
ORDER BY user_id""",

    // the same quantized recursion, replayed as a RECURSIVE CTE
    "q165_stream_ema" -> ("WITH RECURSIVE " + BARS.stripPrefix("WITH ") + """, b AS (
  SELECT symbol, date, close,
         row_number() OVER (PARTITION BY symbol ORDER BY date) AS rn
  FROM bars
), r AS (
  SELECT symbol, date, rn, round(close, 6) + 0 AS ema
  FROM b WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.date, b.rn, round(0.125 * b.close + 0.875 * r.ema, 6) + 0
  FROM b JOIN r ON b.symbol = r.symbol AND b.rn = r.rn + 1
)
SELECT symbol, strftime(date, '%Y-%m-%d') AS date, ema
FROM r ORDER BY symbol, date"""),

    // list(x ORDER BY ...) replays array_sort over the chronological structs
    "q158_session_paths" -> """
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type,
         lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ns
  FROM events
), s AS (
  SELECT *, sum(CASE WHEN prev_ns IS NULL OR ts_ns - prev_ns > 1800000000000
                     THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM e
), p AS (
  SELECT user_id, sid,
         array_to_string(list_slice(list(event_type ORDER BY ts_ns, event_id), 1, 5), '>') AS path
  FROM s GROUP BY 1, 2
)
SELECT path, CAST(count(*) AS BIGINT) AS n
FROM p GROUP BY 1 ORDER BY n DESC, path LIMIT 20""",

    "q159_crosssource_dups" -> """
WITH d AS (
  SELECT DISTINCT source,
         md5(array_to_string(list_slice(string_split(
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), 1, 6), ' ')) AS fp
  FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM d a JOIN d b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2 ORDER BY 1, 2""",

    // the evolution replayed as a UNION ALL over the source relation
    "q156_schema_evolution" -> """
WITH m AS (
  SELECT o_orderstatus, 'legacy' AS priority_class, o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderstatus,
         CASE WHEN o_totalprice >= 200000.0 THEN 'high' ELSE 'std' END,
         o_totalprice
  FROM orders WHERE o_orderkey % 2 <> 0
)
SELECT o_orderstatus, priority_class, CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 4) + 0 AS total_price
FROM m GROUP BY 1, 2 ORDER BY 1, 2""",

    "q157_shard_manifest" -> """
WITH h AS (
  SELECT n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM documents
)
SELECT CAST(h % 16 AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(sum(CAST(h AS DECIMAL(30,0))) AS VARCHAR) AS checksum
FROM h GROUP BY 1 ORDER BY shard""",

    // LWW convergence: the streamed sequence of merges equals "greatest
    // (ts, event_id) row per user, minus tombstoned last events"
    "q155_stream_cdc_apply" -> """
WITH last AS (
  SELECT user_id, event_type, value, epoch_ns(ts) AS ts_ns,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rk
  FROM events
)
SELECT user_id, ts_ns, event_type, value
FROM last WHERE rk = 1 AND event_type <> 'error'
ORDER BY user_id""",

    // RANGE over an integer day index == Spark's rangeBetween on unix_date
    "q154_rolling_spend_7d" -> """
WITH d AS (
  SELECT user_id, CAST(ts AS DATE) AS date,
         round(CAST(sum(CAST(round(value, 9) AS DECIMAL(30,12))) AS DOUBLE), 6) + 0 AS spend
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT user_id, CAST(date AS VARCHAR) AS date, spend,
       round(CAST(sum(CAST(round(spend, 6) AS DECIMAL(30,12))) OVER (
         PARTITION BY user_id ORDER BY (date - DATE '1970-01-01')
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE), 6) + 0 AS spend_7d,
       CAST(count(*) OVER (
         PARTITION BY user_id ORDER BY (date - DATE '1970-01-01')
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_days_7d
FROM d ORDER BY user_id, date""",

    // the sketch-free one-pass definition: GROUP BY the FULL key universe,
    // HAVING the same total/48 cut — hash equality proves the Misra–Gries
    // candidate set was a superset of every qualifying token
    "q172_exact_heavy_hitters" -> """
WITH d AS (
  SELECT trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm FROM documents
), t AS (
  SELECT unnest(string_split(norm, ' ')) AS tok FROM d
), tot AS (SELECT count(*) AS total FROM t),
c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1)
SELECT c.tok, c.n, round(CAST(c.n AS DOUBLE) / tot.total, 6) + 0 AS share
FROM c, tot
WHERE c.n > tot.total / 48.0
ORDER BY n DESC, tok""",

    // the same sweep line stated directly: sessions via gaps-and-islands,
    // ±1 deltas collapsed per nanosecond, day-partitioned running sums plus
    // the cross-day carry; all integer arithmetic on raw nanoseconds
    "q173_peak_concurrency" -> """
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id FROM events
), s AS (
  SELECT user_id, ts_ns, event_id,
         CASE WHEN lag(ts_ns) OVER w IS NULL
                OR ts_ns - lag(ts_ns) OVER w > 1800000000000 THEN 1 ELSE 0 END AS ns
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)
), g AS (
  SELECT user_id, ts_ns,
         sum(ns) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                       ROWS UNBOUNDED PRECEDING) AS sess
  FROM s
), iv AS (
  SELECT user_id, sess, min(ts_ns) AS start_ns, max(ts_ns) AS end_ns
  FROM g GROUP BY 1, 2
), dl AS (
  SELECT ts_ns, sum(d) AS d FROM (
    SELECT start_ns AS ts_ns, 1 AS d FROM iv
    UNION ALL SELECT end_ns + 1, -1 FROM iv
  ) GROUP BY 1
), dd AS (
  SELECT ts_ns, d, ts_ns // 86400000000000 AS day FROM dl
), run AS (
  SELECT day, sum(d) OVER (PARTITION BY day ORDER BY ts_ns
                           ROWS UNBOUNDED PRECEDING) AS run
  FROM dd
), daily AS (SELECT day, sum(d) AS tot FROM dd GROUP BY 1),
car AS (
  SELECT day, coalesce(sum(tot) OVER (ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry
  FROM daily
), mx AS (
  SELECT day, max(run) AS mx, CAST(count(*) AS BIGINT) AS n_points
  FROM run GROUP BY 1
)
SELECT strftime(DATE '1970-01-01' + CAST(m.day AS INT), '%Y-%m-%d') AS date,
       CAST(c.carry AS BIGINT) AS carry_in,
       CAST(greatest(c.carry, c.carry + m.mx) AS BIGINT) AS peak,
       m.n_points
FROM mx m JOIN car c USING (day) ORDER BY date""",

    // DuckDB's native jaro_winkler_similarity over the same collapsed
    // domain — the engine's byte-level expression must agree on every
    // double, or pairs at the τ boundary would differ
    "q174_jw_linkage" -> """
WITH n AS (
  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n FROM part GROUP BY 1
)
SELECT a.name AS name_a, b.name AS name_b,
       round(jaro_winkler_similarity(a.name, b.name), 6) + 0 AS jw,
       a.n AS n_a, b.n AS n_b
FROM n a JOIN n b ON a.name < b.name
WHERE jaro_winkler_similarity(a.name, b.name) >= 0.84
ORDER BY name_a, name_b""",

    // DuckDB's windowed median IS quantile_cont(0.5) over the frame —
    // identical interpolation; count(volume) mirrors collect_list's
    // null-skipping
    "q175_rolling_median" -> (BARS + """
SELECT symbol, CAST(date AS VARCHAR) AS date, volume,
       round(median(volume) OVER w, 6) + 0 AS med_15,
       CAST(count(volume) OVER w AS BIGINT) AS n_frame
FROM bars
WINDOW w AS (PARTITION BY symbol ORDER BY date
             ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
ORDER BY symbol, date"""),

    // two-pass mean-centering + lag products under the q179 decimal
    // contract; the unpivot is a UNION ALL over the symbols-sized aggregate
    "q176_acf" -> Indicators.acfOracleSql(FACT, 5),

    // month-anchored running decimal window sums; the ratio divides exact
    // operands
    "q177_vwap" -> Indicators.anchoredVwapOracleSql(BARS),

    // every ratio is a single IEEE divide over exact integer operands, so
    // lift/support/confidence agree bit-for-bit; top-20 tie-broken (a, b)
    "q178_association_rules" -> """
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), n AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
it AS (SELECT pk, count(*) AS n_item FROM li GROUP BY 1),
e AS (
  SELECT a.pk AS item_a, b.pk AS item_b, count(*) AS w
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT e.item_a, e.item_b, CAST(e.w AS BIGINT) AS n_ab,
       CAST(x.n_item AS BIGINT) AS n_a, CAST(y.n_item AS BIGINT) AS n_b,
       round(CAST(e.w AS DOUBLE) / n.n_orders, 6) + 0 AS support,
       round(CAST(e.w AS DOUBLE) / x.n_item, 6) + 0 AS conf_ab,
       round(CAST(e.w AS DOUBLE) / y.n_item, 6) + 0 AS conf_ba,
       round((CAST(e.w AS DOUBLE) * n.n_orders) /
             (CAST(x.n_item AS DOUBLE) * y.n_item), 6) + 0 AS lift
FROM e JOIN it x ON e.item_a = x.pk JOIN it y ON e.item_b = y.pk, n
ORDER BY lift DESC, item_a, item_b LIMIT 20""",

    // the same window reduction stated in SQL: P - min(0, running-min P),
    // everything DECIMAL until the final rounded cast
    "q179_cusum" -> (FACT + """
, f AS (
  SELECT symbol, date, variacao_diaria AS ret
  FROM fact WHERE variacao_diaria IS NOT NULL
), st AS (
  SELECT symbol, count(*) AS n,
         sum(CAST(round(ret, 9) AS DECIMAL(30,12))) AS sm,
         sum(CAST(round(ret * ret, 9) AS DECIMAL(30,12))) AS ss
  FROM f GROUP BY 1
), ms AS (
  SELECT symbol,
         round(CAST(sm AS DOUBLE) / n, 6) + 0 AS mu,
         round(sqrt(greatest(0, CAST(ss AS DOUBLE) / n
           - (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n))), 6) + 0 AS sd
  FROM st
), z AS (
  SELECT f.symbol, f.date,
         round((f.ret - mu) / nullif(sd, 0), 6) + 0 AS z
  FROM f JOIN ms ON f.symbol = ms.symbol
  WHERE round((f.ret - mu) / nullif(sd, 0), 6) IS NOT NULL
), p0 AS (
  SELECT symbol, date, z,
         sum(CAST(round(z - 0.5, 9) AS DECIMAL(30,12))) OVER w AS p,
         sum(CAST(round(-z - 0.5, 9) AS DECIMAL(30,12))) OVER w AS q
  FROM z
  WINDOW w AS (PARTITION BY symbol ORDER BY date ROWS UNBOUNDED PRECEDING)
), pq AS (
  SELECT symbol, date, z, p, q,
         min(p) OVER w AS minp, min(q) OVER w AS minq
  FROM p0
  WINDOW w AS (PARTITION BY symbol ORDER BY date ROWS UNBOUNDED PRECEDING)
)
SELECT symbol, CAST(date AS VARCHAR) AS date, z,
       round(CAST(p - least(minp, 0) AS DOUBLE), 6) + 0 AS s_pos,
       round(CAST(q - least(minq, 0) AS DOUBLE), 6) + 0 AS s_neg,
       CAST(CASE WHEN p - least(minp, 0) > 4 OR q - least(minq, 0) > 4
            THEN 1 ELSE 0 END AS BIGINT) AS alarm
FROM pq ORDER BY symbol, date"""),

    // exact ECDF max-gap on the 6-decimal return grid; all ratios divide
    // integer-valued doubles
    "q180_ks_test" -> Stats.ksOracleSql(FACT),

    // rank-product Gini on cent-exact decimals (tie-order invariant)
    "q181_gini" -> Stats.giniOracleSql,

    // (S - y)/(n - 1) replayed per row; per-category audit + order-free
    // encoding checksum
    "q182_target_encoding" -> Learn.looTargetEncodingOracleSql,

    // Pearson r from the same six decimal sufficient statistics
    "q183_feature_label_corr" -> Learn.featureLabelCorrOracleSql,

    // Bellman–Ford rounds unrolled in SQL over the same edge derivation
    "q184_weighted_paths" -> weightedPathsOracleSql(4),

    // both watermark cuts stated in batch SQL: the late set is excluded,
    // and only daily windows whose end precedes max(on-time ts) − 48 h are
    // emitted; all boundaries carry multi-hour margins so ms-floor and
    // <=-vs-< conventions cannot matter
    "q185_stream_late_drop" -> """
WITH e AS (
  SELECT event_id, ts, CAST(ts AS DATE) AS d, epoch_ns(ts) AS tns,
         event_type, value
  FROM events
), ontime AS (
  SELECT * FROM e WHERE NOT (d < DATE '2024-01-10' AND event_id % 5 = 0)
), wm AS (SELECT max(tns) - 172800000000000 AS w_ns FROM ontime)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
FROM ontime, wm
WHERE epoch_ns(CAST(d AS TIMESTAMP)) + 86400000000000 < wm.w_ns
GROUP BY 1, 2 ORDER BY 1, 2""",

    // cent-exact covariates, pooled quantize-first theta
    "q186_cuped" -> Stats.cupedOracleSql(),

    // the same histogram sweep; Sum(y^2) cancels from the gain identity
    "q187_split_finding" -> Learn.stumpSplitGainOracleSql,

    // integer largest-remainder proration replayed row for row
    "q188_penny_allocation" -> Analytics.pennyAllocationOracleSql,

    // identical contingency windows + the q82/q146 ln contract
    "q189_mutual_information" -> Stats.mutualInformationOracleSql,

    // the same calendar join + decimal metric folds
    "q190_forecast_backtest" -> Indicators.seasonalNaiveBacktestOracleSql(BARS),

    // the literal pairwise-slope median (435 slopes per symbol — odd count,
    // so both engines take the exact middle element)
    "q191_theil_sen" -> Stats.theilSenOracleSql(BARS),

    // the same single-pass profile, per-type canonical formatting literal
    "q192_column_profile" -> Quality.columnProfileOracleSql,

    // the same seven anti-join audits
    "q193_referential_integrity" -> Quality.referentialIntegrityOracleSql,

    // identical prefix-sum intervals; overlap stated as the literal
    // quadratic predicate — banded == definitional by hash equality
    "q194_fifo_match" -> Ledger.fifoMatchOracleSql,

    // same edge/degree derivation; ranking as the window row_number over
    // the exact cosine
    "q195_item_neighbors" -> GraphOps.itemNeighborsOracleSql(),

    // identical grid, smoothing, and ln/fold contracts
    "q196_psi_drift" -> Stats.psiDriftOracleSql,

    // the definitional single cumulative window — proves the bucketed
    // sweep classifies identically
    "q197_abc_parts" -> Analytics.abcClassificationOracleSql,

    // identical run-id window over the shared fact CTE
    "q198_win_streaks" -> Indicators.winStreaksOracleSql(FACT),

    // identical group windows + ln/fold contracts
    "q199_l_diversity" -> Quality.lDiversityOracleSql,

    // identical split, smoothing, ln contract, argmax
    "q200_naive_bayes" -> Learn.naiveBayesOracleSql,

    // identical first-occurrence prefix construction + decimal OLS
    "q201_vocab_growth" -> TextOps.vocabGrowthOracleSql,

    // plain ntile windows over the identical strict orders — proves the
    // banded rank implements SQL ntile exactly
    "q202_rfm_segments" -> Analytics.rfmSegmentsOracleSql,

    // the same constant fan-out reformulation
    "q203_stickiness" -> EventOps.stickinessOracleSql,

    // identical calendar index + roll-forward + T+2
    "q204_settlement_t2" -> EventOps.settlementT2OracleSql,

    // per-subspace Lloyd replays + ADC lookup joins, generated in lockstep
    // with the engine's (m, codes, iters) configuration
    "q205_pq_knn" -> pqOracleSql(),

    // the same synchronous rounds unrolled; argmax as a ranked window
    "q206_communities" -> GraphOps.communityOracleSql(),

    // the same remaining-tail identity
    "q207_fifo_aging" -> Ledger.fifoAgingOracleSql,

    // the identical recursion as a RECURSIVE CTE
    "q208_holt_backtest" -> Indicators.holtBacktestOracleSql(BARS),

    // identical hash draws, means, and order statistics
    "q209_bootstrap_ci" -> Stats.bootstrapCiOracleSql(FACT),

    // same change detection; the as-of restated as the tagged-union
    // carry-forward with the inclusive tie rule
    "q210_scd2_pit" -> Stars.scd2PitOracleSql,

    // the same peeling rounds unrolled
    "q211_kcore" -> GraphOps.kCoreOracleSql(),

    // the definitional every-shared-token join + the same integer τ cut
    "q212_prefix_join" -> TextOps.prefixSimilarityJoinOracleSql(7, 10, shingled = true),
    "q213_domain_quota" -> TextOps.domainQuotaOracleSql(),

    // q97's covered-position derivation; kept tokens re-aggregated in
    // position order and digested
    "q214_span_cut" -> TextOps.spanCutCleanOracleSql,

    // the shared Lloyd replay, assignment widened to crk <= 2; drop rule
    // over any shared probed cell, census keyed on the crk = 1 cell
    "q215_semdedup_multiprobe" -> {
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
    },

    // identical URL synthesis + eTLD+1 rule (shared suffix list) + ranked
    // window over the same 52-bit md5 key
    "q216_url_domain_quota" -> TextOps.urlDomainQuotaOracleSql(),

    // identical URL synthesis + the SAME parsed PSL rules interpolated into
    // a SQL replica of the precedence order (exception > longest > default)
    "q218_psl_domain_quota" -> TextOps.urlDomainQuotaPslOracleSql(),

    // q217's oracle is the FULL REBUILD of the symmetrized adjacency —
    // hash equality against the engine's base ⊎ delta merge proves the
    // incremental sym-MV maintenance (weights AND degrees additive)
    "q217_sym_incremental" -> SymRebuildOracleSql,

    // q219's oracle IS the batch q213 rule: the streaming bounded-heap
    // state must end exactly where the batch ranking ends
    "q219_stream_domain_quota" -> TextOps.domainQuotaOracleSql(),

    // q220's oracle IS q214's batch SQL: per-document cleaning against the
    // full-corpus index makes the stream emission batch-identical
    "q220_stream_span_cut" -> TextOps.spanCutCleanOracleSql,

    // q221's oracle is the FULL REBUILD of the shingle-df relation
    "q221_shingle_df_incremental" -> TextOps.shingleDfIncrementalOracleSql,

    // q214's covered-position derivation, cut set = the benchmark source's
    // distinct shingles, population = the other sources
    "q222_benchmark_decontam" -> TextOps.benchmarkDecontamOracleSql(),

    // the q31 score formula + a window cumsum over (score desc, doc_id),
    // exclusive-prefix cut at the budget
    "q223_token_budget_select" -> TextOps.tokenBudgetSelectOracleSql(8000L),

    // the q74 recursive-CTE cluster closure + the q59 md5-bucket rule on
    // coalesce(cluster_rep, doc_id)
    "q224_leak_safe_split" -> TextOps.leakSafeSplitOracleSql(MinhashPairsCtes),

    // the q89 weight chain → integer per-source budgets, the q31 score
    // formula, per-source window cumsum, exclusive-prefix cut per budget
    "q225_mixture_budget_select" -> TextOps.mixtureBudgetSelectOracleSql(8000L),

    // q92's chunking CTE + digest df + ordered kept-chunk reassembly
    "q226_chunk_dedup_clean" -> TextOps.chunkDedupCleanOracleSql(1L),

    // the streaming admission ends state-identical to the batch selection,
    // so the oracle IS q225's batch SQL verbatim
    "q227_stream_mixture_budget" -> TextOps.mixtureBudgetSelectOracleSql(8000L),

    // q75's shingle CTEs + the q59 md5-bucket shard rule, min-shard
    // first-occurrence, cumulative window over the 10-row shard axis
    "q228_novelty_curve" -> TextOps.noveltyCurveOracleSql(10),

    // the q90 Lloyd replay, then per-vector ranks 1+2 of the raw-cosine
    // centroid order; silhouette arithmetic on 6-decimal ROUNDED sims
    "q229_cell_silhouette" -> s"""
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
FROM sil GROUP BY cell ORDER BY cell""",

    // the streaming decontamination emission is batch-identical given the
    // standing cut set, so the oracle IS q222's batch SQL verbatim
    "q230_stream_decontam" -> TextOps.benchmarkDecontamOracleSql(),

    // identical synthesis with A-label literals pre-converted by the same
    // IDNA routine, the full rule set as a VALUES relation, PSL precedence
    // stated relationally (exception ≻ longest effective match ≻ implicit *)
    "q231_psl_full_domain_quota" -> TextOps.urlDomainQuotaPslFullOracleSql(),

    // the bucketed-base merge must end value-identical to the full
    // rebuild: q217's oracle verbatim
    "q232_sym_incremental_bucketed" -> SymRebuildOracleSql,

    // q221's full-rebuild oracle verbatim
    "q233_shingle_df_bucketed" -> TextOps.shingleDfIncrementalOracleSql,

    // identical split, rounded centroids, bin grid, Laplace smoothing, and
    // q196's exact ln/fold rounding contract — keyed by label. The split
    // modulus, bin scale (nBins/2), bin ceiling, grid size, and Laplace
    // denominator (nBins/2) are INTERPOLATED from the same constants the
    // engine call uses (Similarity.DriftSplitMod/DriftNBins, ADVICE r14) so
    // the two sides cannot drift apart.
    "q234_centroid_drift" -> s"""
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
ORDER BY p.label""",

    // q222's derivation widened to the tagged multi-benchmark cut set,
    // plus the per-benchmark covered-position audit — the benchmark list
    // is interpolated from the same pinned constant the engine call uses
    "q235_multibench_decontam" -> TextOps.multiBenchDecontamOracleSql(),

    // the stream twin contracts to the identical batch relation: cleaning
    // and audit are per-document given the standing tagged cut set
    "q239_stream_multibench_decontam" -> TextOps.multiBenchDecontamOracleSql(),

    // sequential CDC merges are exact (additive per-order weights, exact
    // degrees per merge), so the streamed final publish must equal the
    // full rebuild: q217's oracle verbatim
    "q236_sym_merge_stream" -> SymRebuildOracleSql,

    // q73's probe over the split-trained Lloyd replay: centroids from the
    // standing split only, every vector assigned against them (standing ∪
    // delta ≡ assign-everything, since assignment is per-row under fixed
    // centroids), probes/nProbe/k interpolated from the pinned knobs
    "q237_ivf_incremental_bucketed" -> IvfSplitProbeOracleSql,

    // the DURABLE variant contracts to the SAME assign-everything replay:
    // after both chain republishes every vector sits in the standing MV
    // exactly once, so the pruned probe must reproduce it — a replayed
    // (double-applied) batch would duplicate neighbors and shift ranks
    "q238_ivf_durable_refresh" -> IvfSplitProbeOracleSql,

    // q240/q241: the split-trained Lloyd replay + the q125 int8 discipline
    // — half-up quantization of every vector, coarse int8 cosine inside the
    // probed cells cut at rescoreFactor·k (ties on neighbor_id, the
    // TopKByScore contract), float rescore of the survivors, final top-k;
    // every knob interpolated from the pinned Similarity vals. q241 (the
    // STREAM-driven chain) shares it verbatim: assignment and quantization
    // are per-vector, so the union-form chain state is batching-invariant
    "q240_int8_ivf_durable" -> Int8IvfChainOracleSql,
    "q241_int8_ivf_stream" -> Int8IvfChainOracleSql,

    // q242: q90's drop rule over the SPLIT-trained Lloyd replay — centroids
    // from the standing 90%, every vector assigned against them, pairwise
    // lower-id-wins within cells at the pinned τ. The chain's incremental
    // two-direction maintenance must land exactly this relation under any
    // batching (each final same-cell pair is examined exactly once — at
    // base build, in its shared batch, or when its later member arrives).
    // q244 (the STREAM-driven chain) shares it verbatim: the pair-coverage
    // argument is batching-invariant, so the range-split stream and q242's
    // %20 split land the same state
    "q242_semantic_dedup_durable" -> SemDedupChainOracleSql,
    "q244_semantic_dedup_stream" -> SemDedupChainOracleSql,

    // q243: q214's replay with the covered positions merged into maximal
    // islands (gaps-and-islands) and only runs >= the pinned threshold cut
    "q243_span_cut_min_run" -> TextOps.spanCutMinRunOracleSql(),

    // q245: the q205 ADC replay with per-subspace Lloyd TRAINING restricted
    // to the base split (trainSplit — the fixed-codebook contract) while
    // codes/queries/rescore cover every vector; after both chain
    // republishes the standing code table holds exactly this assignment,
    // so hash equality proves both deltas landed exactly once (a replayed
    // batch would duplicate code rows and shift every ADC rank). Knobs
    // interpolate the pinned Similarity.Pq* vals
    "q245_pq_durable" -> pqOracleSql(m = Similarity.PqM,
      nCodes = Similarity.PqNCodes, iters = Similarity.PqIters,
      nQueries = Similarity.PqNQueries, k = Similarity.PqK,
      rescoreFactor = Similarity.PqRescoreFactor, dim = Similarity.PqDim,
      trainSplit = true),

    // q248 (the STREAM-driven PQ chain) shares q245's oracle verbatim:
    // encoding against the fixed split-trained books is per-vector, so the
    // union-form code-table state — and every ADC rank derived from it —
    // is identical under the stream's range split and q245's %20 split
    "q248_pq_stream" -> pqOracleSql(m = Similarity.PqM,
      nCodes = Similarity.PqNCodes, iters = Similarity.PqIters,
      nQueries = Similarity.PqNQueries, k = Similarity.PqK,
      rescoreFactor = Similarity.PqRescoreFactor, dim = Similarity.PqDim,
      trainSplit = true),

    // q246: the split-trained Lloyd replay (fixed q238 centroid space),
    // benchmark vectors = source 'src0' via the aligned documents table
    // (the q128 id convention) probing their nProbe nearest cells, corpus
    // vectors in their assigned cell, rounded-cosine τ cut (the q90
    // convention) — knobs interpolate the pinned Similarity vals.
    // q247 (the STREAM-driven twin) shares it verbatim: flagging is
    // per-vector given the standing benchmark relation, so the emitted
    // relation is batching-invariant
    "q246_semantic_decontam" -> SemDecontamOracleSql,
    "q247_semantic_decontam_stream" -> SemDecontamOracleSql
  )

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
    * [[Similarity.IvfK]] — ADVICE r15). */
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

  /** The full symmetrized-adjacency rebuild — q217's AND q232's oracle (the
    * incremental and bucketed-incremental merges both contract to it). */
  private val SymRebuildOracleSql: String = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), e AS (
  SELECT a.pk AS src, b.pk AS dst, count(*) AS w
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
), sym AS (
  SELECT src AS u, dst AS v, w FROM e
  UNION ALL
  SELECT dst AS u, src AS v, w FROM e
), deg AS (
  SELECT u, count(*) AS deg_u FROM sym GROUP BY u
)
SELECT s.u, s.v, CAST(s.w AS BIGINT) AS w, CAST(d.deg_u AS BIGINT) AS deg_u
FROM sym s JOIN deg d ON d.u = s.u
ORDER BY s.u, s.v"""
}
