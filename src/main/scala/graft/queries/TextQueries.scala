package graft.queries

import graft.functions.Fx._
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Text operators over `documents`: dedup, near-dup clustering, quality,
  * tokenization, packing and the corpus cleaners. */
object TextQueries {

  /** Shared oracle CTE chain for the portable MinHash pair graph (q49, q74):
    * the raw per-doc algorithm — md5 double-hashing signatures over FOUR
    * independent base-hash families (permutation i derives from
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
    // shows the broken tie
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

  val specs: Seq[QuerySpec] = Seq(
    // -- LLM-pipeline text operators over documents (north-star extension) --
    QuerySpec("q25_dedup_exact", (s, dir) => TextOps.dedupExactProfile(s, dir), Sql("""
SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
       count(*) - count(DISTINCT md5(text)) AS n_dups
FROM documents GROUP BY source ORDER BY source""")),
    QuerySpec("q26_dedup_normalized", (s, dir) => TextOps.dedupNormalizedProfile(s, dir), Sql("""
SELECT lang, count(*) AS n_docs,
       count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS n_norm_unique
FROM documents GROUP BY lang ORDER BY lang""")),
    QuerySpec("q27_jaccard_pairs", (s, dir) => TextOps.jaccardPairs(s, dir, 20), Sql("""
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
ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""")),
    QuerySpec("q28_minhash_lsh", (s, dir) => TextOps.minHashLshPairs(s, dir, 0.5),
      NoOracle("xxhash64 has no DuckDB twin; the md5 pipeline q49_minhash_lsh_portable runs the same structure under an exact oracle")),
    QuerySpec("q49_minhash_lsh_portable", (s, dir) => TextOps.minHashLshPairsPortable(s, dir, 0.5),
      Sql("WITH " + MinhashPairsCtes +
        "\nSELECT doc_a, doc_b, jaccard FROM pairs ORDER BY jaccard DESC, doc_a, doc_b")),
    // near-dup cluster canonicalization: connected components over the
    // verified pair graph (computed on collapsed reps, expanded to members) —
    // the per-doc cluster assignment a dedup pipeline consumes. Oracled via a
    // recursive-CTE transitive closure over the raw pair graph.
    QuerySpec("q74_neardup_clusters", (s, dir) => TextOps.nearDupClusters(s, dir, 0.5),
      // transitive closure over the raw near-dup pair graph: cluster_rep =
      // the smallest doc_id reachable from each doc (the same CTE chain as
      // q49 feeds the recursion, so the verified pair set is identical)
      Sql("WITH RECURSIVE " + MinhashPairsCtes + """
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
FROM reach GROUP BY a ORDER BY cluster_rep, doc_id""")),
    // shingle novelty: fraction of each doc's shingles first seen in that doc
    QuerySpec("q75_novelty", (s, dir) => TextOps.noveltyProfile(s, dir), Sql("""
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
GROUP BY s.doc_id ORDER BY doc_id""")),
    // incremental dedup: classify the src0 batch against the rest of the
    // corpus (exact digest / lang-bucketed Jaccard / novel) — the daily-
    // increment workflow that never re-dedups the historical corpus
    QuerySpec("q76_incremental_dedup", (s, dir) =>
      TextOps.incrementalDedup(s, dir, "src0", 0.5),
      Sql("""
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
ORDER BY n.doc_id""")),

    // cross-document boilerplate: fraction of each doc's shingles shared by
    // more than 2 documents — the C4-style template/nav-bar signal
    QuerySpec("q78_boilerplate", (s, dir) => TextOps.boilerplateProfile(s, dir, 2), Sql("""
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
GROUP BY s.doc_id ORDER BY doc_id""")),
    QuerySpec("q29_simhash", (s, dir) => TextOps.simHash(Tables.documents(s, dir)),
      NoOracle("xxhash64 has no DuckDB twin; the md5 signature q57_simhash_portable is oracled instead")),
    QuerySpec("q57_simhash_portable", (s, dir) => TextOps.simHashPortable(Tables.documents(s, dir)),
      Sql("WITH " + SimhashSigCtes + "\nSELECT doc_id, simhash FROM sig ORDER BY doc_id")),
    // simhash near-dup retrieval: chunk-banded on cluster reps, exhaustive
    // for Hamming <= 3 by pigeonhole — fully oracled against the all-pairs
    // raw answer
    QuerySpec("q79_simhash_neardup", (s, dir) => TextOps.simHashNearDups(s, dir, 3),
      // the raw algorithm: every doc pair within Hamming distance 3. The
      // Spark side never runs this all-pairs form — it chunk-bands cluster
      // reps — but for maxHamming ≤ 3 the 4×15-bit banding is EXHAUSTIVE
      // (pigeonhole: ≤3 differing bits cannot touch all 4 chunks), so the
      // banded plan provably emits exactly this answer
      Sql("WITH " + SimhashSigCtes + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY hamming, doc_a, doc_b""")),
    QuerySpec("q30_lang_id", (s, dir) => TextOps.langId(Tables.documents(s, dir)), Sql("""
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
FROM h ORDER BY doc_id""")),
    QuerySpec("q31_text_quality", (s, dir) => TextOps.qualityMetrics(Tables.documents(s, dir)), Sql("""
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
FROM r ORDER BY doc_id""")),
    QuerySpec("q32_token_counts", (s, dir) => TextOps.tokenCounts(s, dir), Sql("""
SELECT source, count(*) AS n_docs,
  CAST(sum(len(regexp_extract_all(text, '[^\s]+', 0))) AS BIGINT) AS n_tokens_ws,
  CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]', 0))) AS BIGINT) AS n_tokens_bpe
FROM documents GROUP BY source ORDER BY source""")),
    QuerySpec("q33_fingerprints", (s, dir) => TextOps.fingerprints(Tables.documents(s, dir)), Sql("""
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(norm) - 6), i -> md5(substr(norm, i, 8)))) AS h
  FROM d WHERE length(norm) >= 8
)
SELECT doc_id, min(h) AS fingerprint, count(*) AS n_windows
FROM g GROUP BY doc_id ORDER BY doc_id""")),
    QuerySpec("q50_pii_redaction", (s, dir) => TextOps.redactionProfile(s, dir), Sql("""
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
FROM m GROUP BY source ORDER BY source""")),
    QuerySpec("q51_token_histogram", (s, dir) => TextOps.tokenHistogram(s, dir), Sql("""
WITH x AS (
  SELECT CAST(len(regexp_extract_all(text, '[^\s]+', 0)) AS DOUBLE) AS n FROM documents
)
SELECT CAST(CASE WHEN n < 0.0 THEN 0
            WHEN n >= 200.0 THEN 11
            ELSE floor(n / 20.0) + 1 END AS BIGINT) AS bucket,
       count(*) AS n_docs
FROM x GROUP BY bucket ORDER BY bucket""")),
    // deterministic hash-bucket train/val/test split: membership is a pure
    // function of doc_id (stable under corpus growth, reproducible on any
    // engine) — the sampling primitive of a training-data pipeline
    QuerySpec("q59_split_profile", (s, dir) => TextOps.splitProfile(s, dir), Sql("""
WITH b AS (
  SELECT source, text,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bk
  FROM documents
)
SELECT source,
       CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '[^\s]+', 0))) AS BIGINT) AS n_tokens
FROM b GROUP BY 1, 2 ORDER BY source, split""")),
    // deterministic stratified sample: the 3 docs per source with the
    // smallest md5(doc_id) — balanced, reproducible on any engine, stable
    // under corpus growth for surviving keys. The rank window partitions by
    // source: per-stratum cardinality, never corpus-wide sort
    QuerySpec("q71_stratified_sample", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("hk").asc, col("doc_id").asc)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), md5(col("doc_id").cast("string")).as("hk"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("source"), col("rk"), col("doc_id"))
        .orderBy("source", "rk")
    },
      Sql("""
WITH h AS (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents
), r AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rk
  FROM h
)
SELECT source, CAST(rk AS BIGINT) AS rk, doc_id
FROM r WHERE rk <= 3 ORDER BY source, rk""")),

    // fuzzy record linkage: Levenshtein within (lang, 12-char-prefix) blocks
    // — edit distance never runs on a cross product
    QuerySpec("q70_fuzzy_match", (s, dir) =>
      TextOps.fuzzyMatches(Tables.documents(s, dir), 20),
      Sql("""
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
ORDER BY edit_distance, doc_a, doc_b""")),
    // within-doc repetition (duplicated-trigram fraction + top-gram share):
    // the Gopher/C4 boilerplate signal
    QuerySpec("q64_repetition", (s, dir) =>
      TextOps.repetitionMetrics(Tables.documents(s, dir)),
      Sql("""
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
FROM pg GROUP BY doc_id ORDER BY doc_id""")),
    // cross-dataset contamination: docs of src0 sharing >= 1 trigram with
    // src1, per lang — the eval-benchmark leakage check
    QuerySpec("q65_contamination", (s, dir) =>
      TextOps.contaminationProfile(s, dir, "src0", "src1"),
      Sql("""
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
FROM hits GROUP BY lang ORDER BY lang""")),
    // TF-IDF discriminative terms per lang: the rank window runs over the
    // aggregated vocabulary, never the token stream
    QuerySpec("q60_tfidf_terms", (s, dir) => TextOps.tfidfTopTerms(s, dir, 10), Sql("""
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
FROM ranked WHERE rk <= 10 ORDER BY lang, rk""")),
    // unigram LM surprisal: the CCNet-style quality-filter signal
    QuerySpec("q82_unigram_surprisal", (s, dir) => TextOps.unigramSurprisalFrom(Tables.documents(s, dir)),
      Sql("""
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
GROUP BY 1, 2 ORDER BY 1""")),
    // GPT-style concat-then-chunk packing via distributed prefix sum
    QuerySpec("q83_pack_sequences", (s, dir) => TextOps.packSequencesFrom(Tables.documents(s, dir), 512),
      Sql("""
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
FROM o ORDER BY doc_id""")),
    // materialized spans of that packing: documents split across sequence
    // boundaries — (seq_id, doc_id, start_tok, n_tok), the relation a
    // training loader consumes. Per-row generator over the offsets pass.
    QuerySpec("q84_packed_spans", (s, dir) => TextOps.packedSpansFrom(Tables.documents(s, dir), 512), Sql("""
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
FROM s ORDER BY seq_id, doc_id""")),
    // CCNet-style head/middle/tail quality tertiles per language over the
    // q82 surprisal scores — the stratification step before sampling
    QuerySpec("q88_surprisal_buckets", (s, dir) => TextOps.surprisalBucketsFrom(Tables.documents(s, dir)),
      Sql("""
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
FROM n GROUP BY 1, 2 ORDER BY lang, bucket""")),
    // temperature-based (α = 1/2) source mixture weights + sample factors —
    // the multi-domain sampling census a training loader consumes
    QuerySpec("q89_mixture_weights", (s, dir) => TextOps.mixtureWeightsFrom(Tables.documents(s, dir)), Sql("""
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
FROM s CROSS JOIN z ORDER BY source""")),
    // deterministic per-epoch shuffle plan over the packed sequences: every
    // sequence keyed by md5(epoch:seq_id), read in key order — no global
    // rank window, so the "shuffle" is a distributed range sort at any scale
    QuerySpec("q91_epoch_shuffle", (s, dir) =>
      TextOps.epochShufflePlanFrom(Tables.documents(s, dir), 512, epochs = 2),
      Sql("""
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
ORDER BY epoch, shuffle_key, seq_id""")),
    // content-defined chunking dedup census: hash-derived boundaries, chunk
    // digests, per-source duplicated-chunk ratio — array-native, no
    // per-character explosion
    QuerySpec("q92_cdc_chunks", (s, dir) => TextOps.cdcChunkProfileFrom(Tables.documents(s, dir)),
      // content-defined chunking: boundary at position i iff the 8-char window
      // hash starts with nibble '0' — same predicate, same [2, len-7] range,
      // same last-chunk arithmetic as the Spark array expressions
      Sql("""
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
FROM c GROUP BY source ORDER BY source""")),
    // BPE merge-candidate statistics: top-5 adjacent token pairs per lang
    QuerySpec("q93_bpe_pairs", (s, dir) => TextOps.bpePairStatsFrom(Tables.documents(s, dir), 5), Sql("""
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
FROM r WHERE rk <= 5 ORDER BY lang, rk""")),
    // directed containment: the asymmetric overlap Jaccard can't see —
    // partial-copy detection over the same collapsed/bucketed shingle base
    QuerySpec("q96_containment_pairs", (s, dir) => TextOps.containmentPairsFrom(Tables.documents(s, dir), 20),
      Sql("""
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
ORDER BY greatest(cont_a_in_b, cont_b_in_a) DESC, doc_a, doc_b LIMIT 20""")),
    // bloom-prefiltered exact dedup: the corpus digest set as ONE bloom
    // artifact, batch probed before the verify semi-join; no false
    // negatives, so the oracle is the bloom-free SQL — hash-equality IS
    // the proof the prefilter changes nothing
    QuerySpec("q95_bloom_prefilter", (s, dir) =>
      TextOps.bloomPrefilterDedup(s, dir, "src0"),
      // the bloom-free statement of q95: hash-equality through the bloom path
      // is the no-false-negatives proof
      Sql("""
WITH c AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE source <> 'src0'
), b AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE source = 'src0'
)
SELECT b.doc_id,
       CASE WHEN c.h IS NOT NULL THEN 'exact_dup' ELSE 'novel' END AS status
FROM b LEFT JOIN c ON b.h = c.h
ORDER BY b.doc_id""")),
    // positional duplicated-passage coverage: fraction of each document's
    // token positions inside at least one corpus-duplicated 3-gram — the
    // span a span-level cleaner cuts; df read off an aggregate, never a
    // self-join
    QuerySpec("q97_dup_passages", (s, dir) => TextOps.dupPassageCoverageFrom(Tables.documents(s, dir)),
      Sql("""
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
ORDER BY n.doc_id""")),
    // BM25 retrieval over the corpus for a fixed query-term set: postings
    // filtered to the terms BEFORE aggregation, df/avgdl broadcast,
    // top-k via sort+limit (TakeOrderedAndProject)
    QuerySpec("q101_bm25", (s, dir) =>
      TextOps.bm25TopDocsFrom(Tables.documents(s, dir), Seq("table", "scan", "merge", "hash"), 20),
      Sql("""
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
FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20""")),
    // weighted sampling without replacement (Efraimidis–Spirakis md5 keys):
    // reproducible on any worker, k smallest keys per source
    QuerySpec("q102_weighted_sample", (s, dir) => TextOps.weightedSampleFrom(Tables.documents(s, dir), 5),
      Sql("""
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
FROM r WHERE rk <= 5 ORDER BY source, rk""")),
    // fixed-grid overlapping RAG chunks (size 32, stride 24): per-row
    // generator, chunk digests for dedup — the retrieval-side twin of q84
    QuerySpec("q104_rag_chunks", (s, dir) => TextOps.ragChunksFrom(Tables.documents(s, dir), 32, 24), Sql("""
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
FROM g ORDER BY doc_id, chunk_id""")),
    // cross-language quality calibration: per-lang percent-rank
    // quantile normalization + decile buckets
    QuerySpec("q105_quality_calibration", (s, dir) => TextOps.qualityCalibrationFrom(Tables.documents(s, dir)),
      Sql(QualityCtes + """, p AS (
  SELECT doc_id, lang, score AS quality_score,
         percent_rank() OVER (PARTITION BY lang ORDER BY score) AS pr
  FROM qscore
)
SELECT doc_id, lang, quality_score, round(pr, 6) + 0 AS pct_rank,
       CAST(least(floor(pr * 10), 9) AS BIGINT) AS decile
FROM p ORDER BY doc_id""")),
    // the custom TopKByScore TypedImperativeAggregate ON THE GATE directly:
    // map-side k-heaps mean the shuffle carries <= k rows per partition per
    // group (never all candidates); the oracle states the rank-window SQL —
    // hash-equality proves the heap aggregate == the window formulation
    QuerySpec("q113_topk_aggregate", (s, dir) => {
      // DIRECT shape (SCALING.md "q113 re-bisect"): the suspected "40x
      // ObjectHashAggregate projection quirk" does not reproduce — direct
      // is 0.32 s min at 100x in fresh, cache-matched, and post-shuffle
      // sessions alike, while every materialization
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
    },
      // the rank-window statement of q113: hash-equality through the k-heap
      // aggregate proves the bounded-shuffle plan computes the same relation
      Sql(QualityCtes + """, w AS (
  SELECT lang, doc_id, score,
         row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rk
  FROM qscore
)
SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, score
FROM w WHERE rk <= 3 ORDER BY lang, rk""")),
    // second-order LM quality signal: bigram surprisal with unigram
    // interpolation (λ = ½, exact binary) — q82's model one order up;
    // bigrams from a per-row array transform, NO lag window
    QuerySpec("q114_bigram_surprisal", (s, dir) => TextOps.bigramSurprisalFrom(Tables.documents(s, dir)),
      Sql("""
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
GROUP BY 1, 2 ORDER BY doc_id""")),
    // keep-best dedup ON THE GATE: among exact duplicates the
    // highest-quality row survives (one struct-max hash aggregation, no
    // window); oracle states the rank-window SQL
    QuerySpec("q115_dedup_keepbest", (s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .withColumn("score", rd(TextOps.qualityScore(col("text")), 6))
      TextOps.dedupKeepBest(scored, "score")
        .select(col("doc_id"), col("lang"), col("source"), col("score"))
        .orderBy("doc_id")
    },
      // the rank-window statement of q115: the keep-best struct-max aggregate
      // must select exactly the survivor the window picks
      Sql(QualityCtes + """, r AS (
  SELECT doc_id, lang, source, score,
         row_number() OVER (PARTITION BY md5(text) ORDER BY score DESC, doc_id) AS rk
  FROM qscore
)
SELECT doc_id, lang, source, score FROM r WHERE rk = 1 ORDER BY doc_id""")),
    // the BPE merge-application LOOP on the gate — q93 counts candidates
    // once; this runs the real tokenizer-training iteration k=5 times
    // (count -> merge top pair -> re-count), fixed-depth like q98's loop.
    // After the one corpus-sized word count, every relation is
    // vocabulary-bounded; the oracle is the same loop unrolled in SQL
    QuerySpec("q117_bpe_merge_loop", (s, dir) => TextOps.bpeTrainMergesFrom(Tables.documents(s, dir), 5),
      Sql(bpeOracleSql(5))),
    // BPE ENCODE: q117's learned merge table APPLIED to the corpus — the
    // per-doc token census after k merges. The merge chain runs over the
    // vocabulary; the corpus word stream joins the encoded vocab by
    // broadcast (never reshuffles for model stats); the only corpus-sized
    // shuffle is the per-doc aggregation
    QuerySpec("q118_bpe_encode", (s, dir) => TextOps.bpeEncodeFrom(Tables.documents(s, dir), 5),
      Sql(bpeEncodeOracleSql(5))),
    // DSIR importance resampling (Xie et al. 2023): hashed-unigram bucket
    // log-ratios target/raw broadcast onto the token stream, per-doc
    // log-weight, k-heap selection — bucket ratios rounded BEFORE the doc
    // sum so libm-ln ulps never reach the rank order
    QuerySpec("q131_dsir_resample", (s, dir) => TextOps.dsirResampleFrom(Tables.documents(s, dir), "en", 256, 50),
      // DSIR replayed: hashed-unigram bucket histograms for raw vs target,
      // Laplace-smoothed log-ratios rounded at 6 BEFORE the per-doc sum
      // (the determinism contract), rank by (rounded logw DESC, doc_id)
      Sql("""
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
WHERE r.rk <= 50 ORDER BY r.rk""")),
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
    QuerySpec("q133_unicode_nfc", (s, dir) => {
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
    },
      // DuckDB's utf8proc nfc_normalize over the same deterministic
      // decomposed-suffix construction (chr() codepoints = the Spark \u
      // escapes); both sides implement UAX #15, hash equality is the proof
      Sql("""
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
FROM n GROUP BY lang ORDER BY lang""")),
    // DISTRIBUTED MODEL TRAINING: Elliott-sigmoid GLM quality classifier
    // fit by full-batch GD — each iteration ONE map-side-combined aggregate
    // (4 scalars to the driver, zero row traffic). Rational activation +
    // decimal gradient sums + per-iteration weight quantization make the
    // whole training loop bit-reproducible across engines AND across
    // cluster re-runs at any partitioning (Learn.scala contract)
    QuerySpec("q134_glm_quality", (s, dir) => Learn.glmQualityGate(s, dir),
      // GD training loop unrolled: iteration i = (gradient-sum CTE g_i,
      // weight-update CTE w_i); see glmOracleSql for the determinism contract
      Sql(glmOracleSql(3, "2.0"))),
    // CORPUS MIXING DIAGNOSTICS: per-source lang-distribution entropy and
    // KL divergence vs the corpus-wide mix — what a data-mixture tuner
    // reads before reweighting sources. ln() is libm, so the q82 device
    // applies: ln rounded at 6 on the BOUNDED-DISTINCT ratio relation
    // (sources × langs), then round-9/decimal sums carry it exactly
    QuerySpec("q146_lang_divergence", (s, dir) => {
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
    },
      // same ratio relation; ln rounded at 6 at the bounded-distinct level
      // BEFORE any sum (the q82 libm contract), decimal-carried across rows
      Sql("""
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
FROM j GROUP BY source ORDER BY source""")),

    // K-ANONYMITY PROFILE: the privacy audit a training corpus gets before
    // release — quasi-identifier groups (lang, source, 100-char length
    // bucket), per-language k-distribution: group count, min k, groups and
    // row share below k = 5. Two stacked aggregates, both map-side
    // combinable; the at-risk share is an exact integer ratio.
    QuerySpec("q168_k_anonymity", (s, dir) => {
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
    },
      Sql("""
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
FROM g GROUP BY 1 ORDER BY lang""")),

    // CROSS-SOURCE DUPLICATE MATRIX: dedup DIAGNOSTICS — for each source
    // pair, how many 6-token-prefix fingerprints (a standard near-dup
    // blocking key) they share. The join runs on the DISTINCT (source, fp)
    // relation, so each fingerprint carries at most |sources| rows into
    // the equi-join — bounded fan-out, never doc×doc.
    QuerySpec("q159_crosssource_dups", (s, dir) => {
      val fp = md5(array_join(
        slice(graft.operators.TextOps.tokens(col("text")), 1, 6), " "))
      val d = Tables.documents(s, dir)
        .select(col("source"), fp.as("fp")).distinct()
      d.as("a").join(d.as("b"),
          col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("source_a", "source_b")
    },
      Sql("""
WITH d AS (
  SELECT DISTINCT source,
         md5(array_to_string(list_slice(string_split(
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), 1, 6), ' ')) AS fp
  FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM d a JOIN d b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2 ORDER BY 1, 2""")),

    // TWO-PASS EXACT HEAVY HITTERS: Misra–Gries candidate sketch (map-side
    // k-counter summaries, O(k) bytes per partition through the exchange)
    // then an exact recount of ONLY the candidates; the oracle is the plain
    // GROUP BY / HAVING over the full key universe — hash equality proves
    // the sketch missed nothing (the q95/q110 proof framing).
    QuerySpec("q172_exact_heavy_hitters", (s, dir) => Sketches.tokenHeavyHittersGate(s, dir),
      // the sketch-free one-pass definition: GROUP BY the FULL key universe,
      // HAVING the same total/48 cut — hash equality proves the Misra–Gries
      // candidate set was a superset of every qualifying token
      Sql("""
WITH d AS (
  SELECT trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm FROM documents
), t AS (
  SELECT unnest(string_split(norm, ' ')) AS tok FROM d
), tot AS (SELECT count(*) AS total FROM t),
c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1)
SELECT c.tok, c.n, round(CAST(c.n AS DOUBLE) / tot.total, 6) + 0 AS share
FROM c, tot
WHERE c.n > tot.total / 48.0
ORDER BY n DESC, tok""")),

    // JARO–WINKLER RECORD LINKAGE on the collapsed part-name domain: the
    // codegen'd native expression is bit-matched to DuckDB's
    // jaro_winkler_similarity (byte-level, integer-halved transpositions,
    // 0.7 boost gate — probed and pinned in TextExpressionsSpec), so the
    // τ=0.84 cut selects identical pairs and the gate hash-compares raw
    // rounded doubles. Quadratic step bounded by the 64-name domain.
    QuerySpec("q174_jw_linkage", (s, dir) =>
      TextOps.jwLinkage(Tables.part(s, dir), "p_name", 0.84),
      // DuckDB's native jaro_winkler_similarity over the same collapsed
      // domain — the engine's byte-level expression must agree on every
      // double, or pairs at the τ boundary would differ
      Sql("""
WITH n AS (
  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n FROM part GROUP BY 1
)
SELECT a.name AS name_a, b.name AS name_b,
       round(jaro_winkler_similarity(a.name, b.name), 6) + 0 AS jw,
       a.n AS n_a, b.n AS n_b
FROM n a JOIN n b ON a.name < b.name
WHERE jaro_winkler_similarity(a.name, b.name) >= 0.84
ORDER BY name_a, name_b""")),

    // L-DIVERSITY privacy profile: q168's k-anonymity extended to the
    // sensitive attribute — per-QI-group distinct-source counts + entropy
    // l-diversity minima (ln contract), rolled up per language
    QuerySpec("q199_l_diversity", (s, dir) => Quality.lDiversity(Tables.documents(s, dir)),
      // identical group windows + ln/fold contracts
      Sql(Quality.lDiversityOracleSql)),

    // VOCABULARY-GROWTH CURVE + HEAPS-LAW FIT: first-occurrence checkpoint
    // prefix sums (type is new at min(doc_id)); log-log OLS slope via the
    // q162 decimal sufficient statistics
    QuerySpec("q201_vocab_growth", (s, dir) => TextOps.vocabGrowth(Tables.documents(s, dir)),
      // identical first-occurrence prefix construction + decimal OLS
      Sql(TextOps.vocabGrowthOracleSql)),

    // PREFIX-FILTERED SET-SIMILARITY JOIN (SSJoin/PPJoin): candidates only
    // from rarest-first prefixes over the 3-word SHINGLE universe, cut by
    // the length AND positional filters; exact array-intersect verify;
    // τ = 7/10 by integer cross-multiplication — the oracle is the
    // definitional every-shared-shingle join, proving losslessness
    QuerySpec("q212_prefix_join", (s, dir) =>
      TextOps.prefixSimilarityJoin(Tables.documents(s, dir), 7, 10, shingled = true),
      // the definitional every-shared-token join + the same integer τ cut
      Sql(TextOps.prefixSimilarityJoinOracleSql(7, 10, shingled = true))),

    // PER-DOMAIN QUOTA (frontier-style corpus cap): md5-deterministic cap
    // of documents per source domain through the bounded k-heap aggregate —
    // the CommonCrawl-prep step that stops one crawl-heavy host from
    // dominating a training mixture
    QuerySpec("q213_domain_quota", (s, dir) =>
      TextOps.domainQuota(Tables.documents(s, dir)),
      Sql(TextOps.domainQuotaOracleSql())),

    // EXACT-SUBSTRING SPAN-CUT CLEANER (Lee et al. 2022): REMOVE every
    // token position covered by a corpus-duplicated 3-gram instead of
    // dropping whole documents — kept text digested, removal census per
    // doc; the cut set equals q97's covered positions by construction
    // (spec-pinned), same vocabulary-sized df aggregate, no pair space
    QuerySpec("q214_span_cut", (s, dir) => TextOps.spanCutClean(s, dir),
      // q97's covered-position derivation; kept tokens re-aggregated in
      // position order and digested
      Sql(TextOps.spanCutCleanOracleSql), Sink),

    // PER-REGISTRABLE-DOMAIN QUOTA: q213's cap keyed on the eTLD+1 of a
    // full URL (deterministically synthesized — the corpus has no URL
    // column; the oracle replays the synthesis), so one hot site across
    // www./news./cdn. subdomains is still ONE domain budget; same bounded
    // k-heap shuffle contract
    QuerySpec("q216_url_domain_quota", (s, dir) =>
      TextOps.urlDomainQuota(Tables.documents(s, dir)),
      // identical URL synthesis + eTLD+1 rule (shared suffix list) + ranked
      // window over the same 52-bit md5 key
      Sql(TextOps.urlDomainQuotaOracleSql())),

    // FULL-PSL DOMAIN QUOTA: q216's quota under the complete Public-Suffix-
    // List algorithm — wildcard (`*.ck`) and exception (`!www.ck`) rules
    // plus the implicit `*` default, compiled from the classpath rule FILE
    // into a zero-shuffle codegen'd when-chain; apex-suffix hosts (no
    // registrable domain) are dropped, the crawl-frontier discipline
    QuerySpec("q218_psl_domain_quota", (s, dir) =>
      TextOps.urlDomainQuotaPsl(Tables.documents(s, dir)),
      // identical URL synthesis + the SAME parsed PSL rules interpolated into
      // a SQL replica of the precedence order (exception > longest > default)
      Sql(TextOps.urlDomainQuotaPslOracleSql())),

    // STREAMING DOMAIN QUOTA: q213's cap as keyed streaming state — a real
    // AvailableNow lifecycle whose bounded per-domain heap (cap ids + one
    // monotone counter) ends hash-identical to the batch quota; the
    // batch-vs-streaming asymmetry of the LLM-prep quota family closed
    QuerySpec("q219_stream_domain_quota", (s, dir) =>
      graft.streaming.StreamingOps.domainQuotaStreamParity(s, dir),
      // q219's oracle IS the batch q213 rule: the streaming bounded-heap
      // state must end exactly where the batch ranking ends
      Sql(TextOps.domainQuotaOracleSql())),

    // STREAMING SPAN-CUT: q214's cleaner as corpus ingestion — per-batch
    // cleaning against the standing duplicated-shingle index MV
    // (vocabulary-sized, the crawl pipeline's persisted state); identical
    // to the batch cleaner under any batch split, no state store
    QuerySpec("q220_stream_span_cut", (s, dir) =>
      graft.streaming.StreamingOps.spanCutStreamParity(s, dir),
      // q220's oracle IS q214's batch SQL: per-document cleaning against the
      // full-corpus index makes the stream emission batch-identical
      Sql(TextOps.spanCutCleanOracleSql), Sink),

    // INCREMENTAL INDEX MAINTENANCE: the q220 standing span-cut index
    // refreshed at delta cost — per-batch shingle dfs are additive under
    // the whole-document CDC grain; oracle = the full-corpus rebuild
    QuerySpec("q221_shingle_df_incremental", (s, dir) =>
      TextOps.shingleDfIncrementalParity(s, dir),
      // q221's oracle is the FULL REBUILD of the shingle-df relation
      Sql(TextOps.shingleDfIncrementalOracleSql)),

    // BENCHMARK DECONTAMINATION: the eval-leak REMOVAL step — q214's
    // span-cut machinery probed with the held-out benchmark source's
    // shingles (q65 measures the leakage; this cuts it out of the kept
    // text); benchmark side is distinct-aggregated then broadcast
    QuerySpec("q222_benchmark_decontam", (s, dir) =>
      TextOps.benchmarkDecontam(s, dir),
      // q214's covered-position derivation, cut set = the benchmark source's
      // distinct shingles, population = the other sources
      Sql(TextOps.benchmarkDecontamOracleSql()), Sink),

    // TOKEN-BUDGET SELECTION: quality-ranked corpus prefix under a global
    // token budget — the q83 two-phase distributed prefix sum over the
    // (rounded score desc, doc_id) range partitioning, never a
    // single-partition window
    QuerySpec("q223_token_budget_select", (s, dir) =>
      TextOps.tokenBudgetSelectFrom(Tables.documents(s, dir), 8000L),
      // the q31 score formula + a window cumsum over (score desc, doc_id),
      // exclusive-prefix cut at the budget
      Sql(TextOps.tokenBudgetSelectOracleSql(8000L))),

    // LEAKAGE-SAFE SPLIT: train/val/test assignment keyed on the near-dup
    // CLUSTER REP (q74's relation) so no duplicate cluster straddles the
    // train/test boundary; singletons degenerate to the q59 per-doc rule
    QuerySpec("q224_leak_safe_split", (s, dir) =>
      TextOps.leakSafeSplit(s, dir, 0.5),
      // the q74 recursive-CTE cluster closure + the q59 md5-bucket rule on
      // coalesce(cluster_rep, doc_id)
      Sql(TextOps.leakSafeSplitOracleSql(MinhashPairsCtes))),

    // MIXTURE-BUDGET EXECUTION: q89's temperature-scaled weights turned
    // into per-source token budgets (integer micro-weight arithmetic),
    // each source selected by the q223 quality-ranked exclusive-prefix
    // rule via the SEGMENTED two-phase prefix sum — never a per-source
    // window
    QuerySpec("q225_mixture_budget_select", (s, dir) =>
      TextOps.mixtureBudgetSelectFrom(Tables.documents(s, dir), 8000L),
      // the q89 weight chain → integer per-source budgets, the q31 score
      // formula, per-source window cumsum, exclusive-prefix cut per budget
      Sql(TextOps.mixtureBudgetSelectOracleSql(8000L))),

    // CHUNK-LEVEL DEDUP CLEANER: q92's content-defined chunks turned from
    // census into cleaning — per doc, drop every chunk whose digest occurs
    // in more than dfLimit documents, reassemble the survivors in order
    // (q214's cleaner contract at CDC granularity)
    QuerySpec("q226_chunk_dedup_clean", (s, dir) =>
      TextOps.chunkDedupCleanFrom(Tables.documents(s, dir), 1L),
      // q92's chunking CTE + digest df + ordered kept-chunk reassembly
      Sql(TextOps.chunkDedupCleanOracleSql(1L)), Sink),

    // STREAMING MIXTURE-BUDGET ADMISSION: q225's per-source token budgets
    // as keyed streaming state — the admitted set is maintained by
    // insert-then-retrim (a displaced doc is out FOREVER because exclusive
    // prefixes only grow), so the final state equals the batch selection
    // under any arrival order; budgets decided offline, admission online
    QuerySpec("q227_stream_mixture_budget", (s, dir) =>
      graft.streaming.StreamingOps.mixtureBudgetStreamParity(s, dir, 8000L),
      // the streaming admission ends state-identical to the batch selection,
      // so the oracle IS q225's batch SQL verbatim
      Sql(TextOps.mixtureBudgetSelectOracleSql(8000L))),

    // SHARD NOVELTY CURVE: per ingestion shard, distinct vs FIRST-SEEN
    // shingles + running vocabulary — the diminishing-returns curve that
    // tells a crawl when more data stops adding content; two
    // vocabulary-keyed aggregates, window only over the nShards-row result
    QuerySpec("q228_novelty_curve", (s, dir) =>
      TextOps.noveltyCurveFrom(Tables.documents(s, dir), 10),
      // q75's shingle CTEs + the q59 md5-bucket shard rule, min-shard
      // first-occurrence, cumulative window over the 10-row shard axis
      Sql(TextOps.noveltyCurveOracleSql(10)), Sink),

    // STREAMING BENCHMARK DECONTAMINATION: q222's eval-leak removal at
    // ingestion — per-batch span-cut against the standing benchmark
    // cut-set MV (q220's probe-the-index shape, benchmark-sized index);
    // identical to the batch cleaner under any batch split, no state store
    QuerySpec("q230_stream_decontam", (s, dir) =>
      graft.streaming.StreamingOps.decontamStreamParity(s, dir),
      // the streaming decontamination emission is batch-identical given the
      // standing cut set, so the oracle IS q222's batch SQL verbatim
      Sql(TextOps.benchmarkDecontamOracleSql()), Sink),

    // FULL-PSL + IDN DOMAIN QUOTA: q218 upgraded from the 35-line subset
    // to the complete published ~9.5k-rule Public Suffix List, with hosts
    // lowercased + punycoded (IdnAscii) before matching — 4-label rules,
    // two wildcard families with exception carve-outs, Unicode TLDs and
    // labels, the implicit-* default, and apex-suffix drops all exercised
    QuerySpec("q231_psl_full_domain_quota", (s, dir) =>
      TextOps.urlDomainQuotaPslFull(Tables.documents(s, dir)),
      // identical synthesis with A-label literals pre-converted by the same
      // IDNA routine, the full rule set as a VALUES relation, PSL precedence
      // stated relationally (exception ≻ longest effective match ≻ implicit *)
      Sql(TextOps.urlDomainQuotaPslFullOracleSql())),

    // BUCKETED-BASE SHINGLE-DF MERGE: q221's contract with the standing
    // index persisted bucketed+sorted on sg — base side exchange-free
    QuerySpec("q233_shingle_df_bucketed", (s, dir) =>
      TextOps.shingleDfIncrementalParityBucketed(s, dir),
      // q221's full-rebuild oracle verbatim
      Sql(TextOps.shingleDfIncrementalOracleSql)),

    // MULTI-BENCHMARK DECONTAMINATION: q222's span cut with the cut set
    // widened to a TAGGED union of N benchmark sources probed in one pass,
    // each doc's cut attributed per benchmark (benches_hit audit column)
    QuerySpec("q235_multibench_decontam", (s, dir) =>
      TextOps.multiBenchDecontam(s, dir),
      // q222's derivation widened to the tagged multi-benchmark cut set,
      // plus the per-benchmark covered-position audit — the benchmark list
      // is interpolated from the same pinned constant the engine call uses
      Sql(TextOps.multiBenchDecontamOracleSql()), Sink),

    // STREAMING MULTI-BENCHMARK DECONTAMINATION: q235's tagged one-pass
    // probe + per-benchmark audit run per arriving micro-batch against the
    // standing tagged cut-set MV — emitted relation ≡ batch q235 under any
    // batching (per-document cleaning), oracle verbatim
    QuerySpec("q239_stream_multibench_decontam", (s, dir) =>
      graft.streaming.StreamingOps.multiBenchDecontamStreamParity(s, dir),
      // the stream twin contracts to the identical batch relation: cleaning
      // and audit are per-document given the standing tagged cut set
      Sql(TextOps.multiBenchDecontamOracleSql()), Sink),

    // MIN-RUN SPAN CUT: q214's cleaner cutting only maximal covered runs
    // of >= SpanCutMinRunTokens positions (Lee et al. 2022 cut runs >= 50
    // tokens) — incidental shared trigrams are kept, duplicated passages
    // still cut; probes the same standing dup-shingle MV as q214/q220
    QuerySpec("q243_span_cut_min_run", (s, dir) =>
      TextOps.spanCutCleanRunsAgainst(Tables.documents(s, dir),
        TextOps.dupShinglesMV(s, dir), TextOps.SpanCutMinRunTokens)
        .orderBy("doc_id"),
      // q243: q214's replay with the covered positions merged into maximal
      // islands (gaps-and-islands) and only runs >= the pinned threshold cut
      Sql(TextOps.spanCutMinRunOracleSql()))
  )
}
