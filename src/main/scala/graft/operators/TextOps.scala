package graft.operators

import graft.functions.Fx._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale text-pipeline operators over `documents` (the LLM-training-data
  * extension surface from BASELINE.json's north star): exact + near dedup,
  * MinHash/LSH, SimHash, n-gram Jaccard, language ID, quality scoring, token
  * counting, document fingerprinting.
  *
  * Scale design: every operator is expressed as narrow transforms + hash
  * aggregations. The only quadratic-looking step — candidate-pair generation —
  * is always bounded by a bucketing key (LSH band, SimHash chunk, or an
  * explicit corpus bucket), never a full cross join: at 100 TB the pair space
  * must come from equi-joins on short keys so the shuffle stays proportional
  * to data size, not to its square.
  */
object TextOps {

  /** Canonical normalization: lowercase, non-alphanumerics → single space, trim.
    * (Kept regex-simple so the DuckDB oracle states the identical transform.)
    */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** 3-word shingles (empty array below 3 tokens). */
  def shingles(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** doc_id + exploded DISTINCT shingle set (the base relation for Jaccard,
    * MinHash, and any set-similarity op).
    */
  def shingleSet(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
        // bind the token array to an attribute BEFORE shingling: transform()
        // is interpreted, and a lambda referencing the raw split(regexp(...))
        // expression re-runs the regexp per element access (~3× per shingle)
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), col("source"),
        explode(shingles(col("toks"))).as("sg"))
      .distinct()

  /** Exact-hash dedup profile per source: md5 groups (SURVEY extension;
    * groupBy on a 128-bit digest scales to any corpus size).
    */
  def dedupExactProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"))
      .select(col("source"), col("n_docs"), col("n_unique"),
        (col("n_docs") - col("n_unique")).as("n_dups"))
      .orderBy("source")

  /** Normalized ("fuzzy-exact") dedup per lang: same corpus hashed after
    * canonical normalization.
    */
  def dedupNormalizedProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(normText(col("text")))).as("n_norm_unique"))
      .orderBy("lang")

  /** Dedup with a keep-best policy: among exact duplicates keep the row with
    * the highest `scoreCol` (doc_id ascending breaks ties) — the production
    * shape where the survivor is chosen by quality, not arrival order. Still
    * one hash aggregation: max over (score, -doc_id, payload) structs.
    */
  def dedupKeepBest(docs: DataFrame, scoreCol: String): DataFrame =
    docs.withColumn("__h", md5(col("text")))
      .withColumn("__ranked",
        struct(col(scoreCol).as("s"), (-col("doc_id")).as("negId"), struct(docs.columns.map(col): _*).as("row")))
      .groupBy("__h").agg(max(col("__ranked")).getField("row").as("row"))
      .select(col("row.*"))

  /** n-gram Jaccard near-dup top-k pairs within (lang, source) corpus
    * buckets: explode distinct shingles, equi-join on (bucket, shingle),
    * count intersections, Jaccard = |∩| / (|A| + |B| - |∩|).
    *
    * Runs on exact-dup cluster representatives (bucketed key — see
    * `dedupBase`): rep-level Jaccard is computed for every shingle-sharing
    * rep pair, a top-k cutoff (k-th highest score, ties kept — every rep
    * pair ABOVE the cutoff beats any pair below it regardless of ids, so the
    * kept set is a superset of the true top-k) bounds the expansion, then
    * member expansion + intra-cluster 1.0 pairs + one TakeOrdered produce
    * EXACTLY the raw per-doc algorithm's top-k.
    */
  def jaccardPairs(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val base = dedupBase(spark, dir, bucketed = true)
    val sh = base.repSh
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.select(col("lang"), col("source"), col("sg"), col("doc_id").as("doc_a"))
    val b = sh.select(col("lang"), col("source"), col("sg"), col("doc_id").as("doc_b"))
    val inter = a.join(b, Seq("lang", "source", "sg"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val repPairs = inter
      .join(cnt.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(cnt.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        rd(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      // consumed twice (cutoff + expansion): materialize the pair-stats
      // relation once instead of re-running the shingle joins
      .cache()
    // k-th highest rep score via TakeOrdered (no global sort); >= keeps ties
    val cut = repPairs.orderBy(col("jaccard").desc).limit(k)
      .agg(min(col("jaccard")).as("jcut"))
    val topReps = repPairs.join(broadcast(cut), col("jaccard") >= col("jcut")).drop("jcut")
    val cross = topReps
      .join(base.withRep.select(col("rep").as("doc_a"), col("doc_id").as("da")), "doc_a")
      .join(base.withRep.select(col("rep").as("doc_b"), col("doc_id").as("db")), "doc_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    val shingled = sh.select(col("doc_id").as("rep")).distinct()
    val intraMem = base.withRep.join(shingled, "rep").select(col("ck"), col("doc_id"))
    val intra = intraMem.as("x").join(intraMem.as("y"), "ck")
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as("jaccard"))
    cross.union(intra)
      .orderBy(col("jaccard").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(k)
  }

  // visible to graft (not private): TextQueries' MinhashPairsCtes oracle
  // interpolates the SAME structural knobs, so engine and oracle cannot
  // drift apart silently (the q234/q237 knob-pinning discipline)
  private[graft] val NumPerms = 32
  private[graft] val BandRows = 4
  private[graft] val NumBands = NumPerms / BandRows // 8

  /** Double-hashing MinHash core: from per-shingle base-hash pairs,
    * permutation i's value is a + (i+1)·b (Kirsch–Mitzenmacher) — base
    * hashes per shingle instead of NumPerms hash computations. Callers bound
    * a < 2^60 and b < 2^32 so every derived value stays < 2^61: no long
    * overflow under ANSI mode, and the identical arithmetic is expressible in
    * any SQL engine. One wide hash-aggregation (32 long min-buffers, map-side
    * combined); no row explosion, no second shuffle.
    *
    * FOUR independent base-hash pairs (round-16 — VERDICT r15 item 2):
    * under a single (a, b) pair every permutation is affine in the SAME
    * hash, so one "super-winner" shingle (smallest a with small b) wins
    * ALL 32 minima at once — measured at r15 as a 3.7% candidate-recall
    * gap vs the independence expectation, every miss a containment pair
    * (DEDUP_QUALITY.md). The 32 permutations now split across 4
    * independent (a, b) families of 8 (2 bands each): a containment miss
    * must win every family independently, P ≈ 1/|A|⁴ — BELOW the
    * independence-expectation miss floor for any |A| ≥ 6 (a 2-family
    * interim build measured 0.996; the residual tail was still the
    * systematic containment mode, so the split went to 4) — at 4 base
    * hashes per shingle, still ≪ 32.
    */
  private[graft] val NumFamilies = 4
  private[graft] val PermsPerFamily = NumPerms / NumFamilies // 8 (2 bands each)
  /** Portable-path salt of family f: md5(md5Salt(f) || sg) — shared with
    * the oracle CTEs so the salt rule is pinned once. */
  private[graft] def md5Salt(f: Int): String = "~" * f
  /** Column names of family f's base-hash pair ("a"/"b", "a2"/"b2", ...). */
  private[graft] def famCols(f: Int): (String, String) =
    (if (f == 0) "a" else s"a${f + 1}", if (f == 0) "b" else s"b${f + 1}")
  private[graft] def minHashWide(ab: DataFrame): DataFrame = {
    val mins = (0 until NumPerms).map { i =>
      val (an, bn) = famCols(i / PermsPerFamily)
      val j = i % PermsPerFamily
      min(col(an) + lit((j + 1).toLong) * col(bn)).as(s"mh_$i")
    }
    ab.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** (band, bucket) rows from the wide signature, `hashFn` combining each
    * band's 4 permutation minima into its bucket key.
    */
  private def bandsFromWide(sig: DataFrame, hashFn: Seq[Column] => Column): DataFrame =
    sig.select(col("doc_id"),
      posexplode(array((0 until NumBands).map { bnd =>
        hashFn((0 until BandRows).map(r => col(s"mh_${bnd * BandRows + r}")))
      }: _*)).as(Seq("band", "bucket")))

  /** A MinHash hash family: family f's base-hash pair (a, b) of one shingle,
    * a < 2^60 and b < 2^32. One definition serves both the exploded form
    * (over an `sg` column) and the per-row form (inside an array lambda), so
    * the two signatures cannot drift apart.
    */
  private[graft] type HashFamily = (Int, Column) => (Column, Column)

  /** Fast path: 2·NumFamilies seeded xxhash64 calls per shingle (family f
    * seeds 2f / 2f+1; family 0's `a` stays the unseeded hash), masked to the
    * overflow-safe ranges of the double-hashing scheme.
    */
  private[graft] val xxhashFamily: HashFamily = (f, sg) => (
    (if (f == 0) xxhash64(sg) else xxhash64(lit(2 * f), sg)).bitwiseAND(lit((1L << 60) - 1)),
    xxhash64(lit(2 * f + 1), sg).bitwiseAND(lit((1L << 32) - 1)))

  /** Portable path: family f from the independent salted md5("~"·f || sg)
    * (a = first 15 hex chars = 60 bits, b = next 8 = 32 bits) — `conv` here
    * ≡ `CAST('0x'||substr(...) AS BIGINT)` in DuckDB, so the whole signature
    * is cross-engine-checkable.
    */
  private[graft] val md5Family: HashFamily = (f, sg) => {
    val h = if (f == 0) md5(sg) else md5(concat(lit(md5Salt(f)), sg))
    (conv(substring(h, 1, 15), 16, 10).cast("long"),
      conv(substring(h, 16, 8), 16, 10).cast("long"))
  }

  /** Per-shingle base-hash pair columns (a, b, a2, b2, ...) of `family`
    * over an exploded (doc_id, sg) relation. */
  private def hashPairs(sh: DataFrame, family: HashFamily): DataFrame =
    sh.select(col("doc_id") +: (0 until NumFamilies).flatMap { f =>
      val (an, bn) = famCols(f)
      val (a, b) = family(f, col("sg"))
      Seq(a.as(an), b.as(bn))
    }: _*)

  private def xxhashAB(sh: DataFrame): DataFrame = hashPairs(sh, xxhashFamily)
  private[graft] def md5AB(sh: DataFrame): DataFrame = hashPairs(sh, md5Family)

  /** MinHash signatures: one row per doc with `minhash` array(32), xxhash64
    * double-hashing family.
    */
  def minHashSignatures(sh: DataFrame): DataFrame =
    minHashWide(xxhashAB(sh))
      .select(col("doc_id"), array((0 until NumPerms).map(i => col(s"mh_$i")): _*).as("minhash"))

  /** Per-ROW MinHash signature as pure array expressions — the same
    * double-hashing scheme as the exploded `minHashWide` aggregation under
    * the same `family` (spec-pinned equal for both families), computed
    * inside a single projection: no explode, no aggregation, no shuffle.
    * An empty array has no signature (null): filter `size > 0` first.
    *
    * Each family hashes the array once and folds all its permutation minima
    * in one pass. Lambda expressions are interpreted and never shared
    * between columns, so a separate `array_min(transform(...))` per
    * permutation would re-hash every shingle once per permutation.
    */
  def minHashSignatureFromShingles(sgs: Column, family: HashFamily): Column =
    when(size(sgs) > 0, concat((0 until NumFamilies).map { f =>
      val pairs = transform(sgs, s => {
        val (a, b) = family(f, s)
        struct(a.as("a"), b.as("b"))
      })
      aggregate(pairs, array_repeat(lit(Long.MaxValue), PermsPerFamily),
        (mins, p) => transform(mins, (m, j) =>
          least(m, p.getField("a") + (j + 1).cast("long") * p.getField("b"))))
    }: _*))

  /** Exact-duplicate collapse shared by the LSH near-dup family: identical
    * normalized text ⇒ identical shingle set ⇒ identical MinHash signature,
    * so LSH only ever needs ONE representative per exact-dup cluster.
    * Collapsing first makes the candidate pair space scale with the number
    * of DISTINCT texts: on a dup-heavy corpus (every web crawl) banding over
    * raw doc ids is quadratic inside each cluster — the 10× sweep corpus
    * (10-member clusters) produced 21.4M candidate pairs raw vs ~214k
    * collapsed, and the verified pairs expand back afterwards in time linear
    * in OUTPUT size. Returns (memberships doc_id→(ck, rep), rep shingle set),
    * both cached once per (session, dir).
    */
  private case class DedupBase(withRep: DataFrame, repSh: DataFrame)
  // keyed by the stable sessionUUID (an identity hash could be reused by a
  // later session after GC and serve DataFrames bound to a stopped one)
  private val dedupBaseCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Boolean), DedupBase]

  /** `bucketed = false`: clusters keyed by normalized text alone (the MinHash
    * family bands corpus-wide). `bucketed = true`: the key also carries
    * (lang, source) — for operators whose pair space is bucketed by them
    * (q27's Jaccard), where identical texts in different buckets must NOT
    * collapse into one cluster.
    */
  private def dedupBaseFrom(docs: DataFrame, bucketed: Boolean): DedupBase = {
    val withRep = repsOf(docs, bucketed).cache()
    DedupBase(withRep, shingleSet(repRows(docs, withRep)).cache())
  }

  /** The exact-dup collapse itself, uncached: (doc_id, ck, rep) for every
    * doc — rep is the smallest doc_id sharing its key `ck`. */
  private def repsOf(docs: DataFrame, bucketed: Boolean): DataFrame = {
    val key = if (bucketed)
      concat_ws("|", md5(normText(col("text"))), col("lang"), col("source"))
    else md5(normText(col("text")))
    val mem = docs.select(col("doc_id"), key.as("ck"))
    mem.join(mem.groupBy("ck").agg(min("doc_id").as("rep")), "ck")
  }

  /** The rep docs' own rows of `docs`, selected from `repsOf(docs)`. */
  private def repRows(docs: DataFrame, withRep: DataFrame): DataFrame =
    docs.join(withRep.filter(col("doc_id") === col("rep")).select("doc_id"),
      Seq("doc_id"), "left_semi")

  private def dedupBase(spark: SparkSession, dir: String,
                        bucketed: Boolean = false): DedupBase =
    dedupBaseCache.getOrElseUpdate((Tables.sessionUuid(spark), dir, bucketed),
      dedupBaseFrom(Tables.documents(spark, dir), bucketed))

  /** MinHash + LSH banding near-dup pairs, verified with exact Jaccard.
    * 8 bands × 4 rows: representatives sharing any band bucket become
    * candidate pairs (equi-join on the band key — candidate count tracks true
    * similarity among DISTINCT texts, never corpus²), candidates are verified
    * against the exact shingle sets, then rep pairs expand to all member doc
    * pairs and intra-cluster pairs join at Jaccard 1.0. Output is EXACTLY the
    * raw-per-doc algorithm's (identical docs collide in every band), in time
    * linear in distinct-text structure + output size.
    */
  def minHashLshPairs(spark: SparkSession, dir: String, threshold: Double): DataFrame =
    lshNearDupPairs(spark, dir, "xxhash64", xxhashAB, cols => xxhash64(cols: _*), threshold)

  /** md5-based MinHash twin with identical structure — the base hash and the
    * permutation arithmetic are portable SQL, so the WHOLE pipeline
    * (signatures → banding → candidates → exact-Jaccard verify → cluster
    * expansion) is value-checkable against a DuckDB oracle that runs the
    * raw-per-doc algorithm. xxhash64 (`minHashLshPairs`) stays the fast path.
    */
  def minHashLshPairsPortable(spark: SparkSession, dir: String, threshold: Double): DataFrame =
    lshNearDupPairs(spark, dir, "md5", md5AB,
      cols => md5(concat_ws("|", cols.map(_.cast("string")): _*)), threshold)

  /** MEASURED LSH candidate quality (round-15 — VERDICT r14 item 7a): the
    * approximate-duplicate RANKING property pinned numerically. For the
    * registered 32-perm / 8-band / 4-row xxhash64 family, per threshold τ:
    *   - ground truth = ALL rep pairs with exact Jaccard ≥ τ (computed
    *     all-pairs via the shingle equi-join — no banding, no blocking);
    *   - candidates = the raw band-collision pair set (PRE-verify: the
    *     pipeline's exact-Jaccard verify stage makes final precision 1.0
    *     by construction, so the quality question is candidate recall);
    *   - expected_recall = mean over true pairs of 1 − (1 − J^rows)^bands —
    *     the S-curve the banding theory promises at each pair's exact J.
    * Emits one row per τ: (tau, n_true, n_hit, n_candidates, recall,
    * candidate_precision, expected_recall). Committed as the measured
    * curve in DEDUP_QUALITY.md; bounds spec-pinned in TextOpsSpec.
    *
    * Scale shape: truth is gate-tool machinery (all-pairs over the shingle
    * join is rep-bounded at gate SF and exists to MEASURE the index, not
    * to run in production — production runs the banded path this measures);
    * the candidate set and per-τ aggregates are the production-shaped side.
    */
  def lshCandidateQuality(spark: SparkSession, dir: String,
                          taus: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9))
      : DataFrame = {
    if (taus.isEmpty) {
      // preserve the pre-single-pass contract: an empty τ list is an empty
      // curve, not an empty-reduce crash in the bucket construction below
      import spark.implicits._
      return Seq.empty[(Double, Long, Long, Long, Double, Double, Double)]
        .toDF("tau", "n_true", "n_hit", "n_candidates", "recall",
          "candidate_precision", "expected_recall")
    }
    val base = dedupBase(spark, dir)
    val sh = base.repSh
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val truth = sh.select(col("sg"), col("doc_id").as("doc_a"))
      .join(sh.select(col("sg"), col("doc_id").as("doc_b")), Seq("sg"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("j"))
    // ONE signature derivation (VERDICT r15 item 5): the banded candidate
    // set is checkpointed, so the 32-perm signature job runs exactly once —
    // the candidate count and the curve below both read the materialization
    val cand = bandCandidates(
      bandsFromWide(minHashWide(xxhashAB(sh)), cols => xxhash64(cols: _*)))
      .withColumn("hit", lit(1L))
      .localCheckpoint(true)
    val nCand = cand.count()
    val ts = taus.sorted
    // the per-τ loop folded into ONE aggregation: each true pair lands in
    // its FINEST τ-interval bucket (largest τ ≤ j), and the ≥-τ curve is the
    // suffix-cumulation of the |taus| bucket rows on the driver
    val desc = ts.reverse
    val bucket = desc.tail
      .foldLeft(when(col("j") >= desc.head, lit(desc.head)))(
        (w, t) => w.when(col("j") >= t, lit(t)))
      .otherwise(lit(-1.0))
    val byBucket = truth.filter(col("j") >= ts.min)
      .join(cand, Seq("doc_a", "doc_b"), "left")
      .select(bucket.as("tb"), coalesce(col("hit"), lit(0L)).as("hit"),
        (lit(1.0) - pow(lit(1.0) - pow(col("j"), lit(BandRows.toDouble)),
          lit(NumBands.toDouble))).as("er"))
      .groupBy("tb")
      .agg(count(lit(1)).as("n"), sum(col("hit")).as("h"), sum(col("er")).as("se"))
      .collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val rows = ts.map { tau =>
      val above = byBucket.filter(_._1 >= tau).values
      val nTrue = above.map(_._1).sum
      val nHit = above.map(_._2).sum
      val eRec = if (nTrue == 0) 0.0 else above.map(_._3).sum / nTrue
      (tau, nTrue, nHit, nCand,
        if (nTrue == 0) 1.0 else nHit.toDouble / nTrue,
        if (nCand == 0) 1.0 else nHit.toDouble / nCand,
        eRec)
    }
    import spark.implicits._
    rows.toDF("tau", "n_true", "n_hit", "n_candidates", "recall",
      "candidate_precision", "expected_recall")
  }

  /** The true pairs (exact Jaccard ≥ τ) MISSED by the banding — pair-level,
    * with set sizes, so the DEDUP_QUALITY.md contract is spec-checkable:
    * under the K-M double-hashing family every systematic miss is a
    * CONTAINMENT pair (inter = min(na, nb)); a non-containment miss would
    * mean the family is broken, not merely correlated. */
  def lshMissedPairs(spark: SparkSession, dir: String, tau: Double): DataFrame = {
    val sh = dedupBase(spark, dir).repSh
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val truth = sh.select(col("sg"), col("doc_id").as("doc_a"))
      .join(sh.select(col("sg"), col("doc_id").as("doc_b")), Seq("sg"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"), col("nb"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("j"))
      .filter(col("j") >= tau)
    val cand = bandCandidates(
      bandsFromWide(minHashWide(xxhashAB(sh)), cols => xxhash64(cols: _*)))
      .withColumn("hit", lit(1L))
    truth.join(cand, Seq("doc_a", "doc_b"), "left")
      .filter(col("hit").isNull).drop("hit")
      .orderBy(col("j").desc, col("doc_a"))
  }

  /** Verified rep-level near-dup pairs, memoized per (session, dir, hash
    * family, threshold): the signature → band → candidate → exact-verify
    * pipeline is deterministic and idempotent for a given corpus, so a
    * session computes it once and every consumer (the pair listings q28/q49,
    * cluster canonicalization q74) reuses the materialized relation — the
    * same shared-relation contract as `dedupBase`. The cached relation is
    * OUTPUT-sized (verified pairs above threshold), so its memory cost is
    * bounded by the answer, not the corpus.
    */
  private val repPairsCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String, Double), DataFrame]
  private def verifiedRepPairs(spark: SparkSession, dir: String, family: String,
                               abOf: DataFrame => DataFrame,
                               bucketHash: Seq[Column] => Column,
                               threshold: Double): DataFrame =
    repPairsCache.getOrElseUpdate((Tables.sessionUuid(spark), dir, family, threshold), {
      val base = dedupBase(spark, dir)
      verifyCandidatePairs(base.repSh,
        bandCandidates(bandsFromWide(minHashWide(abOf(base.repSh)), bucketHash)),
        threshold).cache()
    })

  private def lshNearDupPairs(spark: SparkSession, dir: String,
                              family: String,
                              abOf: DataFrame => DataFrame,
                              bucketHash: Seq[Column] => Column,
                              threshold: Double): DataFrame = {
    val base = dedupBase(spark, dir)
    val repPairs = verifiedRepPairs(spark, dir, family, abOf, bucketHash, threshold)
    // cross-cluster pairs: every member×member combination of a verified rep
    // pair shares its Jaccard (identical shingle sets per cluster)
    val cross = repPairs
      .join(base.withRep.select(col("rep").as("doc_a"), col("doc_id").as("da")), "doc_a")
      .join(base.withRep.select(col("rep").as("doc_b"), col("doc_id").as("db")), "doc_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    // intra-cluster pairs: exact dups are Jaccard 1.0 — but only clusters
    // whose text yields ≥1 shingle ever band-collide in the raw algorithm
    // (< 3 tokens ⇒ no signature ⇒ no candidates), so mirror that exactly
    val shingled = base.repSh.select(col("doc_id").as("rep")).distinct()
    val intraMem = base.withRep.join(shingled, "rep").select(col("ck"), col("doc_id"))
    val intra = intraMem.as("x").join(intraMem.as("y"), "ck")
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as("jaccard"))
    cross.union(intra)
      .orderBy(col("jaccard").desc, col("doc_a").asc, col("doc_b").asc)
  }

  private def md5Bucket: Seq[Column] => Column =
    cols => md5(concat_ws("|", cols.map(_.cast("string")): _*))

  /** Near-dup cluster canonicalization: connected components over the
    * verified near-dup pair graph — the step that turns a PAIR list into the
    * per-document cluster assignment a dedup pipeline actually consumes
    * (keep one representative per component, drop the rest). Output:
    * (doc_id, cluster_rep) for every doc in ≥1 near-dup pair, cluster_rep =
    * the smallest doc_id reachable through the pair graph, ordered by
    * (cluster_rep, doc_id).
    *
    * Scale design: components are computed on the COLLAPSED rep graph
    * (exact-dup clusters enter as one node) by [[ccMinLabel]] — min-label
    * propagation with path compression, each round a few equi-joins + one
    * hash aggregation, O(log n) rounds even on deep chains. Member
    * expansion afterwards is one join: a member's component is its rep's;
    * the component minimum over members equals the minimum over reps
    * because each rep IS its cluster's minimum. The driver-side loop holds
    * only the change COUNT per round, never data. Equivalent to CC over the
    * raw per-doc pair graph — the DuckDB oracle computes exactly that via a
    * recursive-CTE closure.
    *
    * This dir-level entry reads the session-memoized exploded pair relation
    * (`verifiedRepPairs`), which the q49 listing and the q224 split share.
    * Measured at sf0.1 (5,000 docs) on a 4-core container with `local[4]`,
    * `graft.Bench` (minimum of 3 passes after a warm-up pass): q74 takes
    * 1.9 s here against 6.4 s through `nearDupClustersFrom`'s per-row
    * arrays, and 1.7 s against 5.7 s after q49 in the same session. A
    * single cold call is about even (21.4 s here, 18.1 s there, JIT
    * warm-up included). Both entries return the same rows in the same
    * order (spec-pinned).
    */
  def nearDupClusters(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    val base = dedupBase(spark, dir)
    clustersOf(base.withRep, base.repSh.select(col("doc_id").as("rep")).distinct(),
      verifiedRepPairs(spark, dir, "md5", md5AB, md5Bucket, threshold)
        .select("doc_a", "doc_b"))
  }

  /** `nearDupClusters` over an already-transformed document relation, for
    * pipeline stages that build the clusters once: same rows, same order,
    * no per-dir memo.
    *
    * It pins two relations. One is the exact-dup membership (doc_id, ck,
    * rep): the rep selection and the member expansion in [[clustersOf]] both
    * read it. The other holds a row per shingled exact-dup rep with its
    * distinct shingle set as an array and its MinHash signature (the md5
    * family of `md5AB`, as per-row array expressions). The signature is
    * hashed once there: the band self-join reads it on both sides. Banding is
    * the shared `bandsFromWide` + `bandCandidates`, and verification reads
    * |A ∩ B| as `size(array_intersect)` of the two arrays — no exploded (doc,
    * shingle) relation, no aggregation over it, no (doc, shingle) joins.
    * Shingle-less reps are filtered out before banding: an empty array has a
    * null signature, and null band keys would put every such rep in one
    * bucket. The result reads both pins and the components' pin; a caller
    * that has materialized what it needs from it frees them with
    * `SqlShim.releaseLocalCheckpoint(result, docs)`. The dir-level
    * `nearDupClusters` stays on the memoized exploded pairs, which a
    * session's repeated calls reuse (measured there).
    */
  def nearDupClustersFrom(docs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0,
      "threshold must be positive: a pair sharing no shingle must never verify")
    val withRep = repsOf(docs, bucketed = false).localCheckpoint()
    // tokens are bound to an attribute first, as in `shingleSet`, and the
    // filter reads them, not the shingles: a filter on the shingle array is
    // pushed below both projections and re-runs the regexp per shingle. The
    // signatures are interpreted lambdas, so the rows are spread over every
    // core first (a one-file corpus would otherwise hash in a single task).
    val sets = repRows(docs, withRep).select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), array_distinct(shingles(col("toks"))).as("sgs"))
      .select(col("doc_id"), col("sgs"),
        minHashSignatureFromShingles(col("sgs"), md5Family).as("sig"))
      .localCheckpoint()
    val sig = sets.select(col("doc_id") +: (0 until NumPerms).map(i =>
      element_at(col("sig"), i + 1).as(s"mh_$i")): _*)
    val inter = size(array_intersect(col("sa"), col("sb")))
    val pairs = bandCandidates(bandsFromWide(sig, md5Bucket))
      .join(sets.select(col("doc_id").as("doc_a"), col("sgs").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sgs").as("sb")), "doc_b")
      .filter(rd(inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter), 6) >= threshold)
      .select("doc_a", "doc_b")
    clustersOf(withRep, sets.select(col("doc_id").as("rep")), pairs)
  }

  /** Connected components by min-label propagation with path compression.
    * Input: (u, v) pair rows, either orientation. Output: (id, label) for
    * every node present in the input, label = the smallest id reachable
    * through the pairs.
    *
    * The labels start at least(id, smallest neighbour id), one aggregation
    * over the edges: that is what a first round from identity labels
    * computes, since path compression through identity labels changes
    * nothing. Each round then runs one checkpoint, which also observes how
    * many labels shrank; the loop ends after a round in which none did.
    */
  private[graft] def ccMinLabel(pairs: DataFrame): DataFrame = {
    val p = pairs.toDF("src", "dst")
    val edges = p.union(p.select(col("dst"), col("src"))).cache()
    var labels = edges.groupBy("src").agg(min("dst").as("nb"))
      .select(col("src").as("id"), least(col("src"), col("nb")).as("label"))
      .localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val nbMin = edges.join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy("src").agg(min("label").as("nl"))
      // path compression: label(x) also shrinks through label(label(x)) —
      // every label IS a node id of the same component (invariant holds by
      // induction), so one extra equi-join halves remaining chain depth per
      // round and convergence is O(log n) rounds instead of O(diameter).
      // Same fixpoint: the component-minimum labeling.
      val parent = labels.select(col("id").as("label"), col("label").as("pl"))
      val nl2 = least(col("label"),
        coalesce(col("nl"), col("label")),
        coalesce(col("pl"), col("label")))
      val (next, shrank) = Tables.observedCount(
        labels
          .join(nbMin.select(col("src").as("id"), col("nl")), Seq("id"), "left")
          .join(parent, Seq("label"), "left")
          .select(col("id"), nl2.as("label"), (nl2 < col("label")).as("ch")),
        count(when(col("ch"), 1)).as("shrank"))
      // cut lineage: each round re-reads the previous round, not the chain,
      // and frees it once the next round is pinned
      val previous = labels
      labels = next.localCheckpoint().select(col("id"), col("label"))
      org.apache.spark.sql.graft.SqlShim.releaseLocalCheckpoint(previous)
      changed = shrank().getLong(0)
    }
    edges.unpersist()
    labels
  }

  /** Components of the verified rep pairs, expanded to members: `withRep`
    * maps every doc_id to its exact-dup rep (`nearDupClustersFrom` passes
    * it pinned, as both the multi-member clusters and the final expansion
    * read it), `shingled` lists the reps whose text has at least one
    * shingle. The components come from [[ccMinLabel]] over the rep pairs. */
  private def clustersOf(withRep: DataFrame, shingled: DataFrame,
                         repPairs: DataFrame): DataFrame = {
    val labels = ccMinLabel(repPairs)
    // expansion: members inherit their rep's component; exact-dup clusters
    // with >= 2 shingled members form an (intra) component even without any
    // verified cross pair — mirroring the raw graph, where identical docs
    // always pair at jaccard 1.0, and shingle-less texts never pair
    val multi = withRep.groupBy("rep").agg(count(lit(1)).as("m"))
      .filter(col("m") >= 2).join(shingled, "rep").select("rep")
    val allReps = labels.select(col("id").as("rep"), col("label"))
      .join(multi, Seq("rep"), "full_outer")
      .select(col("rep"), coalesce(col("label"), col("rep")).as("cluster_rep"))
    withRep.join(allReps, "rep")
      .select(col("doc_id"), col("cluster_rep"))
      .orderBy("cluster_rep", "doc_id")
  }

  /** Per-document shingle novelty: the fraction of a doc's distinct shingles
    * whose FIRST corpus occurrence (smallest doc_id) is this doc — the
    * diversity/novelty signal used to prefer documents contributing new
    * content over documents restating what the corpus already holds. Two
    * hash aggregations over the shared shingle relation; the (shingle →
    * first doc) relation is vocabulary-sized, never corpus².
    */
  def noveltyProfile(spark: SparkSession, dir: String): DataFrame = {
    // exact-dup collapse: a shingle's first doc is the smallest doc_id
    // containing it = the smallest cluster REP among clusters containing it
    // (every rep is its cluster's minimum member), so only reps can be
    // "first" and non-rep members always score 0 novel. The shingle scan
    // runs on the rep relation — vocabulary work scales with distinct
    // texts, not corpus size; members join back for their cluster's counts.
    val base = dedupBase(spark, dir)
    val sh = base.repSh.select(col("doc_id").as("rep"), col("sg"))
    val first = sh.groupBy("sg").agg(min("rep").as("first_rep"))
    val repStats = sh.join(first, "sg")
      .groupBy("rep")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_rep") === col("rep"), 1L).otherwise(0L)).as("n_novel_rep"))
    base.withRep.join(repStats, "rep")
      .select(col("doc_id"), col("n_shingles"),
        when(col("doc_id") === col("rep"), col("n_novel_rep")).otherwise(0L).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        rd(col("n_novel").cast("double") / col("n_shingles"), 6).as("novelty_ratio"))
      .orderBy("doc_id")
  }

  /** SHARD NOVELTY CURVE (q228) — the diminishing-returns diagnostic of a
    * crawl: per ingestion shard, how many DISTINCT shingles appear at all
    * vs how many appear for the FIRST time (no earlier shard contains
    * them), plus the running vocabulary size. The curve's flattening tail
    * is the "more crawl stops adding content" signal data-curation teams
    * read before paying for the next snapshot ([[noveltyProfile]] scores
    * individual documents; this scores the INGESTION BATCHES). Shards here
    * are the deterministic [[hashBucket]] assignment standing in for crawl
    * batch ids — the machinery is identical for any integer batch key, and
    * the md5 rule keeps both engines and every re-run in agreement.
    *
    * Scale shape: two vocabulary-keyed hash aggregates (per-shard distinct
    * presence, then min-shard per shingle) — work scales with distinct
    * (shard, shingle) pairs, never corpus²; the cumulative-vocabulary
    * window runs over the nShards-row result relation, not the corpus.
    */
  def noveltyCurveFrom(docs: DataFrame, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val sharded = docs.select(col("doc_id"),
      hashBucket(col("doc_id"), nShards).as("shard"))
    // distinct (shard, shingle) presence: a shingle counts once per shard
    // no matter how many of the shard's documents contain it
    val ss = shingleSet(docs)
      .join(sharded, "doc_id")
      .select(col("shard"), col("sg")).distinct()
    val first = ss.groupBy("sg").agg(min("shard").as("first_shard"))
    val perShard = ss.join(first, "sg")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_distinct_shingles"),
        sum(when(col("first_shard") === col("shard"), 1L).otherwise(0L))
          .as("n_new_shingles"))
    val census = sharded.groupBy("shard").agg(count(lit(1)).as("n_docs"))
    // the census is the base: a shard whose documents are all too short to
    // shingle still appears, with zero shingle counts and a NULL rate
    census.join(perShard, Seq("shard"), "left")
      .select(col("shard"), col("n_docs"),
        coalesce(col("n_distinct_shingles"), lit(0L)).as("n_distinct_shingles"),
        coalesce(col("n_new_shingles"), lit(0L)).as("n_new_shingles"))
      .withColumn("cum_vocabulary",
        // nShards rows total — this window sorts a handful of rows on one
        // task, never the corpus
        sum("n_new_shingles")
          .over(org.apache.spark.sql.expressions.Window.orderBy("shard"))
          .cast("long"))
      .withColumn("novelty_rate",
        rd(col("n_new_shingles").cast("double") /
          nullIfZero(col("n_distinct_shingles").cast("double")), 6))
      .orderBy("shard")
  }

  /** The q228 oracle: the q75 shingle CTEs + the q59 md5-bucket shard rule,
    * min-shard first-occurrence, window cumulative over the shard axis. */
  def noveltyCurveOracleSql(nShards: Int): String = s"""
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, string_split(norm, ' ') AS toks FROM d
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sg
  FROM t WHERE len(toks) >= 3
), sd AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % $nShards AS shard
  FROM documents
), ss AS (
  SELECT DISTINCT sd.shard, sh.sg FROM sh JOIN sd ON sh.doc_id = sd.doc_id
), f AS (
  SELECT sg, min(shard) AS first_shard FROM ss GROUP BY sg
), per AS (
  SELECT ss.shard,
         count(*) AS n_distinct_shingles,
         CAST(sum(CASE WHEN f.first_shard = ss.shard THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new_shingles
  FROM ss JOIN f ON ss.sg = f.sg GROUP BY ss.shard
), census AS (
  SELECT shard, count(*) AS n_docs FROM sd GROUP BY shard
)
SELECT c.shard, c.n_docs,
       COALESCE(p.n_distinct_shingles, 0) AS n_distinct_shingles,
       COALESCE(p.n_new_shingles, 0) AS n_new_shingles,
       CAST(sum(COALESCE(p.n_new_shingles, 0)) OVER (ORDER BY c.shard) AS BIGINT)
         AS cum_vocabulary,
       round(CAST(COALESCE(p.n_new_shingles, 0) AS DOUBLE)
             / nullif(CAST(COALESCE(p.n_distinct_shingles, 0) AS DOUBLE), 0), 6) + 0
         AS novelty_rate
FROM census c LEFT JOIN per p ON c.shard = p.shard
ORDER BY c.shard"""

  /** Incremental dedup: classify each document of a NEW batch against the
    * existing corpus as `exact_dup` (byte-identical text already present),
    * `near_dup` (shares shingles with some corpus doc at Jaccard ≥ threshold,
    * lang-bucketed like the rest of the near-dup family), or `novel` — the
    * production shape at 100 TB, where a daily increment is deduped against
    * the historical corpus WITHOUT re-deduping the corpus itself. Exact check
    * is a semi-join on the 128-bit digest; near check generates candidates
    * only from the (lang, shingle) equi-join (shuffle ∝ shared-shingle
    * volume, never |new|×|corpus|).
    */
  def incrementalDedup(spark: SparkSession, dir: String,
                       newSource: String, threshold: Double): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val newDocs = docs.filter(col("source") === newSource)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val corpusH = docs.filter(col("source") =!= newSource)
      .select(md5(col("text")).as("h")).distinct()
    val exactDup = newDocs.join(corpusH, Seq("h"), "left_semi")
      .select(col("doc_id")).withColumn("is_exact", lit(true))
    // near-dup check on exact-dup cluster reps, collapsed PER SIDE on
    // (lang, normalized text): Jaccard is a pure function of the two
    // normalized texts, so every member of a new-side cluster shares its
    // rep's best score and every corpus-side cluster contributes one
    // candidate row — the pair space scales with distinct texts on each
    // side, never members² (a dup-heavy crawl increment would otherwise
    // square inside the (lang, shingle) join)
    val side = when(col("source") === newSource, lit("new")).otherwise(lit("old"))
    val mem = docs.select(col("doc_id"), col("lang"), side.as("side"),
      md5(normText(col("text"))).as("nk"))
    // reps is referenced by THREE downstream consumers (withRep's join,
    // repSh's semi-join — itself read twice via a/b — and transitively
    // every broadcast build over them), and each unmaterialized reference
    // re-runs the md5(normText) corpus text pass inside its own job /
    // broadcast future (r20, guide §5: materialize multiply-referenced
    // intermediates). Checkpointing runs that pass ONCE; the relation is
    // one row per distinct (lang, side, text) — distinct-text-bounded, the
    // same bound dedupBase accepts. repSh deliberately stays lazy: its
    // explode pipelines into the (lang, sg) join and an eager cut was
    // measured slower.
    val reps = mem.groupBy("lang", "side", "nk").agg(min("doc_id").as("rep"))
      .localCheckpoint(true)
    val withRep = mem.join(reps, Seq("lang", "side", "nk"))
      .select(col("doc_id"), col("rep"), col("side"))
    val repSh = shingleSet(
      docs.join(reps.select(col("rep").as("doc_id")).distinct(), Seq("doc_id"), "left_semi"))
    val a = repSh.filter(col("source") === newSource)
      .select(col("lang"), col("doc_id").as("doc_a"), col("sg"))
    val b = repSh.filter(col("source") =!= newSource)
      .select(col("lang"), col("doc_id").as("doc_b"), col("sg"))
    val cnta = a.groupBy("doc_a").agg(count(lit(1)).as("na"))
    val cntb = b.groupBy("doc_b").agg(count(lit(1)).as("nb"))
    val bestRep = a.join(b, Seq("lang", "sg"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
      .join(cnta, "doc_a").join(cntb, "doc_b")
      .select(col("doc_a"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("j"))
      .groupBy("doc_a").agg(rd(max(col("j")), 6).as("best_jaccard"))
    val best = withRep.filter(col("side") === "new")
      .select(col("doc_id"), col("rep").as("doc_a"))
      .join(bestRep, "doc_a").select(col("doc_id"), col("best_jaccard"))
    newDocs.select(col("doc_id"))
      .join(exactDup, Seq("doc_id"), "left")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(coalesce(col("is_exact"), lit(false)), "exact_dup")
          .when(col("best_jaccard") >= threshold, "near_dup")
          .otherwise("novel").as("status"),
        col("best_jaccard"))
      .orderBy("doc_id")
  }

  /** Cross-document boilerplate signal (C4-style): per doc, the fraction of
    * its distinct shingles occurring in MORE than `dfLimit` documents —
    * navigation bars, footers, and license headers dominate a web crawl and
    * show up as high-document-frequency shingles. Document frequency is
    * computed on the collapsed rep relation weighted by cluster size (an
    * exact identity: the shingle relation is distinct per doc, and every
    * member of a cluster contains exactly its rep's shingles), so the
    * vocabulary aggregation scales with distinct texts.
    */
  def boilerplateProfile(spark: SparkSession, dir: String, dfLimit: Long = 2): DataFrame = {
    val base = dedupBase(spark, dir)
    val sizes = base.withRep.groupBy("rep").agg(count(lit(1)).as("m"))
    val sh = base.repSh.select(col("doc_id").as("rep"), col("sg"))
    val df = sh.join(sizes, "rep").groupBy("sg").agg(sum("m").as("df"))
    val perRep = sh.join(df, "sg").groupBy("rep").agg(
      count(lit(1)).as("n_shingles"),
      sum(when(col("df") > dfLimit, 1L).otherwise(0L)).as("n_common"))
    base.withRep.join(perRep, "rep")
      .select(col("doc_id"), col("n_shingles"), col("n_common"),
        rd(col("n_common").cast("double") / col("n_shingles"), 6).as("boilerplate_frac"))
      .orderBy("doc_id")
  }

  /** Distinct candidate pairs from any (doc_id, band, bucket) relation. */
  private def bandCandidates(bands: DataFrame): DataFrame =
    bands.as("x").join(bands.as("y"), Seq("band", "bucket"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

  /** Exact-Jaccard verification of candidate pairs against the shingle sets.
    * Intersection size via equi-join on (doc, shingle) both times: candidate
    * pairs expand to |shingles(a)| rows, then the (doc_b, sg) key joins only
    * the matching shingles — never the |A|×|B| cartesian per pair.
    *
    * Scoring reads from `inter` ALONE: a candidate pair absent from `inter`
    * shares zero shingles, has Jaccard 0, and can never clear a positive
    * threshold — so the zero-fill left-join back to `cand` is pure waste
    * (on a dup-heavy 10× corpus that join was a 21M×21M sort-merge plus a
    * full recompute of the un-cached candidate relation). Returns UNSORTED
    * scored pairs: callers order after any downstream expansion.
    */
  private def verifyCandidatePairs(sh: DataFrame, cand: DataFrame,
                                   threshold: Double): DataFrame = {
    require(threshold > 0,
      "threshold must be positive: zero-overlap candidate pairs are pruned, not scored")
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sg")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sg")), Seq("doc_b", "sg"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(cnt.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(cnt.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        rd(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash per doc: per distinct token, hash once; 64 signed bit
    * counters as plain aggregates (no row explosion); sign → bit. Single pass,
    * whole-stage-codegen friendly. Runs direct over every doc: computing
    * once per distinct text and joining members back was measured no faster
    * (two hash joins outweigh the hashing of ~200-char texts).
    */
  def simHash(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok")).distinct()
      .withColumn("h", xxhash64(col("tok")))
    val counters = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"s_$b")
    }
    val agg = tok.groupBy("doc_id").agg(counters.head, counters.tail: _*)
    val sim = (0 until 64).map { b =>
      when(col(s"s_$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("doc_id"), sim.as("simhash")).orderBy("doc_id")
  }

  /** Portable SimHash twin: 60-bit signature with the per-token hash drawn
    * from md5 (first 15 hex chars → 60 bits, the same `conv` ≡
    * `CAST('0x'||substr(...))` bridge as the portable MinHash) so the WHOLE
    * signature is value-checkable against a DuckDB oracle. xxhash64
    * (`simHash`) stays the fast path. Same shape: one distinct-token pass,
    * 60 signed bit counters as plain aggregates, sign → bit.
    */
  def simHashPortable(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok")).distinct()
      .withColumn("h", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val counters = (0 until 60).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"s_$b")
    }
    val agg = tok.groupBy("doc_id").agg(counters.head, counters.tail: _*)
    val sim = (0 until 60).map { b =>
      when(col(s"s_$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("doc_id"), sim.as("simhash")).orderBy("doc_id")
  }

  /** SimHash near-dup retrieval over the PORTABLE 60-bit signature, at
    * scale: 4×15-bit chunk banding on exact-dup cluster reps (identical
    * normalized text ⇒ identical token set ⇒ identical signature), verified
    * by bit_count(xor), then member expansion with intra-cluster pairs at
    * Hamming 0. For `maxHamming` ≤ 3 the banding is EXHAUSTIVE by
    * pigeonhole — ≤ 3 differing bits cannot touch all 4 chunks — so the
    * banded plan provably equals the all-pairs answer (which is exactly
    * what the DuckDB oracle computes), while candidate generation stays an
    * equi-join on (chunk, value) over distinct texts.
    */
  def simHashNearDups(spark: SparkSession, dir: String, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding is exhaustive only for maxHamming <= 3")
    val base = dedupBase(spark, dir)
    val reps = base.withRep.select(col("rep").as("doc_id")).distinct()
    // cached: the (rep, signature) relation is tiny and the chunk self-join
    // would otherwise re-run the 60-counter aggregation for both sides
    val sig = simHashPortable(
      Tables.documents(spark, dir).join(reps, Seq("doc_id"), "left_semi")).cache()
    val chunks = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 15).bitwiseAND(0x7FFFL)): _*)).as(Seq("chunk", "v")))
    val repPairs = chunks.as("x").join(chunks.as("y"), Seq("chunk", "v"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    val cross = repPairs
      .join(base.withRep.select(col("rep").as("doc_a"), col("doc_id").as("da")), "doc_a")
      .join(base.withRep.select(col("rep").as("doc_b"), col("doc_id").as("db")), "doc_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    // every doc has a signature (tokens, not shingles), so ALL clusters with
    // >= 2 members produce intra pairs at exactly Hamming 0
    val intra = base.withRep.as("x").join(base.withRep.as("y"), "ck")
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    cross.union(intra)
      .orderBy(col("hamming").asc, col("doc_a").asc, col("doc_b").asc)
  }

  private val StopEn = "\\b(the|a|and|of|to|in|is)\\b"
  private val StopDe = "\\b(der|die|das|und|ist|nicht)\\b"
  private val StopFr = "\\b(le|la|les|et|est|une)\\b"
  private val StopEs = "\\b(el|los|las|una|pero|como)\\b"

  private def hits(c: Column, pat: String): Column =
    size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")

  /** Language ID by stopword-hit heuristic (n-gram-free variant; determinism
    * over accuracy — ties resolve en > de > fr > es).
    */
  def langId(docs: DataFrame): DataFrame = {
    val n = normText(col("text"))
    docs.select(col("doc_id"), col("lang").as("lang_claimed"),
        hits(n, StopEn).as("hits_en"), hits(n, StopDe).as("hits_de"),
        hits(n, StopFr).as("hits_fr"), hits(n, StopEs).as("hits_es"))
      .withColumn("predicted",
        when(col("hits_de") > col("hits_en") && col("hits_de") >= col("hits_fr") && col("hits_de") >= col("hits_es"), "de")
          .when(col("hits_fr") > col("hits_en") && col("hits_fr") > col("hits_de") && col("hits_fr") >= col("hits_es"), "fr")
          .when(col("hits_es") > col("hits_en") && col("hits_es") > col("hits_de") && col("hits_es") > col("hits_fr"), "es")
          .otherwise("en"))
      .orderBy("doc_id")
  }

  /** Per-doc quality metrics + composite score (length / punctuation /
    * stopword-density heuristics of a training-data filter).
    */
  /** Composite quality score of a text column (un-rounded) — the same
    * formula `qualityMetrics` reports, exposed as a reusable column so
    * single-pass pipelines can gate without a metrics join.
    */
  def qualityScore(c: Column): Column = {
    val nChars = length(c).cast("long")
    val nTokens = size(regexp_extract_all(c, lit("[^\\s]+"), lit(0))).cast("long")
    val alnumSpace = length(regexp_replace(c, "[^a-zA-Z0-9 ]", "")).cast("long")
    val punct = (nChars - alnumSpace).cast("double") / nullIfZero(nChars.cast("double"))
    val stopRatio = hits(normText(c), StopEn).cast("double") /
      nullIfZero(nTokens.cast("double"))
    least(lit(1.0), nTokens.cast("double") / 100.0) * 0.4 +
      (lit(1.0) - punct) * 0.3 + least(lit(1.0), stopRatio * 5.0) * 0.3
  }

  def qualityMetrics(docs: DataFrame): DataFrame = {
    val nChars = length(col("text")).cast("long")
    val nTokens = size(regexp_extract_all(col("text"), lit("[^\\s]+"), lit(0))).cast("long")
    val letterChars = length(regexp_replace(col("text"), "\\s", "")).cast("long")
    val alnumSpace = length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", "")).cast("long")
    val punct = (nChars - alnumSpace).cast("double") / nullIfZero(nChars.cast("double"))
    val stopHits = hits(normText(col("text")), StopEn)
    val stopRatio = stopHits.cast("double") / nullIfZero(nTokens.cast("double"))
    docs.select(col("doc_id"), nChars.as("n_chars"), nTokens.as("n_tokens"),
        rd(letterChars.cast("double") / nullIfZero(nTokens.cast("double")), 6).as("avg_token_len"),
        rd(punct, 6).as("punct_ratio"),
        rd(stopRatio, 6).as("stopword_ratio"),
        rd(qualityScore(col("text")), 6).as("quality_score"))
      .orderBy("doc_id")
  }

  /** Token counting per source: whitespace tokens + a BPE-ish lexer regex
    * (letter runs / digit runs / single punctuation marks).
    */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val bpe = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
    Tables.documents(spark, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(regexp_extract_all(col("text"), lit("[^\\s]+"), lit(0)))).cast("long").as("n_tokens_ws"),
        sum(size(regexp_extract_all(col("text"), lit(bpe), lit(0)))).cast("long").as("n_tokens_bpe"))
      .orderBy("source")
  }

  private val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val PhoneRe = "\\+?[0-9][0-9 ()-]{7,}[0-9]"

  /** Redaction as a pure column transform — composable into single-pass
    * pipelines (no join, no second scan of the corpus).
    */
  def redactText(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]")

  /** PII scrubbing: redact email/phone patterns, report per-source counts.
    * One projection + one aggregation — the scrub itself never shuffles.
    */
  def redactPii(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      redactText(col("text")).as("text_redacted"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"))

  /** Per-source redaction profile over the scrubbed corpus. */
  def redactionProfile(spark: SparkSession, dir: String): DataFrame =
    redactPii(Tables.documents(spark, dir))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_emails")).as("n_emails"),
        sum(col("n_phones")).as("n_phones"),
        sum(when(col("n_emails") + col("n_phones") > 0, 1L).otherwise(0L)).as("n_docs_redacted"))
      .orderBy("source")

  /** Token-length histogram: equal-width binning (width_bucket semantics,
    * spelled as portable arithmetic: bucket 0 = below range, nBins+1 = above)
    * of per-doc whitespace token counts — the corpus-length profile every
    * training-data pipeline reports.
    */
  def tokenHistogram(spark: SparkSession, dir: String,
                     lo: Double = 0.0, hi: Double = 200.0, nBins: Int = 10): DataFrame = {
    val x = size(regexp_extract_all(col("text"), lit("[^\\s]+"), lit(0))).cast("double")
    val bucket = when(x < lo, 0L).when(x >= hi, nBins + 1L)
      .otherwise(floor((x - lo) / ((hi - lo) / nBins)).cast("long") + 1L)
    Tables.documents(spark, dir)
      .select(bucket.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket")
  }

  /** Within-document repetition metrics — the Gopher/C4-style quality signal
    * that catches boilerplate and degenerate generations: per doc, the
    * fraction of duplicated trigrams (1 − distinct/total) and the share of
    * tokens covered by the single most-frequent trigram. Narrow explode +
    * per-doc aggregation; no joins, no cross-doc state.
    */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    val tri = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(shingles(col("toks"))).as("sg"))
    val perGram = tri.groupBy("doc_id", "sg").agg(count(lit(1)).as("c"))
    perGram.groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_trigrams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_gram_count"))
      .select(col("doc_id"),
        col("n_trigrams"), col("n_distinct"),
        rd(lit(1.0) - col("n_distinct").cast("double") / col("n_trigrams"), 6)
          .as("dup_trigram_frac"),
        rd(col("top_gram_count").cast("double") / col("n_trigrams"), 6)
          .as("top_gram_share"))
      .orderBy("doc_id")
  }

  /** Cross-dataset contamination check: for each (lang, source-pair), how
    * many documents of corpus A share at least one trigram shingle with
    * corpus B (eval-benchmark leakage detection). Same bucketed equi-join
    * contract as the near-dup family: the pair space comes from the
    * (lang, shingle) key, never |A|×|B|.
    */
  def contaminationProfile(spark: SparkSession, dir: String,
                           sourceA: String, sourceB: String): DataFrame = {
    // exact-dup collapse per (lang, source, norm): every member of a cluster
    // shares its rep's shingle set, so the (lang, shingle) join runs on reps
    // and member counts re-weight the aggregates — n_docs_hit sums the hit
    // B-clusters' sizes, per-doc shared-shingle counts multiply by the
    // A-cluster size. Identical output to the raw per-doc join (the oracle
    // computes that), with pair space scaling by distinct texts.
    //
    // Rep relation routing MEASURED AND REJECTED (round 6, interleaved
    // min-of-6 probes at sf0.1): (a) reusing the shared corpus-wide bucketed
    // `dedupBase` memo ran ~1.4× SLOWER than this scoped rebuild — the cached
    // all-source repSh scan (row filter over an InMemoryRelation 2.5× the
    // size) loses to the codegen parquet recompute whose source IN (A, B)
    // predicate is pushed to the scan; (b) replacing the double `hits`
    // consumption with a semi-join vocabulary pass was ~2× slower — AQE's
    // ReusedExchange already shares the (lang, sg) shuffles between the two
    // aggregations, so the "saved" join was free and the extra distinct
    // wasn't. The scoped collapse + exchange-reused double aggregation below
    // is the fastest measured formulation; its pair space is bucketed by
    // (lang, shingle), never |A|×|B|.
    val docs = Tables.documents(spark, dir)
      .filter(col("source").isin(sourceA, sourceB))
    val mem = docs.select(col("doc_id"), col("lang"), col("source"),
      md5(normText(col("text"))).as("nk"))
    val reps = mem.groupBy("lang", "source", "nk")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("m"))
    val repSh = shingleSet(
      docs.join(reps.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi"))
    val a = repSh.filter(col("source") === sourceA)
      .select(col("lang"), col("doc_id").as("ra"), col("sg"))
    val b = repSh.filter(col("source") === sourceB)
      .select(col("lang"), col("doc_id").as("rb"), col("sg"))
    val hits = a.join(b, Seq("lang", "sg"))
    val rbHits = hits.select("lang", "ra", "rb").distinct()
      .join(reps.filter(col("source") === sourceB)
        .select(col("rep").as("rb"), col("m").as("mb")), "rb")
      .groupBy("lang", "ra").agg(sum("mb").as("n_docs_hit"))
    val shShared = hits.groupBy("lang", "ra")
      .agg(countDistinct(col("sg")).as("n_shared_shingles"))
    shShared.join(rbHits, Seq("lang", "ra"))
      .join(reps.filter(col("source") === sourceA)
        .select(col("rep").as("ra"), col("m").as("ma")), "ra")
      .groupBy("lang")
      .agg(sum(col("ma")).as("n_contaminated_docs"),
        sum(col("ma") * col("n_shared_shingles")).as("total_shared_shingles"),
        max(col("n_docs_hit")).as("max_docs_hit"))
      .orderBy("lang")
  }

  /** Fuzzy record linkage with prefix blocking: candidate pairs come from an
    * equi-join on (lang, first `blockLen` chars of the normalized text) —
    * the classic entity-resolution blocking strategy — and only blocked
    * pairs pay the O(n·m) Levenshtein. At 100 TB the block key bounds the
    * pair space exactly like the LSH band bucket; edit distance never runs
    * on a cross product. (Prefix blocking trades recall for cost the same
    * way LSH banding does: documents differing in their first `blockLen`
    * characters are not candidates.)
    */
  def fuzzyMatches(docs: DataFrame, maxDistance: Int, blockLen: Int = 12): DataFrame = {
    val b = docs
      .select(col("doc_id"), col("lang"), normText(col("text")).as("norm"))
      .filter(length(col("norm")) >= blockLen)
    // exact-dup collapse (same equivalence as the minhash/jaccard family):
    // edit distance is a pure function of the two normalized texts, and
    // identical (lang, norm) docs always share a block — so Levenshtein runs
    // once per DISTINCT text pair and verified rep pairs expand to members,
    // with intra-cluster pairs at distance exactly 0. On a dup-heavy corpus
    // the O(len²) distance calls scale with distinct texts, not members².
    val reps = b.groupBy("lang", "norm").agg(min("doc_id").as("rep"))
    val mem = b.join(reps, Seq("lang", "norm"))
      .select(col("doc_id"), col("rep"), col("lang"))
    val repPairs = fuzzyRepPairs(reps, blockLen, maxDistance)
      .filter(col("edit_distance").between(0, maxDistance))
    val cross = repPairs
      .join(mem.select(col("rep").as("doc_a"), col("doc_id").as("da")), "doc_a")
      .join(mem.select(col("rep").as("doc_b"), col("doc_id").as("db")), "doc_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("lang"), col("edit_distance"))
    val intra = mem.as("x").join(mem.as("y"), "rep")
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.lang").as("lang"), lit(0L).as("edit_distance"))
    cross.union(intra)
      .orderBy(col("edit_distance").asc, col("doc_a").asc, col("doc_b").asc)
  }

  /** Rep-level blocked candidate pairs with their BANDED edit distance
    * (−1 when beyond `maxDistance`): the 3-arg `levenshtein` abandons a
    * pair once its distance provably exceeds the band, O(len·maxDistance)
    * per pair instead of O(len²) — on long documents the band is the
    * difference between a usable and an unusable fuzzy join. Values within
    * the band are exact, so the filtered output is identical to the
    * unbounded form (the DuckDB oracle computes full distances).
    * Package-visible so the dup-heavy-fixture spec can pin that the
    * candidate count scales with distinct texts, not cluster membership. */
  private[graft] def fuzzyRepPairs(reps: DataFrame, blockLen: Int,
                                   maxDistance: Int): DataFrame = {
    val rb = reps.withColumn("blk", col("norm").substr(1, blockLen))
    val x = rb.select(col("lang"), col("blk"), col("rep").as("doc_a"), col("norm").as("na"))
    val y = rb.select(col("lang"), col("blk"), col("rep").as("doc_b"), col("norm").as("nb"))
    x.join(y, Seq("lang", "blk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("lang"),
        levenshtein(col("na"), col("nb"), maxDistance).cast("long").as("edit_distance"))
  }

  /** Deterministic hash-bucket assignment in [0, buckets): md5 of the key
    * column's string form, first 15 hex chars → BIGINT, mod buckets. The
    * sampling/split primitive every training-data pipeline needs: membership
    * is a pure function of the KEY (stable across runs, engines, and corpus
    * growth — a doc keeps its split when new data arrives), and the same
    * arithmetic is expressible in any SQL engine for verification. One narrow
    * projection: no shuffle, no RNG state.
    */
  def hashBucket(key: Column, buckets: Int): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long") % buckets

  /** Deterministic train/val/test split: doc → split label by hash bucket
    * percentage (train gets [0, pTrain), val [pTrain, pTrain+pVal), test the
    * rest, out of 100 buckets).
    */
  def splitAssign(docs: DataFrame, keyCol: String,
                  pTrain: Int = 90, pVal: Int = 5): DataFrame = {
    val b = hashBucket(col(keyCol), 100)
    docs.withColumn("split",
      when(b < pTrain, "train").when(b < pTrain + pVal, "val").otherwise("test"))
  }

  /** Per-(source, split) profile of the deterministic split — the sanity
    * report (counts + token mass per split) run before any training job.
    */
  def splitProfile(spark: SparkSession, dir: String): DataFrame =
    splitAssign(Tables.documents(spark, dir), "doc_id")
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(regexp_extract_all(col("text"), lit("[^\\s]+"), lit(0)))).cast("long").as("n_tokens"))
      .orderBy("source", "split")

  /** TF-IDF corpus term statistics: per (lang, token) document frequency,
    * occurrence count, idf = ln(N/df), and tf·idf mass; top-k most
    * discriminative terms per lang. The scan side is two hash aggregations
    * over exploded tokens (occurrences, then distinct-doc df via one count
    * + one countDistinct in the same pass); the rank window runs over the
    * AGGREGATED (lang, token) relation — bounded by vocabulary size, never
    * corpus size — so the sort shuffles the vocab, not the token stream.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("n_total"))
    val tok = docs
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), explode(col("toks")).as("tok"))
      .filter(length(col("tok")) > 0)
    val stats = tok.groupBy("lang", "tok")
      .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("df"))
      .join(broadcast(n))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(col("score").desc, col("tok").asc)
    stats
      .withColumn("score", col("cnt") * log(col("n_total").cast("double") / col("df")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("lang"), col("rk"), col("tok"), col("cnt"), col("df"),
        rd(col("score"), 6).as("tfidf_mass"))
      .orderBy("lang", "rk")
  }

  /** Per-document unigram surprisal — the language-model quality signal a
    * CCNet-style filter uses (documents whose tokens are corpus-improbable
    * score high: boilerplate scores low, gibberish high): the corpus unigram
    * model P(tok | lang) = cnt/total is estimated in one vocabulary-sized
    * aggregation, and each document scores avg(−ln P) over its tokens. The
    * (lang, tok) join key bounds every shuffle by vocabulary × corpus tokens
    * — no pair space; the per-lang totals relation is lang-cardinality and
    * broadcast.
    */
  def unigramSurprisalFrom(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), explode(col("toks")).as("tok"))
      .filter(length(col("tok")) > 0)
    val freq = tok.groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
    // lang totals roll up from the vocabulary aggregate (vocab-sized input),
    // not from a second scan of the corpus-token stream
    val tot = freq.groupBy("lang").agg(sum("cnt").as("tot"))
    tok.join(freq, Seq("lang", "tok"))
      .join(broadcast(tot), "lang")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        rd(avg(-log(col("cnt").cast("double") / col("tot"))), 6).as("avg_surprisal"))
      .orderBy("doc_id")
  }

  /** GPT-style sequence packing assignment: documents are concatenated in
    * doc_id order into a single token stream and chunked into fixed
    * `budget`-token training sequences; each document gets its global
    * `token_offset`, its `seq_id` = offset / budget, and its position inside
    * that sequence. (The concat-then-chunk contract — documents may straddle
    * a boundary, exactly like GPT-style pretraining packing.)
    *
    * The global cumulative sum is the TWO-PHASE DISTRIBUTED PREFIX SUM, not
    * a single-partition window (which would serialize the corpus through one
    * task at 100 TB): range-repartition by doc_id (ordered partitions),
    * materialize ONCE (localCheckpoint — freezes the sampled range bounds so
    * both passes see identical partitions), aggregate one total per
    * partition (#partitions rows to the driver — bounded by the shuffle
    * setting, never by data), broadcast the exclusive partition prefixes,
    * and stream each partition once adding its prefix. Offsets depend only
    * on doc_id order, so the result is deterministic regardless of where
    * the sampled partition bounds land.
    */
  def packSequencesFrom(docs: DataFrame, budget: Long): DataFrame =
    packOffsetsFrom(docs, budget).orderBy("doc_id")

  /** Offsets relation shared by [[packSequencesFrom]] (assignment view) and
    * [[packedSpansFrom]] (materialized spans) — unsorted so each consumer
    * pays only its own final sort.
    */
  private def packOffsetsFrom(docs: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, s"sequence budget must be positive, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    val parted = docs
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[^\\s]+"), lit(0))).cast("long").as("n_tokens"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions("doc_id")
      .localCheckpoint(true)
    val totals = parted.groupBy(spark_partition_id().as("pid"))
      .agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val prefixes = totals.keys.toSeq.sorted
      .scanLeft((Int.MinValue, 0L)) { case ((_, acc), pid) => (pid, acc + totals(pid)) }
      .sliding(2).collect { case Seq((_, acc), (pid, _)) => pid -> acc }.toMap
    val bc = spark.sparkContext.broadcast(prefixes)
    parted.as[(Long, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var running = bc.value.getOrElse(pid, 0L)
        it.map { case (id, n) =>
          val off = running
          running += n
          (id, n, off, off / budget, off % budget)
        }
      }
      .toDF("doc_id", "n_tokens", "token_offset", "seq_id", "pos_in_seq")
  }

  /** Materialized packed-sequence spans — the relation a training data
    * loader actually consumes. Documents are concatenated in doc_id order
    * and chunked into fixed `budget`-token sequences (same contract as
    * [[packSequencesFrom]]); a document that straddles one or more sequence
    * boundaries is SPLIT, emitting one span per sequence it touches:
    * (seq_id, doc_id, start_tok, n_tok) where start_tok is the 0-based
    * offset INSIDE the document and n_tok the span length. Invariants:
    * sum(n_tok) over a seq_id = budget for every sequence but the last,
    * and sum(n_tok) over a doc_id = that document's token count.
    *
    * Scale shape: the global offsets come from the two-phase distributed
    * prefix sum above; the boundary split is a per-row generator
    * (explode over the tiny seq range a document touches — 1-2 rows for
    * any document shorter than `budget`), so no join, no window, no
    * re-shuffle is added on top of the offsets pass.
    */
  def packedSpansFrom(docs: DataFrame, budget: Long): DataFrame = {
    val b = lit(budget)
    packOffsetsFrom(docs, budget)
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("token_offset"),
        explode(sequence(col("seq_id"),
          expr(s"(token_offset + n_tokens - 1) div $budget"))).as("sid"))
      .select(
        col("sid").as("seq_id"),
        col("doc_id"),
        (greatest(col("token_offset"), col("sid") * b) - col("token_offset"))
          .as("start_tok"),
        (least(col("token_offset") + col("n_tokens"), (col("sid") + 1L) * b)
          - greatest(col("token_offset"), col("sid") * b)).as("n_tok"))
      .orderBy("seq_id", "doc_id")
  }

  /** Document fingerprint: min-MD5 over all 8-char windows of the normalized
    * text (winnowing-style rolling signature; the min over a hash family is
    * order-independent and computes per row).
    *
    * The window min is a per-row `aggregate(sequence(...))` fold — NO row
    * explosion. The previous explode-then-groupBy formulation emitted one row
    * per window (≈ len rows per doc: a 1000× amplification plus a full
    * re-aggregation shuffle on KB-scale web documents); the fold keeps one
    * running min per document inside the projection, so the operator is a
    * shuffle-free map at any document length.
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    val n = normText(col("text"))
    docs.select(col("doc_id"), n.as("norm"))
      .filter(length(col("norm")) >= 8)
      .select(col("doc_id"),
        aggregate(
          sequence(lit(1), length(col("norm")) - 7),
          lit(null).cast("string"),
          (acc, i) => {
            val h = md5(col("norm").substr(i, lit(8)))
            when(acc.isNull || h < acc, h).otherwise(acc)
          }).as("fingerprint"),
        (length(col("norm")) - 7).cast("long").as("n_windows"))
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered incremental exact dedup — the "does this crawl doc
    * already exist in the 100 TB corpus?" fast path. The corpus digest set
    * folds into ONE small Bloom filter artifact (a distributed
    * `BloomFilterAggregate` — the same machinery Spark's runtime join
    * filters use, reached through the Catalyst bridge since it has no public
    * DataFrame API), the arriving batch probes it as a foldable literal
    * (≈ a broadcast of the artifact, built once per corpus snapshot like
    * the persisted IVF centroids), and ONLY the bloom hits reach the exact
    * digest semi-join.
    *
    * Correctness contract: a Bloom filter has NO false negatives, so the
    * final classification is PROVABLY identical to the plain semi-join —
    * the DuckDB oracle states the bloom-free SQL and the result must
    * hash-match through the bloom path. False positives only cost verify
    * work: `bloomPrefilterProfile` exposes the pruning counts and
    * `TextOpsSpec` pins candidates ⊇ dups and candidates ≪ batch.
    * At 100 TB the semi-join's build side is the full corpus digest
    * relation; the bloom probe discards the overwhelmingly-novel majority
    * of a crawl batch BEFORE that shuffle — the verify join's input drops
    * from |batch| to |dups| + ε·|batch|.
    */
  def bloomPrefilterDedup(spark: SparkSession, dir: String,
                          newSource: String): DataFrame = {
    val (batch, candidates, corpusH) = bloomParts(spark, dir, newSource)
    val dups = candidates.join(corpusH, Seq("h"), "left_semi")
      .select(col("doc_id")).withColumn("is_dup", lit(true))
    batch.select(col("doc_id"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_dup"), "exact_dup").otherwise("novel").as("status"))
      .orderBy("doc_id")
  }

  /** Pruning census of the bloom prefilter (spec surface — candidate counts
    * are bloom-parameter-specific, so they are pinned by invariant, not by
    * the portable oracle): one row (n_batch, n_candidates, n_exact_dups).
    */
  def bloomPrefilterProfile(spark: SparkSession, dir: String,
                            newSource: String): DataFrame = {
    val (batch, candidates, corpusH) = bloomParts(spark, dir, newSource)
    val nb = batch.count()
    val nc = candidates.count()
    val nd = candidates.join(corpusH, Seq("h"), "left_semi").count()
    import spark.implicits._
    Seq((nb, nc, nd)).toDF("n_batch", "n_candidates", "n_exact_dups")
  }

  private def bloomParts(spark: SparkSession, dir: String, newSource: String) = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.graft.SqlShim.{column, expression}
    val docs = Tables.documents(spark, dir)
    val corpusH = docs.filter(col("source") =!= newSource)
      .select(md5(col("text")).as("h")).distinct()
    val bfAgg = column(new BloomFilterAggregate(
      new XxHash64(Seq(expression(col("h"))))).toAggregateExpression())
    // one row, one bounded artifact (sized by items/fpp, never by corpus
    // rows) — the same driver-side class as the per-partition prefix totals
    val bloom = corpusH.agg(bfAgg.as("bf")).head.getAs[Array[Byte]](0)
    val batch = docs.filter(col("source") === newSource)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val candidates = batch.filter(column(BloomFilterMightContain(
      Literal(bloom), new XxHash64(Seq(expression(col("h")))))))
    (batch, candidates, corpusH)
  }

  /** Top-k DIRECTED containment pairs — the asymmetric set-overlap measure
    * Jaccard can't see: containment(A→B) = |A∩B| / |A| is high when A is a
    * PARTIAL COPY embedded in a larger B (a quoted passage, an included
    * boilerplate block) even though their Jaccard is low. Emits both
    * directions plus Jaccard for each of the k pairs with the highest
    * max-containment.
    *
    * Same scale skeleton as [[jaccardPairs]]: exact-dup collapse first, the
    * pair space from the bucketed (lang, source, shingle) equi-join — never
    * doc², members expanded after the rep-level cutoff (identical texts
    * have identical shingle sets, so members inherit their rep's
    * containment values exactly; intra-cluster pairs are (1, 1, 1)).
    */
  def containmentPairsFrom(docs: DataFrame, k: Int): DataFrame = {
    val base = dedupBaseFrom(docs, bucketed = true)
    val sh = base.repSh
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.select(col("lang"), col("source"), col("sg"), col("doc_id").as("doc_a"))
    val b = sh.select(col("lang"), col("source"), col("sg"), col("doc_id").as("doc_b"))
    val inter = a.join(b, Seq("lang", "source", "sg"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val repPairs = inter
      .join(cnt.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(cnt.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        rd(col("inter").cast("double") / col("na"), 6).as("cab"),
        rd(col("inter").cast("double") / col("nb"), 6).as("cba"),
        rd(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .withColumn("maxc", greatest(col("cab"), col("cba")))
      .cache()
    val cut = repPairs.orderBy(col("maxc").desc).limit(k)
      .agg(min(col("maxc")).as("ccut"))
    val topReps = repPairs.join(broadcast(cut), col("maxc") >= col("ccut")).drop("ccut")
    val cross = topReps
      .join(base.withRep.select(col("rep").as("doc_a"), col("doc_id").as("da")), "doc_a")
      .join(base.withRep.select(col("rep").as("doc_b"), col("doc_id").as("db")), "doc_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        when(col("da") < col("db"), col("cab")).otherwise(col("cba")).as("cont_a_in_b"),
        when(col("da") < col("db"), col("cba")).otherwise(col("cab")).as("cont_b_in_a"),
        col("jaccard"), col("maxc"))
    val shingled = sh.select(col("doc_id").as("rep")).distinct()
    val intraMem = base.withRep.join(shingled, "rep").select(col("ck"), col("doc_id"))
    val intra = intraMem.as("x").join(intraMem.as("y"), "ck")
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as("cont_a_in_b"), lit(1.0).as("cont_b_in_a"),
        lit(1.0).as("jaccard"), lit(1.0).as("maxc"))
    cross.union(intra)
      .orderBy(col("maxc").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(k)
      .drop("maxc")
  }

  /** Content-defined chunking dedup profile (the rolling-hash boundary
    * technique of LBFS/rsync, as used for storage-level and partial-overlap
    * dedup): chunk boundaries fall where the hash of the 8-char window
    * STARTING at a position has first hex nibble 0 (P = 1/16 ⇒ ~16-char
    * expected chunks) — a pure function of LOCAL content, so a shared
    * passage chunks identically in every document that contains it, no
    * matter its offset (the property fixed-size blocks lack). Emits the
    * per-source chunk census: total chunks, distinct chunk digests, and
    * the duplicated-chunk ratio.
    *
    * Scale shape: boundary detection and chunk slicing are per-row ARRAY
    * expressions (no per-character row explosion — same discipline as the
    * `fingerprints` fold); only the ~len/16 chunks per document explode,
    * which is the operator's actual output, and the census is one hash
    * aggregation on (source, digest). At 100 TB the distinct-digest
    * relation is the dedup store a chunk-level storage system maintains.
    */
  def cdcChunkProfileFrom(docs: DataFrame): DataFrame = {
    val L = length(col("norm"))
    // boundary positions: 1 plus every i in [2, L-7] whose 8-char window
    // hash starts with nibble '0' — ONE native pass per row (CdcBounds;
    // bit-identical to the declarative concat/filter/md5 form the oracle
    // replays, spec-pinned in TextExpressionsSpec). The interpreted
    // per-position lambda this replaces dominated the 100× sweep.
    val bounds = graft.functions.TextFunctions.cdcBounds(col("norm"))
    docs
      .select(col("source"), normText(col("text")).as("norm"))
      .filter(length(col("norm")) >= 8)
      .withColumn("bs", bounds)
      .withColumn("chunk",
        explode(transform(sequence(lit(1), size(col("bs"))), j =>
          col("norm").substr(
            element_at(col("bs"), j),
            when(j < size(col("bs")), element_at(col("bs"), j + 1) - element_at(col("bs"), j))
              .otherwise(L - element_at(col("bs"), j) + 1)))))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(md5(col("chunk"))).as("n_distinct_chunks"),
        rd(lit(1.0) - countDistinct(md5(col("chunk"))).cast("double") / count(lit(1)), 6)
          .as("dup_ratio"))
      .orderBy("source")
  }

  /** Adjacent-pair statistics — the counting step of a BPE tokenizer-training
    * iteration (Sennrich et al. 2016): per language, the top-k most frequent
    * adjacent whitespace-token pairs, i.e. the merge candidates. The rank
    * window runs over the aggregated pair vocabulary (like TF-IDF's), never
    * the corpus pair stream.
    */
  def bpePairStatsFrom(docs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("cnt").desc, col("pair"))
    docs
      .select(col("lang"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("lang"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1), i =>
          concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1))))
          .as("pair"))
      .groupBy("lang", "pair").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("lang"), col("rk"), col("pair"), col("cnt"))
      .orderBy("lang", "rk")
  }

  /** k APPLIED BPE merges — the actual tokenizer-training loop (Sennrich et
    * al. 2016), not just [[bpePairStatsFrom]]'s one counting pass: per
    * language, count adjacent symbol pairs over the character-level word
    * vocabulary, merge the most frequent pair into one symbol, re-count,
    * repeat k times. Returns the merge table (lang, step, pair, cnt) — the
    * artifact a tokenizer ships.
    *
    * Representation: each vocab word is a STRING of wrapped symbols
    * ("abc" → "<a><b><c>"); applying merge (a,b) is a literal
    * `replace('<a><b>', '<ab>')` — left-to-right non-overlapping, exactly
    * BPE's greedy scan, with occurrences fully disjoint by construction (no
    * shared delimiter chars), and identical string semantics on any engine.
    * Pair counting re-extracts the symbol list per word and counts every
    * adjacency (overlaps included) weighted by word frequency. Selection
    * tie-breaks on (cnt DESC, pair ASC).
    *
    * Scale shape (q98's fixed-depth loop): the ONE corpus-sized job is the
    * initial word-frequency aggregation; every later relation is
    * VOCABULARY-bounded (distinct words per language). The winning pair is
    * one row per language, broadcast into the vocab rewrite; each iteration
    * localCheckpoints the (tiny) vocab so lineage stays flat across k
    * rounds. Languages whose vocabulary runs out of pairs drop out (inner
    * join) — impossible on real text with small k.
    */
  def bpeTrainMergesFrom(docs: DataFrame, k: Int): DataFrame = {
    val wSel = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("cnt").desc, col("pair"))
    var vocab = docs
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("lang", "word").agg(count(lit(1)).as("wcnt"))
      .select(col("lang"),
        regexp_replace(col("word"), "(.)", "<$1>").as("w"), col("wcnt"))
      .localCheckpoint(true)
    val steps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (step <- 1 to k) {
      val pairs = vocab
        .select(col("lang"), col("wcnt"),
          expr("regexp_extract_all(w, '<([^>]*)>', 1)").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("lang"), col("wcnt"),
          explode(transform(sequence(lit(1), size(col("syms")) - 1), i =>
            concat_ws(" ", element_at(col("syms"), i), element_at(col("syms"), i + 1))))
            .as("pair"))
        .groupBy("lang", "pair").agg(sum(col("wcnt")).as("cnt"))
      val best = pairs.withColumn("rk", row_number().over(wSel))
        .filter(col("rk") === 1).select(col("lang"), col("pair"), col("cnt"))
        .localCheckpoint(true)
      steps += best.withColumn("step", lit(step.toLong))
      vocab = vocab
        .join(broadcast(best.select(col("lang"),
          concat(lit("<"), regexp_replace(col("pair"), " ", "><"), lit(">")).as("pat"),
          concat(lit("<"), regexp_replace(col("pair"), " ", ""), lit(">")).as("rep"))),
          Seq("lang"))
        .select(col("lang"), expr("replace(w, pat, rep)").as("w"), col("wcnt"))
        .localCheckpoint(true)
    }
    steps.reduce(_.unionByName(_))
      .select(col("lang"), col("step"), col("pair"), col("cnt"))
      .orderBy("lang", "step")
  }

  /** BPE ENCODE — applying [[bpeTrainMergesFrom]]'s learned merge table to
    * the corpus (Sennrich et al. 2016's apply step: each merge, in learned
    * order, rewrites all its occurrences). Emits the per-document token
    * census a tokenization pipeline ships: word count, alphanumeric char
    * count, and the BPE token count after k merges.
    *
    * Scale shape (the q114 lesson — finish per-key work on the bounded key
    * relation, touch the corpus stream once): the merge chain runs over the
    * VOCABULARY (distinct (lang, word)), not over word occurrences — the
    * per-word encoded length is a pure function of (lang, word), so the
    * corpus word stream joins the encoded vocabulary by BROADCAST and the
    * only corpus-sized shuffle is the final per-document aggregation
    * (map-side partial). A language with fewer than k learned merges (pairs
    * ran dry) keeps its shorter chain via the null-guarded fold — mirrored
    * by the oracle's LEFT JOIN per step.
    */
  def bpeEncodeFrom(docs: DataFrame, k: Int): DataFrame = {
    val mergeTable = bpeTrainMergesFrom(docs, k)
      .groupBy("lang")
      .agg(array_sort(collect_list(struct(col("step"), col("pair")))).as("ms"))
      .select(col("lang"),
        transform(col("ms"), m =>
          concat(lit("<"), regexp_replace(m.getField("pair"), " ", "><"), lit(">"))).as("pats"),
        transform(col("ms"), m =>
          concat(lit("<"), regexp_replace(m.getField("pair"), " ", ""), lit(">"))).as("reps"))
    val words = docs
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
    val wrapped = words.select("lang", "word").distinct()
      .select(col("lang"), col("word"),
        regexp_replace(col("word"), "(.)", "<$1>").as("w0"))
    // try_element_at, not element_at: ANSI mode throws on an index past the
    // array end, and a short-chain language (pairs ran dry before step k)
    // has fewer than k merges — the null guard keeps its shorter chain
    val encChain = (1 to k).foldLeft(col("w0")) { (acc, i) =>
      when(try_element_at(col("pats"), lit(i)).isNull, acc)
        .otherwise(call_function("replace", acc,
          try_element_at(col("pats"), lit(i)), try_element_at(col("reps"), lit(i))))
    }
    val encVocab = wrapped.join(broadcast(mergeTable), Seq("lang"), "left")
      .select(col("lang"), col("word"), encChain.as("enc"))
      // symbol count == count of '<' markers in the encoded string
      .select(col("lang"), col("word"),
        (length(col("enc")) -
          length(call_function("replace", col("enc"), lit("<"), lit(""))))
          .cast("long").as("n_bpe"))
    // NO broadcast hint on the vocabulary join (ADVICE r8): distinct
    // (lang, word) cardinality is unbounded on web corpora (tens of millions
    // of types), so a forced broadcast can blow the driver/executor limit at
    // exactly the scale this operator exists for. AQE sees the REAL post-
    // aggregation size of encVocab at runtime and still picks broadcast
    // whenever the vocabulary is genuinely small (it is at every test SF);
    // past the threshold it falls back to a shuffle join keyed by
    // (lang, word) — the only plan that survives an unbounded type inventory.
    words.join(encVocab, Seq("lang", "word"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).cast("long").as("n_chars_alnum"),
        sum(col("n_bpe")).as("n_tokens_bpe"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, §4.3): per
    * language, rank documents by unigram-LM surprisal and split into
    * head / middle / tail tertiles — the standard quality-stratification
    * step before sampling training data (head = most fluent). Built
    * directly on [[unigramSurprisalFrom]]'s rounded scores so both engines
    * rank identical doubles; ties break on doc_id.
    *
    * Scale note: `ntile` partitions by lang, so each language is one sorted
    * window partition — exact and oracle-able, with parallelism across
    * languages. At 100 TB per language, production CCNet computes the two
    * tertile THRESHOLDS on a sample and assigns by comparison (a shuffle-free
    * map against broadcast cutoffs); the registered exact form is the
    * deterministic contract that variant is validated against.
    */
  def surprisalBucketsFrom(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("avg_surprisal"), col("doc_id"))
    unigramSurprisalFrom(docs)
      .withColumn("t", ntile(3).over(w))
      .withColumn("bucket",
        element_at(array(lit("head"), lit("middle"), lit("tail")), col("t")))
      .groupBy("lang", "bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("n_tokens"),
        rd(avg(col("avg_surprisal")), 6).as("avg_surprisal"))
      .orderBy("lang", "bucket")
  }

  /** Temperature-based source mixture weights (the multilingual /
    * multi-domain sampling scheme of Conneau & Lample 2019, §3.1, with
    * α = 0.5): each source's natural token share p_i is re-weighted to
    * w_i = p_i^α / Σ_j p_j^α, up-sampling low-resource sources. Emits the
    * per-source token census, natural share, mixture weight, and the
    * resulting sample factor w_i / p_i a data loader applies.
    *
    * α is FIXED at 1/2 so the re-weighting is `sqrt` — IEEE-754
    * correctly-rounded in every engine, making the relation hash-exact
    * cross-engine (an arbitrary-α `pow` is libm-dependent in its last ulp).
    *
    * Scale shape: one hash aggregation over the corpus to a sources-sized
    * relation; everything after is arithmetic on that tiny relation (the
    * second "global" aggregate runs over #sources rows). No window, no
    * join back to the corpus.
    */
  def mixtureWeightsFrom(docs: DataFrame): DataFrame = {
    val per = docs
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit("[^\\s]+"), lit(0)))
          .cast("long").as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
    val tot = per.agg(sum("n_tokens").as("tot"))
    val shared = per.crossJoin(broadcast(tot))
      .withColumn("p", col("n_tokens").cast("double") / col("tot"))
      .withColumn("wr", sqrt(col("p")))
    val z = shared.agg(sum("wr").as("z"))
    shared.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        rd(col("p"), 6).as("p"),
        rd(col("wr") / col("z"), 6).as("weight"),
        rd(col("wr") / col("z") / col("p"), 6).as("sample_factor"))
      .orderBy("source")
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw document by
    * how much its hashed-unigram profile looks like the TARGET domain, then
    * keep the top-n by importance weight.
    *
    * Features are the paper's hashed n-grams (here unigrams over the
    * canonical [[normText]] tokenizer, [[hashBucket]]'d into `buckets`
    * cells). Bucket log-ratios ln(p_target/q_raw) use Laplace smoothing
    * (+1 / +buckets); a document's log-weight is the sum of its token
    * instances' bucket ratios. Determinism contract for the oracle: the
    * per-bucket log-ratio is rounded to 6 decimals BEFORE the per-doc sum,
    * and the doc sum and ranking again at 6 — so the cross-engine libm-ln
    * ulp never reaches the rank order (the q88 discipline, one level
    * stricter). Documents with zero tokens after normalization (e.g.
    * non-Latin scripts under the a-z tokenizer) have no feature rows and are
    * excluded by construction — both engines agree.
    *
    * Scale shape: token stream → bucket histogram is one map-side-combinable
    * aggregation to ≤`buckets` rows; the ratio relation broadcasts back onto
    * the token stream (never a shuffle keyed by the corpus); the final
    * selection is the k-bounded TopKByScore heap, so the ranking shuffle
    * carries k rows per partition, not the corpus. The doc-metadata join at
    * the end broadcasts the n selected ids.
    */
  def dsirResampleFrom(docs: DataFrame, targetLang: String, buckets: Int,
                       n: Int): DataFrame = {
    val tok = docs
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), col("lang"), hashBucket(col("tok"), buckets).as("bk"))
    val raw = tok.groupBy("bk").agg(count(lit(1)).as("cr"))
    val tgt = tok.filter(col("lang") === targetLang)
      .groupBy("bk").agg(count(lit(1)).as("ct"))
    val tot = tok.agg(
      count(lit(1)).as("tr"),
      count(when(col("lang") === targetLang, 1)).as("tt"))
    val ratio = raw
      .join(tgt, Seq("bk"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bk"),
        rd(log(((coalesce(col("ct"), lit(0L)) + 1).cast("double")
            / (col("tt") + buckets).cast("double"))
          / ((col("cr") + 1).cast("double")
            / (col("tr") + buckets).cast("double"))), 6).as("lr"))
    val dw = tok
      .join(broadcast(ratio), "bk")
      .groupBy("doc_id")
      .agg(rd(sum(col("lr")), 6).as("logw"))
    val top = dw
      .groupBy()
      .agg(graft.functions.TopKByScore.topK(col("logw"), col("doc_id"), n).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.rk").as("rk"), col("e.id").as("doc_id"),
        col("e.score").as("logw"))
    docs.join(broadcast(top), "doc_id")
      .select(col("rk"), col("doc_id"), col("lang"), col("source"), col("logw"))
      .orderBy("rk")
  }

  /** Deterministic per-epoch shuffle plan over the packed sequences of
    * [[packedSpansFrom]] — the reshuffle a training loader needs between
    * epochs, as data: for each epoch, every sequence keyed by
    * md5(epoch:seq_id) with its document/token census. Consumers read in
    * shuffle_key order; the key is reproducible from (epoch, seq_id) alone,
    * so any worker can recompute its shard's order without coordination.
    *
    * Scale shape: a seq_id-grained aggregation of the span relation plus a
    * per-row hash — no global rank column ON PURPOSE: a row_number over the
    * full corpus would serialize through one window partition, while
    * ordering by the hash key is a range-partitioned distributed sort.
    */
  def epochShufflePlanFrom(docs: DataFrame, budget: Long, epochs: Int): DataFrame = {
    require(epochs >= 1, s"epochs must be >= 1, got $epochs")
    val seqs = packedSpansFrom(docs, budget)
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").cast("long").as("n_tok"))
    seqs
      .select(col("*"), explode(sequence(lit(1), lit(epochs))).as("epoch"))
      .select(col("epoch").cast("long").as("epoch"), col("seq_id"),
        md5(concat_ws(":", col("epoch"), col("seq_id"))).as("shuffle_key"),
        col("n_docs"), col("n_tok"))
      .orderBy("epoch", "shuffle_key", "seq_id")
  }

  /** Per-document duplicated-passage coverage — the positional refinement of
    * [[boilerplateProfile]]: not just WHAT fraction of a document's shingles
    * are corpus-duplicated, but how many of its TOKEN POSITIONS sit inside at
    * least one duplicated 3-gram (the span a span-level cleaner would cut).
    * Emits (doc_id, n_tokens, covered_tokens, coverage); documents with no
    * duplicated passage appear with coverage 0.
    *
    * Scale shape: the shingle document-frequency relation is
    * vocabulary-sized (same base as novelty/boilerplate); only occurrences of
    * df>1 shingles fan out — ×3 positions each, bounded by token count — and
    * the coverage count is one per-doc aggregation. No pair space anywhere:
    * corpus-duplication is read off the df aggregate, never off a self-join.
    */
  def dupPassageCoverageFrom(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val base = tok.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    val pos = tok
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), posexplode(shingles(col("toks"))).as(Seq("pos", "sg")))
    val df = pos.select(col("doc_id"), col("sg")).distinct()
      .groupBy("sg").agg(count(lit(1)).as("df"))
    val covered = pos
      .join(df.filter(col("df") > 1).select("sg"), Seq("sg"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + 2)).as("cp"))
      .groupBy("doc_id")
      .agg(countDistinct(col("cp")).as("covered_tokens"))
    base.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        rd(coalesce(col("covered_tokens"), lit(0L)).cast("double") / col("n_tokens"), 6)
          .as("coverage"))
      .orderBy("doc_id")
  }

  /** Exact-substring span-cut cleaner (q214) — the step Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better") run after
    * measuring duplication: REMOVE the duplicated passages instead of
    * dropping whole documents. The cut set is exactly
    * [[dupPassageCoverageFrom]]'s covered positions — every token position
    * inside at least one corpus-duplicated 3-gram — and the kept text is
    * the remaining tokens in document order, emitted as an md5 digest plus
    * the removal census (n_tokens, n_removed, n_kept, cut_ratio). The
    * n_removed column equals q97's covered_tokens per document by
    * construction (spec-pinned), so the measurement and the cleaner can
    * never drift apart.
    *
    * Scale shape: the duplicated-shingle set comes off the same
    * vocabulary-sized df aggregate as q97 (never a pair space); the kept
    * text is rebuilt by a token-position LEFT ANTI join against the covered
    * positions and one per-doc re-collect — linear in the token stream, one
    * shuffle keyed by doc_id, deliberately NOT a per-row
    * `array_contains(covered, i)` membership filter (per-row arrays would
    * be O(doc_len × covered) on a pathological 10k-token document).
    */
  def spanCutClean(spark: SparkSession, dir: String): DataFrame =
    // Probe the PERSISTED duplicated-shingle index (the same MV the
    // streaming cleaner q220 probes per batch and q221 maintains at delta
    // cost) instead of re-deriving it inline: the inline form tokenizes
    // the corpus TWICE (once for the df aggregate, once for the probe —
    // Catalyst does not share subtrees across a join) and denies the
    // planner the index's real size (sink-measured at 100×: 208–217 s
    // inline vs 67–78 s against the MV at comparable canaries; the index
    // build amortizes across every cleaner run until the corpus
    // fingerprint changes). `spanCutCleanAgainst(docs,
    // dupShinglesFrom(docs))` is the self-contained single-relation form;
    // both produce the identical relation.
    spanCutCleanAgainst(Tables.documents(spark, dir), dupShinglesMV(spark, dir))
      .orderBy("doc_id")

  /** The corpus-duplicated 3-gram relation (sg) — q214's cut criterion,
    * factored out as the STANDING INDEX the streaming cleaner (q220) probes
    * per micro-batch: vocabulary-sized (distinct duplicated shingles, never
    * token- or pair-sized), so it is exactly what a crawl pipeline persists
    * next to the corpus. */
  def dupShinglesFrom(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val pos = tok
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), posexplode(shingles(col("toks"))).as(Seq("pos", "sg")))
    pos.select(col("doc_id"), col("sg")).distinct()
      .groupBy("sg").agg(count(lit(1)).as("df"))
      .filter(col("df") > 1).select("sg")
  }

  /** The duplicated-shingle index persisted via the S6 fingerprinted-MV
    * discipline, keyed on the documents source. */
  def dupShinglesMV(spark: SparkSession, dir: String,
                    refresh: Boolean = false): DataFrame =
    Tables.fingerprintedMv(spark,
      java.nio.file.Paths.get(dir, "documents.parquet"),
      "dup_shingles", refresh)(dupShinglesFrom(Tables.documents(spark, dir)))

  /** UNFILTERED shingle document-frequency relation (sg, df) — the
    * maintainable form of the q220 standing index ([[dupShinglesFrom]] is
    * its `df > 1` projection). Vocabulary-sized. */
  def shingleDfFrom(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(shingles(col("toks"))).as("sg"))
      .distinct()
      .groupBy("sg").agg(count(lit(1)).as("df"))

  /** INCREMENTAL shingle-df index maintenance (q221) — the q127/q217
    * base ⊎ delta discipline applied to the crawl pipeline's standing
    * span-cut index: df(sg) counts DISTINCT documents containing sg, and a
    * document's shingles never span ingestion batches (whole documents are
    * the CDC grain, ids never re-sent), so per-batch dfs are ADDITIVE —
    * refreshing the standing index costs one vocabulary-keyed merge of
    * base ∪ delta-df, never a re-scan of corpus history. This closes the
    * q220 loop: ingest batch → clean against the index as it stood →
    * merge the batch's own shingles in at delta cost, stated as a
    * hash-verifiable relation instead of a side-effecting sink.
    */
  def mergeShingleDfDelta(base: DataFrame, deltaDocs: DataFrame): DataFrame = {
    // JOIN-form merge (the q217/mergeSymDelta discipline, round-14): the
    // standing index is unique by sg, so union-then-reaggregate — which
    // shuffles the whole vocabulary-sized base every refresh — is
    // equivalent to one LEFT join plus the delta-only anti-join. With the
    // base persisted in the sg-bucketed standing layout
    // ([[Tables.bucketedMv]], gate q233) the base side plans zero
    // exchanges; unbucketed it degrades to one base shuffle, never worse.
    // The delta's df aggregate is MATERIALIZED (round-15, VERDICT r14
    // item 1): it feeds both the grown-join and the anti-join, and an
    // unmaterialized derivation tokenizes the delta batch once per
    // reference; the checkpoint pins the single derivation. Batch-
    // vocabulary-sized, never corpus-shaped.
    val deltaDf = shingleDfFrom(deltaDocs).withColumnRenamed("df", "ddf")
      .localCheckpoint(true)
    val grown = base.join(deltaDf, Seq("sg"), "left")
      .select(col("sg"), (col("df") + coalesce(col("ddf"), lit(0L))).as("df"))
    val fresh = deltaDf.join(base.select("sg"), Seq("sg"), "left_anti")
      .select(col("sg"), col("ddf").as("df"))
    grown.union(fresh)
  }

  /** Registered q221: deterministic whole-document split (delta = every
    * 10th doc), base index merged with the delta batch; oracle = the df
    * relation rebuilt over the full corpus — hash equality proves the
    * additive maintenance. */
  def shingleDfIncrementalParity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // NOT checkpointed: the merge references the base twice (grown-join +
    // anti-join), but the lazy double-derivation pipelines inside one job,
    // while a checkpoint serializes the base tokenization as its own job —
    // measured ×1.44 SLOWER at sf0.1 (replay_r15.json: 1.16 → 1.67 s, the
    // one surviving r14→r15 bench flag). Production's materialized base is
    // q233's bucketed MV scan, not an in-memory checkpoint.
    val base = shingleDfFrom(docs.filter(col("doc_id") % 10 =!= 0))
    mergeShingleDfDelta(base, docs.filter(col("doc_id") % 10 === 0))
      .select(col("sg"), col("df").cast("long").as("df"))
      .orderBy("sg")
  }

  /** Registered q233: q221's incremental-maintenance contract with the base
    * index PERSISTED in the sg-bucketed standing layout and the merge run
    * against the catalog read-back — [[mergeShingleDfDelta]]'s base side is
    * exchange-free under it. Oracle: q221's full rebuild, hash-exact. */
  def shingleDfIncrementalParityBucketed(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = Tables.bucketedMv(spark,
      java.nio.file.Paths.get(dir, "documents.parquet"),
      "shingle_df_b90", 32, Seq("sg"), Seq("sg")) {
      shingleDfFrom(docs.filter(col("doc_id") % 10 =!= 0))
    }
    mergeShingleDfDelta(base, docs.filter(col("doc_id") % 10 === 0))
      .select(col("sg"), col("df").cast("long").as("df"))
      .orderBy("sg")
  }

  /** The q221 oracle: the full rebuild of the shingle-df relation. */
  def shingleDfIncrementalOracleSql: String = """
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, string_split(norm, ' ') AS toks FROM d
), sh AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sg
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
        FROM t WHERE len(toks) >= 3)
)
SELECT sg, CAST(count(*) AS BIGINT) AS df
FROM sh GROUP BY sg ORDER BY sg"""

  /** Span-cut cleaning of `docs` against a GIVEN duplicated-shingle
    * relation — per-document work only (tokenize, probe the index, anti-join
    * covered positions, re-collect), no corpus aggregate: the unit the
    * streaming cleaner runs per micro-batch. Unordered; the gates add their
    * doc_id ordering. */
  def spanCutCleanAgainst(docs: DataFrame, dupSgs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    spanCutAssemble(tok, coveredPositionsOf(tok, dupSgs))
  }

  /** The (doc_id, p) token positions covered by at least one index-matched
    * 3-gram — q214's cut set, factored so the min-run variant (q243) can
    * merge it into maximal runs before the cut. NOT deduplicated (r20): the
    * one consumer that needs distinct rows (the q243 min-run windows) dedups
    * explicitly; [[spanCutAssemble]] dedups inside its per-doc collect_set
    * aggregate, whose map-side partial aggregation already collapses
    * duplicates — folding what used to be a separate (doc_id, p) distinct
    * exchange into the aggregate's own. */
  private def coveredPositionsOf(tok: DataFrame, dupSgs: DataFrame): DataFrame =
    tok.filter(size(col("toks")) >= 3)
      .select(col("doc_id"), posexplode(shingles(col("toks"))).as(Seq("pos", "sg")))
      .join(dupSgs.select("sg"), Seq("sg"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + 2)).as("p"))

  /** Rebuild the kept token stream + removal census from a cut-position
    * relation (duplicates allowed) — the shared back half of
    * q214/q220/q222/q226/q230/q235/q243.
    *
    * r20 rewrite (guide §2.3/§8 — decide with small rows): the old form
    * posexploded EVERY token of every document, anti-joined, and
    * re-collected each document's kept tokens through a corpus-TOKEN-sized
    * exchange (collect_list + array_sort). The cut positions are LEAK-sized
    * — orders of magnitude below token count — so the rebuild now collects
    * each doc's covered-position set (one leak-sized exchange; collect_set
    * dedups map-side) and filters the document's own token array in place
    * with an indexed higher-order function: no token ever leaves its
    * document row, no token-level shuffle at any scale. Per-token cost is
    * an array_contains over the doc's covered set (empty for clean docs);
    * values byte-identical (spec + oracle pinned).
    */
  private def spanCutAssemble(tok: DataFrame, coveredPos: DataFrame): DataFrame = {
    val covSets = coveredPos.groupBy("doc_id").agg(collect_set(col("p")).as("cov"))
    tok.join(covSets, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        filter(col("toks"), (_, i) =>
          !array_contains(coalesce(col("cov"), array().cast("array<int>")), i))
          .as("ka"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("ka"))).as("n_removed"),
        size(col("ka")).cast("long").as("n_kept"),
        md5(concat_ws(" ", col("ka"))).as("kept_digest"),
        rd((col("n_tokens") - size(col("ka"))).cast("double")
          / col("n_tokens"), 6).as("cut_ratio"))
  }

  /** q243's run-length knob, pinned once (the oracle and spec interpolate
    * it). 6 separates incidental shared trigrams (runs of 3–5 covered
    * positions, kept) from genuine duplicated passages (≥ 6, cut) at the
    * gate corpus; a production run raises it toward Lee et al.'s 50. */
  val SpanCutMinRunTokens = 6

  /** MIN-RUN span-cut cleaner (q243, round-17 — VERDICT r16 item 6): Lee
    * et al. 2022 cut only duplicated runs ≥ 50 tokens, while the q214
    * contract cuts EVERY covered 3-gram position — over-cutting documents
    * that merely share an incidental trigram. Here adjacent covered
    * positions merge into maximal runs (gaps-and-islands: island id =
    * p − row_number over the doc-ordered covered positions, the q87
    * sessionize device) and only runs of ≥ minRunTokens positions are cut.
    * minRunTokens ≤ 3 degenerates to exactly q214 — every island is ≥ 3
    * positions by construction, since coverage comes from 3-token
    * shingles — so the guard short-circuits the windows (property-pinned
    * in SpanCutPropertySpec).
    *
    * Scale shape: q214's linear machinery plus two windows over the
    * covered-position stream, both PARTITIONED BY doc_id (doc-sharded,
    * never a corpus-wide sort) and bounded by per-document coverage.
    */
  def spanCutCleanRunsAgainst(docs: DataFrame, dupSgs: DataFrame,
                              minRunTokens: Int): DataFrame = {
    val tok = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val covered = coveredPositionsOf(tok, dupSgs)
    val cut =
      if (minRunTokens <= 3) covered
      else {
        val byDoc = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("p")
        // the gaps-and-islands windows need DISTINCT positions (r20:
        // coveredPositionsOf no longer dedups — see its doc)
        covered.distinct()
          .withColumn("grp", col("p") - row_number().over(byDoc))
          .withColumn("rl", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("doc_id", "grp")))
          .filter(col("rl") >= minRunTokens)
          .select("doc_id", "p")
      }
    spanCutAssemble(tok, cut)
  }

  /** The q214 oracle: q97's covered-position derivation, then the kept
    * token stream re-aggregated in position order and digested. */
  def spanCutCleanOracleSql: String = """
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
  SELECT DISTINCT doc_id, cp
  FROM (SELECT s.doc_id, unnest(range(s.i, s.i + 3)) AS cp
        FROM sh s JOIN dup USING (sg))
), tp AS (
  SELECT doc_id, i, toks[i] AS tk
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t)
), kept AS (
  SELECT tp.doc_id, count(*) AS n_kept,
         string_agg(tp.tk, ' ' ORDER BY tp.i) AS kept_text
  FROM tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.cp = tp.i
  WHERE cov.cp IS NULL
  GROUP BY tp.doc_id
)
SELECT n.doc_id, n.n_tokens,
       CAST(n.n_tokens - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       md5(COALESCE(k.kept_text, '')) AS kept_digest,
       round(CAST(n.n_tokens - COALESCE(k.n_kept, 0) AS DOUBLE) / n.n_tokens, 6) + 0 AS cut_ratio
FROM n LEFT JOIN kept k ON k.doc_id = n.doc_id
ORDER BY n.doc_id"""

  /** The q243 oracle: q214's covered-position derivation, adjacent covered
    * positions merged into maximal islands per document (the
    * gaps-and-islands pattern), runs below the pinned threshold KEPT, then
    * q214's kept-stream rebuild verbatim. */
  def spanCutMinRunOracleSql(minRunTokens: Int = SpanCutMinRunTokens): String = s"""
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
), cov0 AS (
  SELECT DISTINCT doc_id, cp
  FROM (SELECT s.doc_id, unnest(range(s.i, s.i + 3)) AS cp
        FROM sh s JOIN dup USING (sg))
), isl AS (
  SELECT doc_id, cp,
         cp - row_number() OVER (PARTITION BY doc_id ORDER BY cp) AS grp
  FROM cov0
), runs AS (
  SELECT doc_id, grp FROM isl GROUP BY doc_id, grp
  HAVING count(*) >= $minRunTokens
), cov AS (
  SELECT i.doc_id, i.cp FROM isl i JOIN runs r
  ON r.doc_id = i.doc_id AND r.grp = i.grp
), tp AS (
  SELECT doc_id, i, toks[i] AS tk
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t)
), kept AS (
  SELECT tp.doc_id, count(*) AS n_kept,
         string_agg(tp.tk, ' ' ORDER BY tp.i) AS kept_text
  FROM tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.cp = tp.i
  WHERE cov.cp IS NULL
  GROUP BY tp.doc_id
)
SELECT n.doc_id, n.n_tokens,
       CAST(n.n_tokens - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       md5(COALESCE(k.kept_text, '')) AS kept_digest,
       round(CAST(n.n_tokens - COALESCE(k.n_kept, 0) AS DOUBLE) / n.n_tokens, 6) + 0 AS cut_ratio
FROM n LEFT JOIN kept k ON k.doc_id = n.doc_id
ORDER BY n.doc_id"""

  /** BENCHMARK SPAN DECONTAMINATION (q222) — the eval-leak REMOVAL step of
    * a pretraining pipeline (GPT-3 appendix C; Lee et al. 2022): spans of
    * the training corpus that exactly match any shingle of a held-out
    * benchmark set are cut, keeping the rest of each document. q65 MEASURES
    * cross-set leakage; this removes it — q214's span-cut machinery probed
    * with an EXTERNAL cut set (the benchmark's distinct shingles) instead
    * of the corpus's own duplicated-shingle index. Gate-scale shingles are
    * the engine-wide 3-gram ([[shingles]]); a production run widens n (13
    * in GPT-3) by swapping the shingle width — nothing structural changes.
    *
    * Scale shape: the benchmark shingle set is BENCHMARK-sized (eval sets
    * are MBs against a 100 TB corpus), aggregated to distinct shingles
    * before the probe — a broadcast join that never multiplies; everything
    * downstream is q214's linear per-document machinery (anti-join +
    * per-doc re-collect, one doc_id shuffle, no pair space).
    */
  def benchmarkDecontam(spark: SparkSession, dir: String,
                        benchSource: String = "src0"): DataFrame =
    // probe the FINGERPRINTED benchmark cut-set MV instead of deriving the
    // benchmark shingles inline per run (round-14, VERDICT r13 item 7 — the
    // recorded production choice): decontamination re-runs on every corpus
    // refresh against the SAME eval set, so its shingle set is corpus-level
    // state exactly like q214's dup-shingle index; the MV also hands the
    // planner a real parquet sizeInBytes, keeping the probe a broadcast
    // inside streaming foreachBatch (q230) where AQE is off
    spanCutCleanAgainst(
      Tables.documents(spark, dir).filter(col("source") =!= benchSource),
      benchShinglesMV(spark, dir, benchSource))
      .orderBy("doc_id")

  /** The benchmark's distinct-shingle cut set persisted via the S6
    * fingerprinted-MV discipline (benchmark-sized: eval sets are MBs
    * against a 100 TB corpus). */
  def benchShinglesMV(spark: SparkSession, dir: String,
                      benchSource: String = "src0",
                      refresh: Boolean = false): DataFrame =
    Tables.fingerprintedMv(spark,
      java.nio.file.Paths.get(dir, "documents.parquet"),
      s"bench_shingles_$benchSource", refresh) {
      Tables.documents(spark, dir).filter(col("source") === benchSource)
        .select(explode(shingles(tokens(col("text")))).as("sg")).distinct()
    }

  /** The q222 oracle: the q214 covered-position derivation with the cut
    * set swapped to the benchmark source's distinct shingles and the
    * cleaned population restricted to the non-benchmark sources. */
  def benchmarkDecontamOracleSql(benchSource: String = "src0"): String = s"""
WITH d AS (
  SELECT doc_id, source, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, source, string_split(norm, ' ') AS toks FROM d
), bsh AS (
  SELECT DISTINCT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sg
  FROM (SELECT toks, unnest(range(1, len(toks) - 1)) AS i
        FROM t WHERE source = '$benchSource' AND len(toks) >= 3)
), tt AS (
  SELECT doc_id, toks FROM t WHERE source <> '$benchSource'
), n AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tt
), sh AS (
  SELECT doc_id, i, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sg
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
        FROM tt WHERE len(toks) >= 3)
), cov AS (
  SELECT DISTINCT doc_id, cp
  FROM (SELECT s.doc_id, unnest(range(s.i, s.i + 3)) AS cp
        FROM sh s JOIN bsh USING (sg))
), tp AS (
  SELECT doc_id, i, toks[i] AS tk
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM tt)
), kept AS (
  SELECT tp.doc_id, count(*) AS n_kept,
         string_agg(tp.tk, ' ' ORDER BY tp.i) AS kept_text
  FROM tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.cp = tp.i
  WHERE cov.cp IS NULL
  GROUP BY tp.doc_id
)
SELECT n.doc_id, n.n_tokens,
       CAST(n.n_tokens - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       md5(COALESCE(k.kept_text, '')) AS kept_digest,
       round(CAST(n.n_tokens - COALESCE(k.n_kept, 0) AS DOUBLE) / n.n_tokens, 6) + 0 AS cut_ratio
FROM n LEFT JOIN kept k ON k.doc_id = n.doc_id
ORDER BY n.doc_id"""

  /** The TAGGED multi-benchmark cut set: every benchmark source's distinct
    * shingles as (bench, sg) rows, persisted under the S6 fingerprinted-MV
    * discipline. (Σ benchmark sizes)-shaped — eval sets are MBs against a
    * 100 TB corpus — so the probe side stays broadcast-able at any
    * benchmark COUNT; adding the 41st benchmark changes this MV build, not
    * the probe count downstream. */
  def multiBenchShinglesMV(spark: SparkSession, dir: String,
                           benchSources: Seq[String],
                           refresh: Boolean = false): DataFrame = {
    // the MV name keys on an md5 of the NUL-joined sorted source list
    // (ADVICE r15): raw concatenation made Seq("a_b") and Seq("a","b")
    // collide to one publish, and a path-hostile source string would flow
    // straight into the MV directory name
    val srcKey = java.security.MessageDigest.getInstance("MD5")
      .digest(benchSources.sorted.mkString("\u0000").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    Tables.fingerprintedMv(spark,
      java.nio.file.Paths.get(dir, "documents.parquet"),
      s"bench_shingles_multi_$srcKey", refresh) {
      Tables.documents(spark, dir)
        .filter(col("source").isin(benchSources: _*))
        .select(col("source").as("bench"),
          explode(shingles(tokens(col("text")))).as("sg"))
        .distinct()
    }
  }

  /** MULTI-BENCHMARK SPAN DECONTAMINATION (q235, round-15 — VERDICT r14
    * item 5) — production pipelines decontaminate against DOZENS of eval
    * benchmarks, not one: the cut set is the tagged union of every
    * benchmark's distinct shingles ([[multiBenchShinglesMV]]), probed in
    * ONE pass, and each document's cut is ATTRIBUTED per benchmark for
    * auditability — `benches_hit` lists, per benchmark that leaked into
    * the doc, how many token positions its shingles cover ("src0:12,src2:3",
    * sorted by benchmark). A position covered by several benchmarks counts
    * under each (the audit answers "how much of MY eval is in this doc",
    * per eval), so the per-benchmark counts can sum past `n_removed` by
    * design; the cleaned text itself cuts each position once — q222's
    * clean columns stay byte-identical in semantics.
    *
    * Scale shape: ONE probe join of the corpus shingle stream against the
    * benchmark-sized tagged set; the probe result (covered positions ×
    * covering benchmark — leak-sized, not corpus-sized) is materialized
    * once and feeds both the span cut and the audit aggregate; everything
    * downstream is q214's linear per-document machinery (anti-join +
    * per-doc re-collect, doc_id shuffles, no pair space).
    */
  def multiBenchDecontam(spark: SparkSession, dir: String,
                         benchSources: Seq[String] = DefaultBenchSources)
      : DataFrame =
    multiBenchDecontamAgainst(
      Tables.documents(spark, dir)
        .filter(!col("source").isin(benchSources: _*)),
      multiBenchShinglesMV(spark, dir, benchSources))

  /** The q235 gate's benchmark set, pinned once — the registered query and
    * its oracle SQL both interpolate it (the q234 knob discipline). */
  val DefaultBenchSources: Seq[String] = Seq("src0", "src1", "src2")

  def multiBenchDecontamAgainst(docs: DataFrame,
                                taggedSgs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val pos = tok
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), posexplode(shingles(col("toks"))).as(Seq("pos", "sg")))
    // the ONE probe join; hits = (doc, covered position, covering
    // benchmark) — leak-sized — materialized because it feeds two branches
    // (the cut's covered-position set and the per-benchmark audit)
    val hits = pos.join(taggedSgs.select("bench", "sg"), Seq("sg"))
      .select(col("doc_id"), col("bench"),
        explode(sequence(col("pos"), col("pos") + 2)).as("p"))
      .distinct()
      .localCheckpoint(true)
    // r20: kept-stream rebuild via the per-doc covered-position set + an
    // indexed array filter (the spanCutAssemble rewrite — no token-level
    // explode/shuffle; cov is leak-sized); the audit branch reads the same
    // checkpointed hits
    val covSets = hits.groupBy("doc_id").agg(collect_set(col("p")).as("cov"))
    val audit = hits.groupBy("doc_id", "bench").agg(count(lit(1)).as("n_cov"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("bench"), col("n_cov")))).as("ba"))
      .select(col("doc_id"),
        concat_ws(",", transform(col("ba"),
          x => concat(x.getField("bench"), lit(":"), x.getField("n_cov"))))
          .as("benches_hit"))
    tok.join(covSets, Seq("doc_id"), "left")
      .join(audit, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        filter(col("toks"), (_, i) =>
          !array_contains(coalesce(col("cov"), array().cast("array<int>")), i))
          .as("ka"),
        col("benches_hit"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("ka"))).as("n_removed"),
        size(col("ka")).cast("long").as("n_kept"),
        md5(concat_ws(" ", col("ka"))).as("kept_digest"),
        rd((col("n_tokens") - size(col("ka"))).cast("double")
          / col("n_tokens"), 6).as("cut_ratio"),
        coalesce(col("benches_hit"), lit("")).as("benches_hit"))
      .orderBy("doc_id")
  }

  /** The q235 oracle: q222's covered-position derivation with the cut set
    * widened to the tagged multi-benchmark union and the per-benchmark
    * audit aggregated exactly as the engine does. */
  def multiBenchDecontamOracleSql(benchSources: Seq[String] = DefaultBenchSources)
      : String = {
    val inList = benchSources.map(s => s"'$s'").mkString(", ")
    s"""
WITH d AS (
  SELECT doc_id, source, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, source, string_split(norm, ' ') AS toks FROM d
), bsh AS (
  SELECT DISTINCT source AS bench, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sg
  FROM (SELECT source, toks, unnest(range(1, len(toks) - 1)) AS i
        FROM t WHERE source IN ($inList) AND len(toks) >= 3)
), tt AS (
  SELECT doc_id, toks FROM t WHERE source NOT IN ($inList)
), n AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tt
), sh AS (
  SELECT doc_id, i, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sg
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
        FROM tt WHERE len(toks) >= 3)
), hits AS (
  SELECT DISTINCT doc_id, bench, cp
  FROM (SELECT s.doc_id, b.bench, unnest(range(s.i, s.i + 3)) AS cp
        FROM sh s JOIN bsh b USING (sg))
), cov AS (
  SELECT DISTINCT doc_id, cp FROM hits
), audit AS (
  SELECT doc_id, string_agg(bench || ':' || n_cov, ',' ORDER BY bench) AS benches_hit
  FROM (SELECT doc_id, bench, count(*) AS n_cov FROM hits GROUP BY doc_id, bench)
  GROUP BY doc_id
), tp AS (
  SELECT doc_id, i, toks[i] AS tk
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM tt)
), kept AS (
  SELECT tp.doc_id, count(*) AS n_kept,
         string_agg(tp.tk, ' ' ORDER BY tp.i) AS kept_text
  FROM tp LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.cp = tp.i
  WHERE cov.cp IS NULL
  GROUP BY tp.doc_id
)
SELECT n.doc_id, n.n_tokens,
       CAST(n.n_tokens - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       md5(COALESCE(k.kept_text, '')) AS kept_digest,
       round(CAST(n.n_tokens - COALESCE(k.n_kept, 0) AS DOUBLE) / n.n_tokens, 6) + 0 AS cut_ratio,
       COALESCE(a.benches_hit, '') AS benches_hit
FROM n LEFT JOIN kept k ON k.doc_id = n.doc_id
LEFT JOIN audit a ON a.doc_id = n.doc_id
ORDER BY n.doc_id"""
  }

  /** TOKEN-BUDGET CORPUS SELECTION (q223) — "take the best documents until
    * the budget is spent": every document ranked by the q31 composite
    * quality score (rounded to 6, ties by doc_id — the rounding makes the
    * ORDER itself engine-portable), kept while the EXCLUSIVE cumulative
    * token count is below `budget` (the straddling document is kept, its
    * successors dropped — the same boundary contract as q83's packing).
    * This is the FineWeb-Edu-style curation step: a quality model scores
    * the corpus, the training set is the best slice that fits the compute
    * budget.
    *
    * Scale shape: the global quality ordering is a RANGE partition on
    * (score desc, doc_id) and the cumulative count is the q83 two-phase
    * distributed prefix sum (one #partitions-row driver aggregate,
    * broadcast exclusive prefixes, one streaming pass) — NEVER a
    * single-partition window, which would serialize 100 TB through one
    * task. Scoring is one codegen'd projection over the corpus.
    */
  def tokenBudgetSelectFrom(docs: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    val scored = docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit("[^\\s]+"), lit(0)))
        .cast("long").as("n_tokens"),
      // coalesce pins the (degenerate) empty-document score to 0.0 so the
      // ordering never depends on engine NULL-placement conventions
      coalesce(rd(qualityScore(col("text")), 6), lit(0.0)).as("q"))
    // Pin the NARROW scored projection BEFORE the range exchange:
    // repartitionByRange SAMPLES its child to pick the range bounds, so an
    // unpinned child runs the full corpus scoring scan twice (sample pass +
    // shuffle-map pass). Pinned, the corpus text is scanned and scored
    // exactly ONCE; the sample, the exchange, and the checkpointed
    // partitioned relation all carry only the 3 narrow columns — nothing
    // downstream ever re-reads text (round-14, VERDICT r13 item 4).
    val scoredPin = scored.localCheckpoint(true)
    val parted = scoredPin
      .repartitionByRange(col("q").desc, col("doc_id"))
      .sortWithinPartitions(col("q").desc, col("doc_id"))
      .localCheckpoint(true)
    val totals = parted.groupBy(spark_partition_id().as("pid"))
      .agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val prefixes = totals.keys.toSeq.sorted
      .scanLeft((Int.MinValue, 0L)) { case ((_, acc), pid) => (pid, acc + totals(pid)) }
      .sliding(2).collect { case Seq((_, acc), (pid, _)) => pid -> acc }.toMap
    val bc = spark.sparkContext.broadcast(prefixes)
    parted.select(col("doc_id"), col("n_tokens"), col("q")).as[(Long, Long, Double)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var running = bc.value.getOrElse(pid, 0L)
        it.map { case (id, n, q) =>
          val off = running
          running += n
          (id, n, q, off)
        }
      }
      .toDF("doc_id", "n_tokens", "quality_score", "tokens_before")
      .filter(col("tokens_before") < budget)
      .orderBy("doc_id")
  }

  /** The q223 oracle: the q31 score formula, a window cumulative sum over
    * the (score desc, doc_id) order, exclusive-prefix cut at the budget. */
  def tokenBudgetSelectOracleSql(budget: Long): String = s"""
WITH d AS (
  SELECT doc_id, text, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(regexp_extract_all(text, '[^\\s]+', 0)) AS BIGINT) AS n_tokens,
    CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS alnum_space,
    CAST(len(regexp_extract_all(norm, '\\b(the|a|and|of|to|in|is)\\b', 0)) AS BIGINT) AS stop_hits
  FROM d
), s AS (
  SELECT doc_id, n_tokens,
    COALESCE(round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4
      + (1.0 - CAST(n_chars - alnum_space AS DOUBLE) / nullif(CAST(n_chars AS DOUBLE), 0)) * 0.3
      + least(1.0, CAST(stop_hits AS DOUBLE) / nullif(CAST(n_tokens AS DOUBLE), 0) * 5.0) * 0.3, 6) + 0,
      0.0) AS q
  FROM m
), c AS (
  SELECT doc_id, n_tokens, q,
         COALESCE(sum(n_tokens) OVER (ORDER BY q DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
  FROM s
)
SELECT doc_id, n_tokens, q AS quality_score,
       CAST(tokens_before AS BIGINT) AS tokens_before
FROM c WHERE tokens_before < $budget ORDER BY doc_id"""

  /** LEAKAGE-SAFE TRAIN/VAL/TEST SPLIT (q224) — the holdout-construction
    * guard every evaluation pipeline needs: a plain per-document hash split
    * ([[splitAssign]], q59) puts two near-duplicate documents on OPPOSITE
    * sides of the train/test boundary with probability 2·p·(1−p) — the
    * test set then "evaluates" memorized training text (the leakage q65
    * measures post-hoc). This operator keys the split on the NEAR-DUP
    * CLUSTER representative instead of the document: every member of a
    * cluster ([[nearDupClusters]], the q74 relation) inherits its rep's
    * bucket, so no cluster ever straddles a split; singleton documents key
    * on themselves, which degenerates to exactly the q59 rule. Membership
    * stays a pure function of (content-cluster, hash) — stable across runs
    * and corpus growth, no RNG state.
    *
    * Scale shape: the cluster relation is bounded by clustered docs (a
    * small fraction of a deduplicated corpus) and joins the doc census by
    * doc_id — one keyed equi-join, broadcastable when small; the bucket
    * assignment is a narrow no-shuffle projection. The CC cost is q74's,
    * amortized if the cluster relation is maintained as corpus state.
    */
  def leakSafeSplit(spark: SparkSession, dir: String, threshold: Double = 0.5,
                    pTrain: Int = 90, pVal: Int = 5): DataFrame =
    leakSafeSplitKeyed(Tables.documents(spark, dir),
      nearDupClusters(spark, dir, threshold), pTrain, pVal)

  /** Twin over explicit relations (specs / pipeline stages): `clusters` is
    * any (doc_id, cluster_rep) relation; docs absent from it are singletons. */
  def leakSafeSplitKeyed(docs: DataFrame, clusters: DataFrame,
                         pTrain: Int = 90, pVal: Int = 5): DataFrame = {
    val keyed = docs.select(col("doc_id"))
      .join(clusters.select(col("doc_id"), col("cluster_rep")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_rep"), col("doc_id")).as("split_key"))
    val b = hashBucket(col("split_key"), 100)
    keyed
      .withColumn("split",
        when(b < pTrain, "train").when(b < pTrain + pVal, "val").otherwise("test"))
      .orderBy("doc_id")
  }

  /** The q224 oracle: the q74 recursive-CTE closure for cluster reps, then
    * the q59 md5-bucket rule applied to coalesce(rep, doc_id). */
  def leakSafeSplitOracleSql(pairsCtes: String): String =
    "WITH RECURSIVE " + pairsCtes + """
, edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), clusters AS (
  SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_rep FROM reach GROUP BY a
), keys AS (
  SELECT doc.doc_id, COALESCE(c.cluster_rep, doc.doc_id) AS split_key
  FROM documents doc LEFT JOIN clusters c ON doc.doc_id = c.doc_id
), bk AS (
  SELECT doc_id, split_key,
         CAST(('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
  FROM keys
)
SELECT doc_id, split_key,
       CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
FROM bk ORDER BY doc_id"""

  /** MIXTURE-WEIGHT BUDGET EXECUTION (q225) — the step that turns q89's
    * temperature-scaled mixture WEIGHTS into an actual training corpus
    * (the DoReMi / data-mixing discipline): the global token budget is
    * apportioned per source as floor(weight × budget) — computed in integer
    * micro-weight arithmetic (round(weight·10⁶) recovers the exact integer
    * from the 6-decimal weight, then (micro × budget) div 10⁶) so both
    * engines agree at exact boundaries — and within each source the q223
    * rule applies: documents ranked by the rounded q31 quality composite
    * (ties by doc_id), kept while the EXCLUSIVE within-source cumulative
    * token count is under the source's budget (straddler kept; a
    * zero-budget source keeps nothing).
    *
    * Scale shape: the q223 two-phase prefix sum GENERALIZED to segmented
    * keys — one range partition on (source, score desc, doc_id), segment
    * totals per (partition, source) (a #partitions × #sources driver
    * relation), per-source exclusive prefixes broadcast back, one streaming
    * pass. The budgets relation is sources-sized and broadcast. NEVER a
    * per-source window (few sources ⇒ the window serializes the corpus
    * through #sources tasks at 100 TB).
    */
  def mixtureBudgetSelectFrom(docs: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be positive, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    val budgets = mixtureWeightsFrom(docs).selectExpr("source",
      s"CAST((CAST(round(weight * 1000000) AS BIGINT) * CAST($budget AS BIGINT))" +
        " DIV 1000000 AS BIGINT) AS source_budget")
    val scored = docs.select(col("doc_id"), col("source"),
      size(regexp_extract_all(col("text"), lit("[^\\s]+"), lit(0)))
        .cast("long").as("n_tokens"),
      coalesce(rd(qualityScore(col("text")), 6), lit(0.0)).as("q"))
    // narrow pin before the range exchange — one scoring scan, not two
    // (the q223 range-sampling discipline; see tokenBudgetSelectFrom)
    val scoredPin = scored.localCheckpoint(true)
    val parted = scoredPin
      .repartitionByRange(col("source"), col("q").desc, col("doc_id"))
      .sortWithinPartitions(col("source"), col("q").desc, col("doc_id"))
      .localCheckpoint(true)
    val totals = parted
      .groupBy(spark_partition_id().as("pid"), col("source"))
      .agg(sum("n_tokens").as("t"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val prefixes: Map[(Int, String), Long] = totals.keys.groupBy(_._2)
      .flatMap { case (src, ks) =>
        val pids = ks.map(_._1).toSeq.sorted
        pids.zip(pids.scanLeft(0L)((acc, pid) => acc + totals((pid, src))).init)
          .map { case (pid, off) => (pid, src) -> off }
      }
    val bc = spark.sparkContext.broadcast(prefixes)
    parted.select(col("doc_id"), col("source"), col("n_tokens"), col("q"))
      .as[(Long, String, Long, Double)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        // rows are sorted by (source, …) within the partition, so each
        // source is one contiguous run — reseed the running offset at the
        // source boundary from the broadcast segment prefix
        var cur: String = null
        var running = 0L
        it.map { case (id, src, n, q) =>
          if (src != cur) { cur = src; running = bc.value.getOrElse((pid, src), 0L) }
          val off = running
          running += n
          (id, src, n, q, off)
        }
      }
      .toDF("doc_id", "source", "n_tokens", "quality_score", "tokens_before")
      .join(broadcast(budgets), "source")
      .filter(col("tokens_before") < col("source_budget"))
      .select("doc_id", "source", "n_tokens", "quality_score",
        "tokens_before", "source_budget")
      .orderBy("doc_id")
  }

  /** The q225 oracle: the q89 weight chain to integer per-source budgets,
    * the q31 score formula, a per-source window cumsum, exclusive-prefix
    * cut at each source's budget. */
  def mixtureBudgetSelectOracleSql(budget: Long): String = s"""
WITH d AS (
  SELECT doc_id, source, text, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), m AS (
  SELECT doc_id, source,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(regexp_extract_all(text, '[^\\s]+', 0)) AS BIGINT) AS n_tokens,
    CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS alnum_space,
    CAST(len(regexp_extract_all(norm, '\\b(the|a|and|of|to|in|is)\\b', 0)) AS BIGINT) AS stop_hits
  FROM d
), s AS (
  SELECT doc_id, source, n_tokens,
    COALESCE(round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.4
      + (1.0 - CAST(n_chars - alnum_space AS DOUBLE) / nullif(CAST(n_chars AS DOUBLE), 0)) * 0.3
      + least(1.0, CAST(stop_hits AS DOUBLE) / nullif(CAST(n_tokens AS DOUBLE), 0) * 5.0) * 0.3, 6) + 0,
      0.0) AS q
  FROM m
), per AS (
  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens FROM s GROUP BY source
), t AS (SELECT CAST(sum(src_tokens) AS DOUBLE) AS tot FROM per),
w AS (
  SELECT source, sqrt(CAST(src_tokens AS DOUBLE) / tot) AS wr FROM per CROSS JOIN t
), z AS (SELECT sum(wr) AS z FROM w),
bud AS (
  SELECT source,
         CAST((CAST(round(round(wr / z, 6) * 1000000) AS BIGINT) * $budget) // 1000000 AS BIGINT) AS source_budget
  FROM w CROSS JOIN z
), c AS (
  SELECT doc_id, source, n_tokens, q,
         COALESCE(sum(n_tokens) OVER (PARTITION BY source ORDER BY q DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
  FROM s
)
SELECT c.doc_id, c.source, c.n_tokens, c.q AS quality_score,
       CAST(c.tokens_before AS BIGINT) AS tokens_before, b.source_budget
FROM c JOIN bud b ON c.source = b.source
WHERE c.tokens_before < b.source_budget ORDER BY c.doc_id"""

  /** CHUNK-LEVEL DEDUP CLEANER (q226) — the storage-dedup discipline
    * ([[cdcChunkProfileFrom]], q92) applied as CORPUS CLEANING: q92 only
    * CENSUSES duplicated content-defined chunks; this drops, per document,
    * every chunk whose digest occurs in more than `dfLimit` documents and
    * reassembles the survivors in order — cross-document boilerplate and
    * mirrored passages removed at CDC granularity. Because boundaries are a
    * pure function of LOCAL content, a shared passage chunks identically in
    * every document that contains it regardless of offset, so the df
    * criterion catches shifted duplicates that fixed blocks would miss —
    * the same reason q214's shingle spans do, at a coarser (and far
    * cheaper: ~len/16 chunks vs len shingle positions) granularity.
    * Output mirrors q214's cleaner contract: per-doc census + md5 digest
    * of the reassembled kept text + cut ratio.
    *
    * Scale shape: chunking is per-row array expressions (no per-char
    * explosion); only the ~len/16 chunks explode. df is one hash
    * aggregation keyed by chunk digest (bounded by the DISTINCT chunk
    * vocabulary); the digest join is a keyed equi-join; reassembly is the
    * q214 per-doc re-collect — one doc_id shuffle, no pair space.
    */
  def chunkDedupCleanFrom(docs: DataFrame, dfLimit: Long): DataFrame = {
    val L = length(col("norm"))
    // identical boundary rule to [[cdcChunkProfileFrom]] (md5 nibble-0 on
    // the 8-char window STARTING at i, expected ~16-char chunks), via the
    // same native CdcBounds pass; docs shorter than 9 chars are a single
    // chunk — the cleaner keeps every doc, unlike the census's >= 8 cut
    val bounds = graft.functions.TextFunctions.cdcBounds(col("norm"))
    val chunks = docs
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .filter(length(col("norm")) >= 1)
      .withColumn("bs", bounds)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("bs"))), j =>
          col("norm").substr(
            element_at(col("bs"), j),
            when(j < size(col("bs")), element_at(col("bs"), j + 1) - element_at(col("bs"), j))
              .otherwise(L - element_at(col("bs"), j) + 1)))))
      .select(col("doc_id"), col("pos"), col("col").as("chunk"),
        md5(col("col")).as("dg"))
    val dfRel = chunks.select(col("doc_id"), col("dg")).distinct()
      .groupBy("dg").agg(count(lit(1)).as("df"))
    chunks.join(dfRel, "dg")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("df") <= dfLimit, 1L).otherwise(0L)).as("n_kept"),
        md5(concat_ws("",
          transform(
            sort_array(collect_list(
              when(col("df") <= dfLimit, struct(col("pos"), col("chunk"))))),
            s => s.getField("chunk")))).as("kept_digest"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"), col("kept_digest"),
        rd((col("n_chunks") - col("n_kept")).cast("double") / col("n_chunks"), 6)
          .as("cut_ratio"))
      .orderBy("doc_id")
  }

  /** The q226 oracle: q92's chunking CTE extended with per-doc positions,
    * digest df, and the ordered kept-chunk reassembly. */
  def chunkDedupCleanOracleSql(dfLimit: Long = 1L): String = s"""
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), b AS (
  SELECT doc_id, norm,
         list_prepend(1, CASE WHEN length(norm) >= 9
           THEN list_filter(range(2, length(norm) - 6),
                            i -> substr(md5(substr(norm, i, 8)), 1, 1) = '0')
           ELSE [] END) AS bs
  FROM d WHERE length(norm) >= 1
), c AS (
  SELECT doc_id,
         unnest(range(1, len(bs) + 1)) AS pos,
         unnest(list_transform(range(1, len(bs) + 1), j ->
           substr(norm, bs[j],
                  CASE WHEN j < len(bs) THEN bs[j + 1] - bs[j]
                       ELSE length(norm) - bs[j] + 1 END))) AS chunk
  FROM b
), g AS (
  SELECT doc_id, pos, chunk, md5(chunk) AS dg FROM c
), f AS (
  SELECT dg, count(DISTINCT doc_id) AS df FROM g GROUP BY dg
), k AS (
  SELECT g.doc_id, g.pos, g.chunk, f.df FROM g JOIN f USING (dg)
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN df <= $dfLimit THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(COALESCE(string_agg(CASE WHEN df <= $dfLimit THEN chunk END, ''
                               ORDER BY pos), '')) AS kept_digest,
       round(CAST(count(*) - sum(CASE WHEN df <= $dfLimit THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) + 0 AS cut_ratio
FROM k GROUP BY doc_id ORDER BY doc_id"""

  /** BM25 retrieval scoring (Robertson/Sparck Jones, the Okapi form with
    * k1 = 1.2, b = 0.75) of the corpus against a fixed query-term set — the
    * ranking step of a retrieval-augmented pipeline over the training corpus.
    * idf = ln((N − df + 0.5)/(df + 0.5) + 1) (the non-negative variant
    * Lucene uses); dl/avgdl is the standard length normalization.
    *
    * Scale shape: term postings are FILTERED to the query terms before any
    * aggregation (the predicate reaches the token explode, so the shuffle
    * carries query-term postings only — at 100 TB that is |terms| postings
    * lists, not the corpus vocabulary); df/N/avgdl are tiny relations
    * broadcast into the scoring projection; one per-doc aggregation sums
    * ≤ |terms| contributions. Ranking sorts the rounded score so the
    * (score, doc_id) tie-break is engine-stable.
    */
  def bm25TopDocsFrom(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    // k1 = 1.2, b = 0.75, written as the PRE-FOLDED double literals 2.2 /
    // 1.2 / 0.25 / 0.75 so the oracle SQL states bit-identical constants
    // (k1 + 1.0 computed at runtime could round differently than the
    // literal an oracle author writes)
    val tok = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"), col("toks"))
    val corpus = tok.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val postings = tok
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfRel = postings.groupBy("tok").agg(count(lit(1)).as("df"))
    val scored = postings
      .join(broadcast(dfRel), "tok")
      .crossJoin(broadcast(corpus))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib",
        col("idf") * (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id", "dl")
      .agg(count(lit(1)).as("n_terms_matched"), rd(sum("contrib"), 6).as("bm25"))
    // top-k via sort+limit (TakeOrderedAndProject: per-partition heaps, never
    // a single-partition rank window); the k-row result then numbers itself
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bm25").desc, col("doc_id").asc)
    scored
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rk", row_number().over(w).cast("long"))
      .select(col("rk"), col("doc_id"), col("dl").as("n_tokens"),
        col("n_terms_matched"), col("bm25"))
      .orderBy("rk")
  }

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis exponential-jumps form): each document draws a
    * reproducible uniform u ∈ (0, 1] from md5(doc_id) and competes with key
    * −ln(u)/w, w = n_chars; the k smallest keys per source are the sample.
    * Heavier documents draw systematically smaller keys, so the inclusion
    * probability is proportional to weight — but the whole draw is a pure
    * function of doc_id, reproducible on any worker, any engine, any re-run.
    *
    * Scale shape: a per-row key projection + a per-source top-k rank window
    * (the stratified-sample q71 shape); no global sort, no RNG state, no
    * driver round-trip. The key is emitted rounded; the RANKING uses the raw
    * double — ln is deterministic on-host and a rank flip would need two
    * keys within one ulp of each other.
    */
  def weightedSampleFrom(docs: DataFrame, k: Int): DataFrame = {
    val maxU = math.pow(16.0, 15) // 15 hex digits: fits a long exactly
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("double") + 1.0) / maxU
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("key").asc, col("doc_id").asc)
    docs
      // zero-weight guard: w = 0 would divide to a NULL/Inf key, and NULL
      // ordering defaults differ between engines (Spark ASC = NULLS FIRST,
      // the oracle's row_number = NULLS LAST) — a zero-length document must
      // never enter the sample (inclusion probability ∝ weight = 0), so it
      // is filtered on BOTH sides rather than ordered around
      .filter(col("n_chars") > 0)
      .select(col("source"), col("doc_id"), col("n_chars"),
        (-log(u) / col("n_chars")).as("key"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk"), col("doc_id"), col("n_chars"),
        rd(col("key") * 1e3, 6).as("key_milli"))
      .orderBy("source", "rk")
  }

  /** Frontier-style per-domain quota (q213) — the CommonCrawl-prep staple:
    * cap how many documents any one domain (the `source` column) may
    * contribute to a training corpus, so a single crawl-heavy host can't
    * dominate the mixture (the same per-host politeness/cap discipline a
    * crawl frontier applies, moved to corpus construction; CCNet and
    * Gopher/MassiveText both apply per-domain limits before training).
    *
    * Selection is md5-DETERMINISTIC (the house sampling contract): each
    * document draws the 52-bit integer prefix of md5(doc_id) — exact as a
    * double, so no FP ambiguity — and the `cap` smallest hashes per domain
    * survive, ties broken by doc_id. A hash order (not first-N by id)
    * makes the kept set a uniform sample of the domain, stable under
    * corpus append: adding documents can only displace, never reshuffle,
    * the survivors.
    *
    * Scale shape: ONE hash aggregate per domain through the bounded
    * [[graft.functions.TopKByScore]] k-heap — partial heaps of ≤ cap rows
    * combine map-side, so the shuffle carries ≤ cap × partitions rows per
    * domain regardless of how many billions of pages the domain crawled
    * (the reason this is the k-heap and not q71's row_number window, which
    * would shuffle and sort EVERY row of the hot domain to one partition).
    */
  def domainQuota(documents: DataFrame, cap: Int = 10): DataFrame =
    documents
      .select(col("source"), col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("long").as("hv"))
      .groupBy("source")
      .agg(graft.functions.TopKByScore.topK(
        (-col("hv")).cast("double"), col("doc_id"), cap).as("top"))
      .select(col("source"), explode(col("top")).as("e"))
      .select(col("source"), col("e.rk").as("rk"), col("e.id").as("doc_id"))
      .orderBy("source", "rk")

  /** The q213 oracle: the same 52-bit md5 key ranked by a window. */
  def domainQuotaOracleSql(cap: Int = 10): String = s"""
WITH h AS (
  SELECT source, doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS hv
  FROM documents
), r AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rk
  FROM h
)
SELECT source, CAST(rk AS BIGINT) AS rk, doc_id
FROM r WHERE rk <= $cap ORDER BY source, rk"""

  /** Multi-part public suffixes the [[registrableDomain]] extraction
    * recognizes — a representative embedded subset of the Mozilla Public
    * Suffix List's two-label entries (the full PSL is a data file a
    * deployment ships alongside the job; the extraction RULE is what's
    * implemented here). Shared verbatim with the oracle SQL so the two
    * sides can never drift.
    */
  val MultiPartSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "co.in",
    "com.au", "net.au", "com.br", "com.cn")

  /** Registrable-domain (eTLD+1) extraction from a full URL — the
    * production CommonCrawl quota key: `news.bbc.co.uk/...` and
    * `www.bbc.co.uk/...` must count against ONE domain budget (`bbc.co.uk`),
    * which neither the raw URL nor the bare host gives. Pure codegen'd
    * string expressions: strip the scheme, take the host up to any
    * port/path/query, split on dots, and keep the last 2 labels — or 3 when
    * the trailing 2 form a known multi-part public suffix (a `.co.uk` site's
    * registrable domain is 3 labels deep). Hosts with fewer labels pass
    * through whole.
    */
  def registrableDomain(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val host = regexp_extract(url, "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)
    val labels = split(host, "\\.")
    val n = size(labels)
    val suffix2 = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
    val keep = when(n >= 3 && suffix2.isInCollection(MultiPartSuffixes), lit(3))
      .otherwise(least(n, lit(2)))
    concat_ws(".", slice(labels, keep * -1, keep))
  }

  /** Per-REGISTRABLE-DOMAIN quota (q216) — q213's frontier cap moved from
    * the raw `source` string to the eTLD+1 of a full URL, the discipline a
    * real crawl corpus needs (one hot site spread across `www.` / `news.` /
    * `cdn.` subdomains is still ONE domain budget). The corpus carries no
    * URL column, so the gate SYNTHESIZES a deterministic URL per document —
    * subdomain drawn from md5(doc_id), public suffix fixed per source site
    * by md5(source) (a site keeps one suffix; its documents spread across
    * subdomains) — and the oracle replays the identical synthesis, so what
    * is verified end-to-end is the extraction + quota machinery on
    * realistic URL shapes. Selection and scale shape are exactly q213's:
    * the smallest `cap` 52-bit md5(doc_id) keys per domain through ONE
    * bounded k-heap aggregate (≤ cap × partitions shuffle rows per domain
    * however hot it is).
    */
  def urlDomainQuota(documents: DataFrame, cap: Int = 10): DataFrame = {
    val subs = array(lit("www"), lit("news"), lit("blog"), lit("cdn"))
    val sufs = array(lit("com"), lit("org"), lit("co.uk"), lit("com.au"))
    val url = concat(lit("https://"),
      element_at(subs,
        (conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("int") % 4) + 1),
      lit("."), col("source"), lit("."),
      element_at(sufs,
        (conv(substring(md5(col("source")), 1, 2), 16, 10).cast("int") % 4) + 1),
      lit("/doc/"), col("doc_id").cast("string"))
    documents
      .select(col("doc_id"), registrableDomain(url).as("domain"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("long").as("hv"))
      .groupBy("domain")
      .agg(graft.functions.TopKByScore.topK(
        (-col("hv")).cast("double"), col("doc_id"), cap).as("top"))
      .select(col("domain"), explode(col("top")).as("e"))
      .select(col("domain"), col("e.rk").as("rk"), col("e.id").as("doc_id"))
      .orderBy("domain", "rk")
  }

  /** The q216 oracle: identical URL synthesis, eTLD+1 rule (same embedded
    * suffix list, interpolated from [[MultiPartSuffixes]]), and ranked
    * window over the 52-bit md5 key. */
  def urlDomainQuotaOracleSql(cap: Int = 10): String = {
    val sufList = MultiPartSuffixes.map(s => s"'$s'").mkString(", ")
    s"""
WITH u AS (
  SELECT doc_id,
         'https://' ||
         (['www', 'news', 'blog', 'cdn'])[(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) % 4) + 1] ||
         '.' || source || '.' ||
         (['com', 'org', 'co.uk', 'com.au'])[(CAST(('0x' || substr(md5(source), 1, 2)) AS INT) % 4) + 1] ||
         '/doc/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), lab AS (
  SELECT doc_id,
         string_split(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1), '.') AS l
  FROM u
), dom AS (
  SELECT doc_id,
         CASE WHEN len(l) >= 3
                   AND (l[len(l) - 1] || '.' || l[len(l)]) IN ($sufList)
              THEN array_to_string(l[len(l) - 2 : len(l)], '.')
              ELSE array_to_string(l[greatest(len(l) - 1, 1) : len(l)], '.')
         END AS domain
  FROM lab
), k AS (
  SELECT domain, doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS hv
  FROM dom
), r AS (
  SELECT domain, doc_id,
         row_number() OVER (PARTITION BY domain ORDER BY hv, doc_id) AS rk
  FROM k
)
SELECT domain, CAST(rk AS BIGINT) AS rk, doc_id
FROM r WHERE rk <= $cap ORDER BY domain, rk"""
  }

  /** A parsed Public-Suffix-List rule: `base` is the rule's label sequence
    * (for a wildcard, the labels AFTER the `*.`; for an exception, after the
    * `!`), `kind` ∈ {normal, wildcard, exception}, `baseLabels` = label
    * count of `base`. */
  final case class PslRule(base: String, kind: String, baseLabels: Int)

  /** Parse PSL-format text (one rule per line, `//` comments, `*.` wildcard
    * prefix, `!` exception prefix) into rules. The implicit `*` default rule
    * is applied by the algorithm, never listed. */
  def parsePsl(lines: Iterator[String]): Seq[PslRule] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("//")).map { l =>
      if (l.startsWith("!")) { val b = l.drop(1); PslRule(b, "exception", b.count(_ == '.') + 1) }
      else if (l.startsWith("*.")) { val b = l.drop(2); PslRule(b, "wildcard", b.count(_ == '.') + 1) }
      else PslRule(l, "normal", l.count(_ == '.') + 1)
    }.toSeq

  /** The embedded PSL subset (`graft/psl_subset.dat` on the classpath — a
    * deployment ships the full published list in the same format). Loaded
    * once; the q218 oracle interpolates the SAME parsed rules, so engine and
    * oracle can never drift. */
  lazy val PslSubset: Seq[PslRule] = {
    val in = getClass.getClassLoader.getResourceAsStream("graft/psl_subset.dat")
    require(in != null, "psl_subset.dat missing from classpath")
    try parsePsl(scala.io.Source.fromInputStream(in, "UTF-8").getLines())
    finally in.close()
  }

  /** FULL-ALGORITHM registrable-domain (eTLD+1) extraction from a host's
    * label array, driven by a parsed PSL rule set — the production upgrade
    * of [[registrableDomain]]'s two-label heuristic: wildcard rules (`*.ck`
    * — every second-level .ck label is a public suffix), exception rules
    * (`!www.ck` — carved back out), and the implicit `*` default for
    * unlisted TLDs, with the PSL precedence order (an exception rule
    * prevails over everything; otherwise the longest matching rule wins).
    *
    * The rule set is driver-side data, so the matcher COMPILES to a pure
    * codegen'd when-chain over the host's k-label suffixes (the prefix-trie-
    * expression option: rules grouped by suffix length become one
    * `isInCollection` membership test per (kind, k) — no explode, no join,
    * no shuffle; the quota aggregate downstream remains the only exchange).
    * A host that IS a public suffix (e.g. `site.ck` under `*.ck`) has no
    * registrable domain and yields NULL — callers filter those out, exactly
    * what a crawl frontier does with apex-suffix URLs.
    *
    * The labels are an ALREADY-SPLIT array. The split (and the regexp
    * host-extract, and whatever synthesized the URL) must be staged as a
    * real column before a when-chain that references it in every branch:
    * inlined, the k×(kinds+1) branch conditions each carry their own copy
    * of the url→host→labels subtree, the generated code blows past the JIT
    * method budget, and the projection falls off codegen — measured 41 s
    * vs 1.7 s at 100× on q218 for exactly this. Per-branch work over
    * the label ATTRIBUTE (slice + array_join + set membership) is cheap.
    */
  def registrableDomainPslOfLabels(labels: org.apache.spark.sql.Column,
                                   rules: Seq[PslRule]): org.apache.spark.sql.Column = {
    val n = size(labels)
    def suffixK(k: Int) = array_join(slice(labels, -k, k), ".")
    // precedence: exceptions first (longest first), then effective rule
    // length (wildcard = base + 1) descending; first match wins
    val exceptions = rules.filter(_.kind == "exception")
      .groupBy(_.baseLabels).toSeq.sortBy(-_._1)
    val byEff = rules.filter(_.kind != "exception")
      .groupBy(r => r.baseLabels + (if (r.kind == "wildcard") 1 else 0))
      .toSeq.sortBy(-_._1)
    val checks: Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)] =
      exceptions.map { case (b, rs) =>
        (n >= b && suffixK(b).isInCollection(rs.map(_.base)), lit(b - 1))
      } ++ byEff.flatMap { case (eff, rs) =>
        val wilds = rs.filter(_.kind == "wildcard").map(_.base)
        val norms = rs.filter(_.kind == "normal").map(_.base)
        Seq(
          if (wilds.nonEmpty) Some((n >= eff && suffixK(eff - 1).isInCollection(wilds), lit(eff))) else None,
          if (norms.nonEmpty) Some((n >= eff && suffixK(eff).isInCollection(norms), lit(eff))) else None
        ).flatten
      }
    // implicit '*' default: the bare TLD is the public suffix
    val psLen = checks.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
      case (None, (c, v)) => Some(when(c, v))
      case (Some(acc), (c, v)) => Some(acc.when(c, v))
    }.fold(lit(1))(_.otherwise(lit(1)))
    when(n >= psLen + 1,
      array_join(slice(labels, (psLen + 1) * -1, psLen + 1), "."))
      .otherwise(lit(null).cast("string"))
  }

  /** Per-registrable-domain quota under the FULL PSL algorithm (q218) —
    * q216's quota with [[registrableDomainPslOfLabels]] as the key, over a URL
    * synthesis that exercises every rule kind: the per-source suffix pool
    * covers a normal rule (`com`), a multi-part normal (`co.uk`), a
    * WILDCARD TLD (`ck` — the registrable domain keeps the subdomain,
    * because `site.ck` itself is a public suffix), and an UNLISTED TLD
    * (`zz` — the implicit `*` default); a deterministic doc slice lands on
    * the exception host `www.ck` exactly (its own registrable domain — the
    * `!www.ck` carve-out), and another on the bare public suffix `co.uk`,
    * which has NO registrable domain and is dropped, the crawl-frontier
    * discipline for apex-suffix URLs. Selection and scale shape are q213's
    * bounded k-heap; the PSL matcher adds zero exchanges.
    */
  def urlDomainQuotaPsl(documents: DataFrame, cap: Int = 10): DataFrame = {
    val subs = array(lit("www"), lit("news"), lit("blog"), lit("cdn"))
    val sufs = array(lit("com"), lit("co.uk"), lit("ck"), lit("zz"))
    val dKey = col("doc_id").cast("string")
    val d2 = conv(substring(md5(dKey), 3, 2), 16, 10).cast("int")
    val synth = concat(
      element_at(subs, (conv(substring(md5(dKey), 1, 2), 16, 10).cast("int") % 4) + 1),
      lit("."), col("source"), lit("."),
      element_at(sufs, (conv(substring(md5(col("source")), 1, 2), 16, 10).cast("int") % 4) + 1))
    val host = when(d2 % 7 === 0, lit("www.ck"))
      .when(d2 % 11 === 1, lit("co.uk"))
      .otherwise(synth)
    val url = concat(lit("https://"), host, lit("/doc/"), dKey)
    documents
      // STAGED columns: url→host→labels materialize once per row; the PSL
      // when-chain then references only the cheap label attribute (see
      // registrableDomainPslOfLabels — unstaged this fell off codegen)
      .select(col("doc_id"),
        split(regexp_extract(url, "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1), "\\.").as("labs"),
        conv(substring(md5(dKey), 1, 13), 16, 10).cast("long").as("hv"))
      .select(col("doc_id"),
        registrableDomainPslOfLabels(col("labs"), PslSubset).as("domain"),
        col("hv"))
      .groupBy("domain")
      .agg(graft.functions.TopKByScore.topK(
        (-col("hv")).cast("double"), col("doc_id"), cap).as("top"))
      // apex-suffix hosts (domain NULL) ride the aggregate as one extra
      // group and are dropped HERE, post-aggregate, behind a plan fence:
      // un-fenced, this grouping-key predicate is pushed to the scan where
      // pruning inlines the staged url→labels tree into every branch —
      // measured 40.5 s vs 1.7 s at 100× (see PushdownBarrier)
      .filter(graft.functions.PushdownBarrier.fence(col("domain").isNotNull))
      .select(col("domain"), explode(col("top")).as("e"))
      .select(col("domain"), col("e.rk").as("rk"), col("e.id").as("doc_id"))
      .orderBy("domain", "rk")
  }

  /** The q218 oracle: identical URL synthesis and the SAME parsed rule set
    * interpolated into a SQL replica of the PSL precedence (exception,
    * then longest match, then the implicit `*` default), ranked by the
    * 52-bit md5 key. */
  def urlDomainQuotaPslOracleSql(cap: Int = 10, rules: Seq[PslRule] = PslSubset): String = {
    def inList(rs: Seq[PslRule]) = rs.map(r => s"'${r.base}'").mkString(", ")
    def suffixK(k: Int) = s"array_to_string(l[greatest(len(l) - ${k - 1}, 1) : len(l)], '.')"
    val exceptions = rules.filter(_.kind == "exception")
      .groupBy(_.baseLabels).toSeq.sortBy(-_._1)
    val byEff = rules.filter(_.kind != "exception")
      .groupBy(r => r.baseLabels + (if (r.kind == "wildcard") 1 else 0))
      .toSeq.sortBy(-_._1)
    val whens = (exceptions.map { case (b, rs) =>
      s"WHEN len(l) >= $b AND ${suffixK(b)} IN (${inList(rs)}) THEN ${b - 1}"
    } ++ byEff.flatMap { case (eff, rs) =>
      val wilds = rs.filter(_.kind == "wildcard")
      val norms = rs.filter(_.kind == "normal")
      Seq(
        if (wilds.nonEmpty) Some(s"WHEN len(l) >= $eff AND ${suffixK(eff - 1)} IN (${inList(wilds)}) THEN $eff") else None,
        if (norms.nonEmpty) Some(s"WHEN len(l) >= $eff AND ${suffixK(eff)} IN (${inList(norms)}) THEN $eff") else None
      ).flatten
    }).mkString("\n           ")
    s"""
WITH u AS (
  SELECT doc_id,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 3, 2)) AS INT) % 7 = 0 THEN 'www.ck'
              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 3, 2)) AS INT) % 11 = 1 THEN 'co.uk'
              ELSE (['www', 'news', 'blog', 'cdn'])[(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) % 4) + 1] ||
                   '.' || source || '.' ||
                   (['com', 'co.uk', 'ck', 'zz'])[(CAST(('0x' || substr(md5(source), 1, 2)) AS INT) % 4) + 1]
         END AS host
  FROM documents
), lab AS (
  SELECT doc_id, string_split(host, '.') AS l FROM u
), ps AS (
  SELECT doc_id, l,
         CASE $whens
              ELSE 1 END AS ps_len
  FROM lab
), dom AS (
  SELECT doc_id,
         CASE WHEN len(l) >= ps_len + 1
              THEN array_to_string(l[len(l) - ps_len : len(l)], '.')
              ELSE NULL END AS domain
  FROM ps
), k AS (
  SELECT domain, doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS hv
  FROM dom WHERE domain IS NOT NULL
), r AS (
  SELECT domain, doc_id,
         row_number() OVER (PARTITION BY domain ORDER BY hv, doc_id) AS rk
  FROM k
)
SELECT domain, CAST(rk AS BIGINT) AS rk, doc_id
FROM r WHERE rk <= $cap ORDER BY domain, rk"""
  }

  /** The COMPLETE published Public Suffix List
    * (`graft/public_suffix_list.dat` on the classpath — the
    * publicsuffix.org `public_suffix_list.dat` artifact verbatim, ICANN +
    * private sections, ~9.5k rules), parsed by [[parsePsl]] with every rule
    * base normalized to its A-label form via the SAME IDNA conversion the
    * runtime applies to hosts ([[graft.functions.IdnAscii.convert]]): the
    * list carries Unicode rules (`рф`, `政府.hk`) and PSL matching is
    * defined over A-labels, so both sides must normalize or every IDN
    * suffix silently misses. Loaded once per JVM.
    */
  lazy val PslFull: Seq[PslRule] = {
    val in = getClass.getClassLoader.getResourceAsStream("graft/public_suffix_list.dat")
    require(in != null, "public_suffix_list.dat missing from classpath")
    try parsePsl(scala.io.Source.fromInputStream(in, "UTF-8").getLines())
      .map(r => r.copy(base = graft.functions.IdnAscii.convert(r.base)))
    finally in.close()
  }

  /** Per-registrable-domain quota under the COMPLETE published PSL with IDN
    * host normalization (q231) — q218's full-algorithm quota upgraded from
    * the 35-line subset to the real ~9.5k-rule list (round-14, VERDICT r13
    * item 5), plus the punycode step q218 deferred: hosts are lowercased
    * and IDNA-normalized ([[graft.functions.IdnAscii]]) BEFORE label
    * splitting, so Unicode hosts match their A-label rules.
    *
    * The URL synthesis exercises what the subset could not: a 4-label
    * normal rule (`pvt.k12.ma.us`), TWO wildcard families (`*.ck`,
    * `*.kawasaki.jp`) with their exception carve-outs (`!www.ck`,
    * `!city.kawasaki.jp`), a Unicode TLD (`рф` → `xn--p1ai`), a Unicode
    * registrable label (`münchen.de` → `xn--mnchen-3ya.de`), an unlisted
    * TLD (`zz`, the implicit `*` default), and a bare 4-label public
    * suffix that must be dropped.
    *
    * Compiled-matcher size at the full list: the when-chain still has one
    * branch per (kind, effective-length) group — ~12 branches — because
    * rule COUNT lands in per-branch `isInCollection` sets, which the
    * optimizer turns into O(1) InSet lookups referenced (not inlined) by
    * the generated code; codegen size is independent of the 9.5k rules
    * (spec-asserted via the codegen-path evaluation in
    * TextExpressionsSpec). Scale shape is q213/q218's unchanged: staged
    * host→labels projection, one bounded k-heap aggregate, the
    * PushdownBarrier fence on the NULL-domain drop.
    */
  def urlDomainQuotaPslFull(documents: DataFrame, cap: Int = 10): DataFrame = {
    val subs = array(lit("www"), lit("news"), lit("blog"), lit("cdn"))
    val sufs = array(lit("com"), lit("co.uk"), lit("pvt.k12.ma.us"),
      lit("ck"), lit("kawasaki.jp"), lit("рф"), lit("zz"))
    val dKey = col("doc_id").cast("string")
    val d2 = conv(substring(md5(dKey), 3, 2), 16, 10).cast("int")
    val synth = concat(
      element_at(subs, (conv(substring(md5(dKey), 1, 2), 16, 10).cast("int") % 4) + 1),
      lit("."), col("source"), lit("."),
      element_at(sufs, (conv(substring(md5(col("source")), 1, 2), 16, 10).cast("int") % 7) + 1))
    val host = when(d2 % 7 === 0, lit("www.ck"))
      .when(d2 % 11 === 1, lit("city.kawasaki.jp"))
      .when(d2 % 13 === 2, lit("pvt.k12.ma.us"))
      .when(d2 % 17 === 3, lit("münchen.de"))
      .otherwise(synth)
    val url = concat(lit("https://"), host, lit("/doc/"), dKey)
    documents
      // STAGED columns (the q218 codegen discipline): url→host→IDNA→labels
      // materialize once per row; the when-chain references only the label
      // attribute
      .select(col("doc_id"),
        split(graft.functions.TextFunctions.idnAscii(
          lower(regexp_extract(url, "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1))),
          "\\.").as("labs"),
        conv(substring(md5(dKey), 1, 13), 16, 10).cast("long").as("hv"))
      .select(col("doc_id"),
        registrableDomainPslOfLabels(col("labs"), PslFull).as("domain"),
        col("hv"))
      .groupBy("domain")
      .agg(graft.functions.TopKByScore.topK(
        (-col("hv")).cast("double"), col("doc_id"), cap).as("top"))
      .filter(graft.functions.PushdownBarrier.fence(col("domain").isNotNull))
      .select(col("domain"), explode(col("top")).as("e"))
      .select(col("domain"), col("e.rk").as("rk"), col("e.id").as("doc_id"))
      .orderBy("domain", "rk")
  }

  /** The q231 oracle: identical synthesis with the A-label literals
    * pre-converted at SQL-generation time (the same
    * [[graft.functions.IdnAscii.convert]] the engine runs per row), and the
    * FULL rule set as an interpolated VALUES relation with the PSL
    * precedence stated relationally — every (host, k-label-suffix) joined
    * against the rules, exceptions prevailing, else the longest effective
    * match, else the implicit `*`. The join form replaces q218's
    * interpolated when-chain because 9.5k rules belong in a relation, not
    * a CASE expression; both state the same precedence.
    */
  def urlDomainQuotaPslFullOracleSql(cap: Int = 10,
                                     rules: Seq[PslRule] = PslFull): String = {
    val idn = graft.functions.IdnAscii.convert _
    val maxLab = rules.map(_.baseLabels).max
    val ruleRows = rules.map { r =>
      val kind = r.kind match {
        case "exception" => "x"; case "wildcard" => "w"; case _ => "n"
      }
      s"('${r.base}','$kind',${r.baseLabels})"
    }.mkString(",\n    ")
    s"""
WITH rules(base, kind, blab) AS (
  VALUES
    $ruleRows
), u AS (
  SELECT doc_id, source,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 3, 2)) AS INT) % 7 = 0 THEN 'www.ck'
              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 3, 2)) AS INT) % 11 = 1 THEN 'city.kawasaki.jp'
              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 3, 2)) AS INT) % 13 = 2 THEN 'pvt.k12.ma.us'
              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 3, 2)) AS INT) % 17 = 3 THEN '${idn("münchen.de")}'
              ELSE (['www', 'news', 'blog', 'cdn'])[(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) % 4) + 1] ||
                   '.' || source || '.' ||
                   (['com', 'co.uk', 'pvt.k12.ma.us', 'ck', 'kawasaki.jp', '${idn("рф")}', 'zz'])[(CAST(('0x' || substr(md5(source), 1, 2)) AS INT) % 7) + 1]
         END AS host
  FROM documents
), lab AS (
  SELECT doc_id, string_split(host, '.') AS l FROM u
), cand AS (
  SELECT doc_id, len(l) AS n, k,
         array_to_string(l[len(l) - k + 1 : len(l)], '.') AS suf
  FROM lab, unnest(range(1, least(len(l), $maxLab) + 1)) AS t(k)
), m AS (
  -- a rule matches when the host's blab-label suffix equals its base; a
  -- wildcard additionally needs one more host label (the PSL "domain must
  -- contain at least as many labels as the rule" clause — the '*' is a
  -- label). eff = the public-suffix length the rule implies.
  SELECT c.doc_id,
         CASE WHEN r.kind = 'x' THEN r.blab - 1 END AS exc_eff,
         CASE WHEN r.kind = 'w' AND c.n > r.blab THEN r.blab + 1
              WHEN r.kind = 'n' THEN r.blab END AS nor_eff
  FROM cand c JOIN rules r ON c.suf = r.base AND c.k = r.blab
), agg AS (
  SELECT doc_id, max(exc_eff) AS exc_eff, max(nor_eff) AS nor_eff
  FROM m GROUP BY doc_id
), ps AS (
  SELECT lab.doc_id, lab.l,
         COALESCE(agg.exc_eff, agg.nor_eff, 1) AS ps_len
  FROM lab LEFT JOIN agg USING (doc_id)
), dom AS (
  SELECT doc_id,
         CASE WHEN len(l) >= ps_len + 1
              THEN array_to_string(l[len(l) - ps_len : len(l)], '.')
              ELSE NULL END AS domain
  FROM ps
), k AS (
  SELECT domain, doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS hv
  FROM dom WHERE domain IS NOT NULL
), r AS (
  SELECT domain, doc_id,
         row_number() OVER (PARTITION BY domain ORDER BY hv, doc_id) AS rk
  FROM k
)
SELECT domain, CAST(rk AS BIGINT) AS rk, doc_id
FROM r WHERE rk <= $cap ORDER BY domain, rk"""
  }

  /** Fixed-size overlapping RAG chunks: documents sliced into `size`-token
    * windows every `stride` tokens (stride < size ⇒ overlap, the standard
    * retrieval-chunking scheme), each chunk materialized as
    * (doc_id, chunk_id, start_tok, n_tok, chunk_digest). Complements
    * [[packedSpansFrom]] (training packing: splits at GLOBAL sequence
    * boundaries, no overlap) and [[cdcChunkProfileFrom]] (content-defined
    * boundaries): RAG chunking is per-document, fixed-grid, overlapping.
    *
    * Invariants (spec-pinned): chunks cover every token (last chunk end =
    * n_tokens for every doc), consecutive chunks overlap by exactly
    * size − stride tokens (when a next chunk exists), and the digest is the
    * md5 of the space-joined token slice — the dedupable chunk identity.
    *
    * Scale shape: a single per-row generator (explode over the chunk grid —
    * ⌈n/stride⌉ rows per doc) with the slice + hash computed inside the
    * projection; no join, no window, no shuffle beyond the final sort.
    */
  def ragChunksFrom(docs: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= size, got size=$chunkSize stride=$stride")
    // `div`, not `/`: Spark's / on integers is fractional division
    val nChunks = lit(1L) +
      when(col("n") <= chunkSize, lit(0L))
        .otherwise(expr(s"(n - $chunkSize + ${stride - 1}) div $stride"))
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n"), col("toks"))
      .select(col("doc_id"), col("n"), col("toks"),
        explode(sequence(lit(0L), nChunks - 1L)).as("chunk_id"))
      .select(
        col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride).as("start_tok"),
        least(lit(chunkSize.toLong), col("n") - col("chunk_id") * stride).as("n_tok"),
        md5(concat_ws(" ",
          slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"),
            least(lit(chunkSize.toLong), col("n") - col("chunk_id") * stride).cast("int"))))
          .as("chunk_digest"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Per-document BIGRAM surprisal with unigram interpolation — the
    * second-order refinement of [[unigramSurprisalFrom]] (q82): each
    * document scores avg(−ln(½·P(t|prev) + ½·P(t))) over its bigram
    * positions. Interpolation with the unigram model (λ = ½, an exact
    * binary fraction) handles rare contexts without add-k smoothing; both
    * models are trained on the corpus itself, so every count ≥ 1.
    *
    * Scale shape (join order re-measured round 8, VERDICT r7 item 7): the
    * corpus bigram stream — the only corpus-sized relation — shuffles
    * exactly ONCE. All model statistics (cb, cp, cu, t) are first attached
    * to the bigram-VOCABULARY relation keyed (lang, prev, tok) through
    * vocabulary-sized joins, the per-key surprisal −ln(p) is precomputed
    * there, and the corpus stream joins that single model relation. The
    * previous shape joined the corpus stream three times (on
    * (lang,prev,tok), (lang,prev), (lang,tok)) — measured 13.1 s vs 9.3 s
    * min-of-2 warm at 100× (500k docs), a 1.4× win with identical values
    * (the per-position addends are the same doubles). Per-lang totals
    * broadcast; bigrams come from a per-row array transform (no window, no
    * lag shuffle).
    */
  def bigramSurprisalFrom(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
    val bigrams = base
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1), i =>
          struct(element_at(col("toks"), i).as("prev"),
            element_at(col("toks"), i + 1).as("tok")))).as("bg"))
      .select(col("doc_id"), col("lang"),
        col("bg.prev").as("prev"), col("bg.tok").as("tok"))
    val cb = bigrams.groupBy("lang", "prev", "tok").agg(count(lit(1)).as("cb"))
    val cp = cb.groupBy("lang", "prev").agg(sum("cb").as("cp"))
    val cu = base.select(col("lang"), explode(col("toks")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("lang", "tok").agg(count(lit(1)).as("cu"))
    val tot = cu.groupBy("lang").agg(sum("cu").as("t"))
    // one vocabulary-sized model relation carrying the finished per-key
    // surprisal: every corpus bigram key exists in cb (the model trains on
    // the corpus itself), so the single equi-join below loses nothing
    val model = cb.join(cp, Seq("lang", "prev"))
      .join(cu, Seq("lang", "tok"))
      .join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("prev"), col("tok"),
        (-log(col("cb").cast("double") / col("cp") * 0.5 +
              col("cu").cast("double") / col("t") * 0.5)).as("surp"))
    bigrams
      .join(model, Seq("lang", "prev", "tok"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"), rd(avg(col("surp")), 6).as("avg_surprisal"))
      .orderBy("doc_id")
  }

  /** Cross-language quality calibration: raw quality scores are not
    * comparable across languages (stopword lists, token lengths differ), so
    * each document's score is re-expressed as its PERCENT RANK within its
    * language — the quantile-normalization step a mixture filter applies
    * before one global threshold. Ties share a rank (equal scores calibrate
    * equally); `decile` is the coarse bucket a sampler keys on.
    *
    * Scale shape: per-row score projection + one rank window PARTITIONED BY
    * lang (state shards by language; within a language the window is a
    * range-sort, not a single-partition funnel — and at 100 TB the
    * production variant computes per-lang quantile cutoffs on a sample and
    * assigns by broadcast comparison, validated against this exact contract,
    * the same pattern as [[surprisalBucketsFrom]]).
    */
  def qualityCalibrationFrom(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"), col("lang"),
      rd(qualityScore(col("text")), 6).as("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("quality_score")
    scored
      .withColumn("pct_rank", percent_rank().over(w))
      .select(col("doc_id"), col("lang"), col("quality_score"),
        rd(col("pct_rank"), 6).as("pct_rank"),
        least(floor(col("pct_rank") * 10).cast("long"), lit(9L)).as("decile"))
      .orderBy("doc_id")
  }

  /** Jaro–Winkler record linkage over a COLLAPSED value domain (q174):
    * candidate generation collapses the rows to their distinct `valueCol`
    * values with multiplicities (one hash aggregate), and the quadratic
    * similarity step runs only on that bounded-domain relation — the same
    * collapse discipline as [[fuzzyMatches]], with the domain (64 part
    * names here) playing the role the block key plays there. Similarity is
    * the codegen'd [[graft.functions.JaroWinkler]] expression, bit-matched
    * to DuckDB's `jaro_winkler_similarity`, so the τ cut selects identical
    * pairs on both engines and the gate hash-compares exactly.
    *
    * At 100 TB: the collapsed relation is small enough to broadcast
    * whenever the value domain is (catalog names, brands, titles); for
    * open-domain strings you block first (the [[fuzzyMatches]] prefix
    * strategy) and apply the same scorer inside blocks.
    */
  def jwLinkage(rows: DataFrame, valueCol: String, tau: Double): DataFrame = {
    val n = rows.groupBy(col(valueCol).as("name")).agg(count(lit(1)).as("n"))
    val a = n.select(col("name").as("name_a"), col("n").as("n_a"))
    val b = n.select(col("name").as("name_b"), col("n").as("n_b"))
    a.join(broadcast(b), col("name_a") < col("name_b"))
      .withColumn("jw",
        graft.functions.TextFunctions.jaroWinkler(col("name_a"), col("name_b")))
      .filter(col("jw") >= tau)
      .select(col("name_a"), col("name_b"), rd(col("jw"), 6).as("jw"),
        col("n_a"), col("n_b"))
      .orderBy("name_a", "name_b")
  }

  /** Vocabulary-growth curve + Heaps-law fit (q201): type/token counts at
    * corpus checkpoints — the tokenizer-sizing and corpus-diversity
    * diagnostic (is vocabulary still growing, or is the crawl recycling
    * itself?). Heaps' law V = K·n^β predicts β in log-log space; the gate
    * publishes the OLS slope over the checkpoint curve via the q162
    * quantize-first decimal sufficient statistics.
    *
    * The sequential-looking part — "vocabulary seen so far" — distributes
    * exactly: a type is new at the checkpoint of its FIRST document
    * (min(doc_id) per token — one hash aggregate), so cumulative vocabulary
    * is a prefix sum of per-checkpoint new-type counts, and cumulative
    * tokens a prefix sum of per-checkpoint token counts.
    *
    * Scale shape: two corpus-keyed hash aggregates (per-doc counts,
    * first-occurrence per token); everything after lives on the checkpoint
    * relation, whose size is corpus/bucketDocs — choose bucketDocs so the
    * curve has O(100–1000) points at any corpus size (growth curves are
    * read on log axes; checkpoint granularity scales with the corpus). The
    * prefix windows run over that bounded relation only.
    */
  def vocabGrowth(documents: DataFrame, bucketDocs: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d6 = org.apache.spark.sql.types.DecimalType(20, 6)
    val tk = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
    val perDoc = tk.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val tokB = perDoc.groupBy(expr(s"doc_id div $bucketDocs").as("ckpt"))
      .agg(sum(col("n_tok")).as("toks"), count(lit(1)).as("docs"))
    val vocB = tk.groupBy("tok").agg(min(col("doc_id")).as("fd"))
      .groupBy(expr(s"fd div $bucketDocs").as("ckpt"))
      .agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy("ckpt").rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(lit(1))
    val curve = tokB.join(vocB, Seq("ckpt"), "left")
      .na.fill(0L, Seq("new_types"))
      .withColumn("docs_seen", sum(col("docs")).over(w))
      .withColumn("tokens_seen", sum(col("toks")).over(w))
      .withColumn("vocab_size", sum(col("new_types")).over(w))
      .withColumn("x", rd(log(col("tokens_seen").cast("double")), 6).cast(d6))
      .withColumn("y", rd(log(col("vocab_size").cast("double")), 6).cast(d6))
    curve
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sx", sum(col("x")).over(wAll))
      .withColumn("sy", sum(col("y")).over(wAll))
      .withColumn("sxx", sum(col("x") * col("x")).over(wAll))
      .withColumn("sxy", sum(col("x") * col("y")).over(wAll))
      .select(col("ckpt"), col("docs_seen"), col("tokens_seen"), col("vocab_size"),
        rd(col("vocab_size").cast("double") / col("tokens_seen"), 6).as("ttr"),
        rd((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / nullIfZero((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")), 6)
          .as("heaps_beta"))
      .orderBy("ckpt")
  }

  /** Prefix-filtered set-similarity self-join (q212) — the SSJoin/PPJoin
    * family (Chaudhuri et al. ICDE 2006; Xiao et al. WWW 2008): all
    * document pairs with token-set Jaccard ≥ τ, WITHOUT joining on every
    * shared token. If J(A,B) ≥ τ then |A∩B| ≥ ceil(τ·|A|), so B must hit
    * one of A's first |A| − ceil(τ·|A|) + 1 tokens under a GLOBAL token
    * order — rarest-first (ascending document frequency), which makes the
    * prefixes the rarest tokens and collapses the candidate space.
    *
    * Candidates come from an equi-join on prefix tokens only, double-pruned
    * in the join condition by PPJoin's LENGTH filter (τ ≤ |A|/|B| ≤ 1/τ) and
    * POSITIONAL filter (Xiao et al. WWW 2008 §3.2: a matching prefix token at
    * positions pA, pB bounds the overlap by 1 + min(|A|−pA, |B|−pB), which
    * must still reach the Jaccard minoverlap ⌈τ/(1+τ)·(|A|+|B|)⌉ — computed
    * all-integer as (num·(|A|+|B|) + num+den−1) div (num+den)). Lossless:
    * a qualifying pair's FIRST common token in the global order sits inside
    * both prefixes (else fewer than minoverlap tokens would remain), and at
    * that token the positional bound ≥ the true overlap ≥ minoverlap. Each
    * surviving candidate is verified with the EXACT intersection of the two
    * sorted element arrays; the τ cut is the integer cross-multiplication
    * den·|A∩B| ≥ num·|A∪B| — no FP ever decides membership.
    *
    * The registered universe is the 3-word SHINGLE set (`shingled = true`,
    * τ = 7/10): shingles are Zipfian-many even on this corpus's 31-word
    * vocabulary, so the threshold discriminates (near-dup pairs ≥ 0.9, all
    * others < 0.3 at sf0.01) and the prefix index discards most of each set.
    * The word-token universe (`shingled = false`) remains for corpora where
    * whole-set token overlap is the right granularity.
    *
    * Scale shape: the prefix index is Σ prefix-length rows (≈ (1−τ)·element
    * volume); the join key is an element whose prefix posting list is short
    * BY CONSTRUCTION (common elements appear in prefixes only for docs with
    * nothing rarer); the positional filter then cuts candidates that merely
    * share a rare element without compatible set geometry; verification
    * joins carry two bounded arrays per candidate. The definitional
    * every-shared-element join this replaces fans out on the most common
    * element in the corpus.
    */
  def prefixSimilarityJoin(documents: DataFrame, tauNum: Int = 7,
                           tauDen: Int = 10, shingled: Boolean = true,
                           collapseSets: Option[Boolean] = None): DataFrame = {
    require(tauNum <= tauDen, "tau must be <= 1")
    val tk = if (shingled) docShingles(documents) else docTokens(documents)
    // eager localCheckpoint, NOT cache (ADVICE r11): the relation is
    // consumed by the path probe, verify, and both expansions, but a
    // .cache() here would stay registered in the CacheManager for the whole
    // session across repeated invocations; checkpoint blocks are released
    // by the ContextCleaner as soon as the plan is unreachable, and the
    // probe's two counts run against the materialization either way
    val sets = tk.groupBy("doc_id")
      .agg(sort_array(collect_list(col("tok"))).as("ts"), count(lit(1)).as("sz"))
      .withColumn("sig", md5(concat_ws("|", col("ts"))))
      .localCheckpoint(true)
    // ADAPTIVE EXACT-SET COLLAPSE (the q27 dedupBase discipline): documents
    // with IDENTICAL element sets join identically with every other set, so
    // only one representative per distinct set needs to enter the pair
    // machinery, with members expanded afterwards. On an exact-dup-heavy
    // corpus (the 100× replica shape: 100-member clusters) the direct join
    // pays candidates + array-intersect verify 100×100 times per cluster
    // pair — measured 464 s warm at 100×, vs 9.2 s collapsed (the output's
    // 27.3M pairs are inherent; only the expansion touches them). On a
    // dup-free corpus the collapse machinery is pure overhead (~4 s at
    // sf0.1), so the path is chosen by a distinct-signature probe on the
    // cached set relation — two cheap counts, the pageRank deg.count()
    // pattern. The md5-over-sorted-array signature ('|' never occurs in
    // normalized tokens) is internal — never output.
    // collapse pays only when duplication is SUBSTANTIAL: the rep/member/
    // intra machinery costs a few extra small joins, worth it when the
    // candidate+verify work shrinks materially (cluster-size² per pair),
    // pure overhead for a handful of stray dups (sf0.1 carries 8/5000)
    val collapse = collapseSets.getOrElse {
      // r19: one aggregate job over the checkpointed relation instead of two
      // separate count actions (same two numbers, one job barrier fewer)
      val r = sets.agg(count(lit(1)), countDistinct(col("sig"))).head()
      val (nDocs, nSigs) = (r.getLong(0), r.getLong(1))
      nSigs * 10L < nDocs * 9L // >10% duplicate sets
    }
    if (!collapse) {
      // optimization round r19: the candidate universe re-derived docShingles
      // (normalize + explode + a corpus-wide distinct exchange) even though
      // `sets` already holds each doc's sorted distinct shingle array —
      // exploding the checkpointed sets IS the same (doc_id, tok) relation,
      // one corpus scan cheaper. `sz` rides along so the per-doc set-size
      // window inside prefixCandidates collapses to a column reference
      // (measured on the decomposition probe: candidates+verify ~2.0 →
      // ~1.3 s at sf0.1, full q212 3.44 → 2.6–3.0 s).
      val cand = prefixCandidates(
        sets.select(col("doc_id"), col("sz"), explode(col("ts")).as("tok")),
        tauNum, tauDen, sizeCol = Some("sz"))
      cand
        .join(sets.select(col("doc_id").as("da"), col("ts").as("ta"), col("sz").as("sa")), "da")
        .join(sets.select(col("doc_id").as("db"), col("ts").as("tb"), col("sz").as("sb")), "db")
        .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
        .withColumn("un", col("sa") + col("sb") - col("inter"))
        .filter(col("inter") * tauDen >= col("un") * tauNum)
        .select(col("da").as("doc_a"), col("db").as("doc_b"), col("inter"), col("un"),
          rd(col("inter").cast("double") / col("un"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    } else {
      val reps = sets.groupBy("sig").agg(min(col("doc_id")).as("rep"))
      val repSets = sets.join(reps, sets("doc_id") === reps("rep"))
        .select(col("doc_id"), col("ts"), col("sz"))
      val tkRep = repSets.select(col("doc_id"), col("sz"), explode(col("ts")).as("tok"))
      val cand = prefixCandidates(tkRep, tauNum, tauDen, sizeCol = Some("sz"))
      val repPairs = cand
        .join(repSets.select(col("doc_id").as("da"), col("ts").as("ta"), col("sz").as("sa")), "da")
        .join(repSets.select(col("doc_id").as("db"), col("ts").as("tb"), col("sz").as("sb")), "db")
        .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
        .withColumn("un", col("sa") + col("sb") - col("inter"))
        .filter(col("inter") * tauDen >= col("un") * tauNum)
        .select(col("da"), col("db"), col("inter"), col("un"),
          rd(col("inter").cast("double") / col("un"), 6).as("jaccard"))
      // member expansion: every member pair across two qualifying distinct
      // sets inherits the rep pair's statistics verbatim
      val mem = sets.select(col("sig"), col("doc_id"))
        .join(reps, "sig").select(col("rep"), col("doc_id"))
      val cross = repPairs
        .join(mem.select(col("rep").as("da"), col("doc_id").as("ma")), "da")
        .join(mem.select(col("rep").as("db"), col("doc_id").as("mb")), "db")
        .select(least(col("ma"), col("mb")).as("doc_a"),
          greatest(col("ma"), col("mb")).as("doc_b"),
          col("inter"), col("un"), col("jaccard"))
      // intra-set pairs: identical non-empty sets have J = 1 ≥ τ by
      // construction (inter = un = sz), exactly what the definitional join
      // emits for them
      val intra = sets.select(col("sig"), col("doc_id"), col("sz")).as("x")
        .join(sets.select(col("sig"), col("doc_id")).as("y"),
          col("x.sig") === col("y.sig") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          col("x.sz").as("inter"), col("x.sz").as("un"), lit(1.0).as("jaccard"))
      cross.union(intra).orderBy("doc_a", "doc_b")
    }
  }

  /** Distinct normalized tokens per document (the word-level q212 universe). */
  private[graft] def docTokens(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0).distinct()

  /** Distinct 3-word shingles per document (the registered q212 universe) —
    * the same element space q27's Jaccard pairs and the MinHash family
    * band over, as a (doc_id, tok) relation.
    */
  private[graft] def docShingles(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(shingles(col("toks"))).as("tok"))
      .distinct()

  /** q212's candidate stage alone: pairs sharing a RAREST-FIRST prefix
    * token, cut by the length and (optionally) positional filters — exposed
    * with a `positional` switch so the spec can pin that the positional
    * filter prunes candidates the other two filters keep.
    */
  private[graft] def prefixCandidates(tk: DataFrame, tauNum: Int,
                                      tauDen: Int,
                                      positional: Boolean = true,
                                      sizeCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r19 (contract made explicit in r20, ADVICE r19): when the caller
    // already knows each doc's set size — sizeCol names a column that MUST
    // equal count(tok) per doc_id, e.g. the `sz` carried by the exploded
    // aggregated-sets relation — the per-doc count window collapses to that
    // column: one Window pass saved; the row_number pass still orders the
    // doc's tokens rarest-first. Opt-in by name, never inferred from column
    // presence (a stray same-named column would silently shrink prefixes
    // and DROP qualifying pairs).
    val df = tk.select("doc_id", "tok").groupBy("tok").agg(count(lit(1)).as("df"))
    val ranked0 = tk.join(df, "tok")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))).cast("long"))
    val ranked = sizeCol match {
      case Some(c) => ranked0.withColumn("s", col(c))
      case None =>
        ranked0.withColumn("s", count(lit(1)).over(Window.partitionBy("doc_id")))
    }
    // prefix length p = s - ceil(tau*s) + 1, all-integer
    val prefix = ranked
      .filter(col("rn") <= col("s") - expr(s"($tauNum * s + $tauDen - 1) div $tauDen") + 1)
      .select(col("doc_id"), col("tok"), col("s"), col("rn"))
    // PPJoin's LENGTH filter rides the candidate join: J >= tau forces
    // tau <= |A|/|B| <= 1/tau, so size-mismatched pairs drop before the
    // expensive verify - lossless by the same inequality the tau cut uses
    val lengthOk =
      col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
        col("a.s") * tauDen >= col("b.s") * tauNum &&
        col("b.s") * tauDen >= col("a.s") * tauNum
    // POSITIONAL filter: overlap via this token is at most the token itself
    // plus whatever follows it on the shorter remaining side; that bound
    // must still reach the integer Jaccard minoverlap
    val joinCond =
      if (positional)
        lengthOk && expr(
          s"1 + least(a.s - a.rn, b.s - b.rn) >= " +
            s"(CAST($tauNum AS BIGINT) * (a.s + b.s) + ${tauNum + tauDen - 1}) " +
            s"div ${tauNum + tauDen}")
      else lengthOk
    prefix.as("a").join(prefix.as("b"), joinCond)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** The q212 oracle: the DEFINITIONAL every-shared-element join + the same
    * integer τ cut — hash equality proves the prefix + length + positional
    * filter stack is lossless.
    */
  def prefixSimilarityJoinOracleSql(tauNum: Int = 7, tauDen: Int = 10,
                                    shingled: Boolean = true): String = {
    val universe =
      if (shingled) """t AS (
  SELECT doc_id, string_split(norm, ' ') AS toks FROM d
), tk AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tok
  FROM t
),"""
      else """t AS (
  SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM d
), tk AS (SELECT DISTINCT doc_id, tok FROM t WHERE length(tok) > 0),"""
    s"""
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), $universe
sz AS (SELECT doc_id, count(*) AS s FROM tk GROUP BY 1),
pr AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
  FROM tk a JOIN tk b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), j AS (
  SELECT pr.da, pr.db, pr.inter,
         za.s + zb.s - pr.inter AS un
  FROM pr JOIN sz za ON za.doc_id = pr.da JOIN sz zb ON zb.doc_id = pr.db
)
SELECT da AS doc_a, db AS doc_b, CAST(inter AS BIGINT) AS inter,
       CAST(un AS BIGINT) AS un,
       round(CAST(inter AS DOUBLE) / un, 6) + 0 AS jaccard
FROM j WHERE inter * $tauDen >= un * $tauNum
ORDER BY doc_a, doc_b"""
  }

  /** The q201 oracle: identical first-occurrence prefix construction and
    * decimal OLS over the checkpoint curve.
    */
  def vocabGrowthOracleSql: String = """
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
), t AS (
  SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM d
), tk AS (SELECT doc_id, tok FROM t WHERE length(tok) > 0),
pd AS (SELECT doc_id, count(*) AS n_tok FROM tk GROUP BY 1),
tb AS (
  SELECT doc_id // 100 AS ckpt, sum(n_tok) AS toks, count(*) AS docs
  FROM pd GROUP BY 1
), fo AS (SELECT tok, min(doc_id) AS fd FROM tk GROUP BY 1),
vb AS (SELECT fd // 100 AS ckpt, count(*) AS new_types FROM fo GROUP BY 1),
j AS (
  SELECT tb.ckpt, tb.toks, tb.docs, coalesce(vb.new_types, 0) AS new_types
  FROM tb LEFT JOIN vb ON vb.ckpt = tb.ckpt
), c AS (
  SELECT ckpt,
         sum(docs) OVER win AS docs_seen,
         sum(toks) OVER win AS tokens_seen,
         sum(new_types) OVER win AS vocab_size
  FROM j WINDOW win AS (ORDER BY ckpt ROWS UNBOUNDED PRECEDING)
), xy AS (
  SELECT ckpt, docs_seen, tokens_seen, vocab_size,
         CAST(round(ln(CAST(tokens_seen AS DOUBLE)), 6) + 0 AS DECIMAL(20,6)) AS x,
         CAST(round(ln(CAST(vocab_size AS DOUBLE)), 6) + 0 AS DECIMAL(20,6)) AS y
  FROM c
), s AS (
  SELECT ckpt, docs_seen, tokens_seen, vocab_size, x, y,
         count(*) OVER () AS n, sum(x) OVER () AS sx, sum(y) OVER () AS sy,
         sum(x * x) OVER () AS sxx, sum(x * y) OVER () AS sxy
  FROM xy
)
SELECT CAST(ckpt AS BIGINT) AS ckpt,
       CAST(docs_seen AS BIGINT) AS docs_seen,
       CAST(tokens_seen AS BIGINT) AS tokens_seen,
       CAST(vocab_size AS BIGINT) AS vocab_size,
       round(CAST(vocab_size AS DOUBLE) / CAST(tokens_seen AS DOUBLE), 6) + 0 AS ttr,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
           / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0), 6) + 0 AS heaps_beta
FROM s ORDER BY ckpt"""
}
