package graft.operators

import graft.functions.Fx._
import graft.functions.TopKByScore
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Portable, fully-oracled streaming-sketch family.
  *
  * The repo already carries the Spark-native sketches (HLL `approx_count_
  * distinct`, KLL `approx_percentile` — q53) under the documented rows-only
  * contract: their hash functions have no DuckDB equivalent. This file adds
  * the complementary pair the 100 TB surface wants when the sketch itself
  * must be REPRODUCIBLE across engines (audits, incremental pipelines that
  * persist sketch state, cross-system handoffs):
  *
  *  - KMV (k minimum values) distinct-count sketch — Bar-Yossef et al. 2002,
  *    the classic (k-1)/R_k estimator. Built on the repo's portable 60-bit
  *    md5-prefix hash (the q49 twin convention), so DuckDB replays the
  *    ENTIRE sketch bit-for-bit and the gate is hash-exact — the first
  *    fully-oracled cardinality sketch on the surface.
  *  - Count-min sketch (Cormode & Muthukrishnan 2005) heavy-hitter
  *    estimates — integer counters, no float path at all, hash-exact by
  *    construction.
  *
  * Scale shape (the reason these forms are the 100 TB ones):
  *  - KMV: one DISTINCT shuffle keyed by (group, hash) with map-side partial
  *    dedup, then the k-bounded TopKByScore heap — the second shuffle
  *    carries at most k rows per partition per group, never the distinct
  *    set. Sketches of two corpora merge by unioning hash sets (pinned by
  *    SketchesSpec: sketch(A ∪ B) == merge(sketch(A), sketch(B))).
  *  - CMS: the cell relation aggregates to at most depth×width rows with
  *    map-side combine (the explode-by-depth multiplies rows only BEFORE
  *    the partial aggregate); the probe join broadcasts the ≤256-row
  *    sketch. Point queries never rescan the stream.
  */
object Sketches {

  /** 2^60 as a double — normalizes the 60-bit portable hash into [0, 1). */
  private val TwoPow60 = 1152921504606846976.0

  /** Portable 60-bit uniform hash: first 15 hex chars of md5 → BIGINT.
    * `conv(..., 16, 10)` here ≡ `CAST(('0x' || substr(md5(x), 1, 15)) AS
    * BIGINT)` in DuckDB (the established q49-twin convention).
    */
  private[operators] def h60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  // -------------------------------------------------------------------------
  // KMV distinct-count sketch
  // -------------------------------------------------------------------------

  /** Per-group KMV sketch rows: the k smallest distinct 60-bit hashes of
    * `valueCol`, plus the exact distinct-hash count (the sketch is exact
    * below k, estimated at/above it). One row per group.
    *
    * The min-k is the TopKByScore heap with score = -h: double(-h) is
    * monotone non-increasing in h and the heap breaks score ties by id ASC
    * (id = the exact 64-bit h), so the kept set is EXACTLY the k smallest
    * hashes even where -h collapses in double — the estimator reads the
    * exact `id` longs, never the lossy score.
    */
  def kmvSketch(rows: DataFrame, groupCol: String, valueCol: String, k: Int): DataFrame = {
    val d = rows
      .select(col(groupCol), h60(col(valueCol)).as("h"))
      .distinct()
    d.groupBy(groupCol)
      .agg(
        TopKByScore.topK(-col("h").cast("double"), col("h"), k).as("mins"),
        count(lit(1)).as("n_distinct"))
  }

  /** KMV estimate per group: exact count below k, else (k-1)/R_k with
    * R_k = kth-smallest-hash / 2^60 (Bar-Yossef et al. 2002). Emits the
    * exact distinct count alongside so the gate pins BOTH the sketch
    * content (via the estimate) and its error against truth.
    */
  def kmvDistinct(events: DataFrame, k: Int = 32): DataFrame = {
    val sk = kmvSketch(events, "event_type", "user_id", k)
    val kth = element_at(filter(col("mins"), e => e("rk") === k), 1)("id")
    sk.select(
        col("event_type"),
        col("n_distinct").cast("long").as("n_distinct"),
        rd(
          when(col("n_distinct") <= k, col("n_distinct").cast("double"))
            .otherwise(lit((k - 1).toDouble) / (kth.cast("double") / lit(TwoPow60))),
          6).as("kmv_est"))
      .orderBy("event_type")
  }

  def kmvDistinctGate(spark: SparkSession, dir: String, k: Int = 32): DataFrame =
    kmvDistinct(Tables.events(spark, dir), k)

  // -------------------------------------------------------------------------
  // Count-min sketch heavy hitters
  // -------------------------------------------------------------------------

  /** Depth-row bucket columns for one value: row j hashes with a j-salted
    * portable hash mod `width`. h60 is non-negative (60-bit), so `%` is a
    * true mod on both engines.
    */
  private def cmsBuckets(v: Column, depth: Int, width: Int): Column =
    array((0 until depth).map { j =>
      struct(
        lit(j).as("depth"),
        (h60(concat(lit(s"$j|"), v.cast("string"))) % width).as("bucket"))
    }: _*)

  /** The CMS cell relation: (depth, bucket) → count. At most depth×width
    * rows survive the aggregate; the pre-aggregate explode multiplies rows
    * only until the map-side combine folds them.
    */
  def cmsCells(rows: DataFrame, valueCol: String, depth: Int, width: Int): DataFrame =
    rows
      .select(explode(cmsBuckets(col(valueCol), depth, width)).as("c"))
      .groupBy(col("c.depth").as("depth"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Heavy-hitter point queries: exact top-N users by frequency (count DESC,
    * user_id ASC — deterministic), each estimated from the sketch as
    * min over depth rows of its cell counter. CMS guarantees
    * cms_est >= n_exact; SketchesSpec pins that inequality and the exact
    * ε-bound form. Integer-only — hash-exact with no rounding contract.
    */
  def cmsHeavyHitters(events: DataFrame, depth: Int = 4, width: Int = 64,
                      topN: Int = 10): DataFrame = {
    val cells = cmsCells(events, "user_id", depth, width)
    val top = events
      .groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id"))
      .limit(topN)
    val probes = top
      .select(col("user_id"), col("n_exact"),
        explode(cmsBuckets(col("user_id"), depth, width)).as("p"))
      .select(col("user_id"), col("n_exact"),
        col("p.depth").as("depth"), col("p.bucket").as("bucket"))
    probes
      .join(broadcast(cells), Seq("depth", "bucket"))
      .groupBy(col("user_id"), col("n_exact"))
      .agg(min(col("cnt")).cast("long").as("cms_est"))
      .orderBy(col("n_exact").desc, col("user_id"))
  }

  // -------------------------------------------------------------------------
  // Two-pass EXACT heavy hitters: Misra–Gries candidates → exact recount
  // -------------------------------------------------------------------------

  /** Items of `keyCol` whose EXACT frequency exceeds total/phi, computed
    * without ever aggregating the full key universe — the canonical 100 TB
    * frequent-items shape (q172):
    *
    *  1. Candidate pass: one [[graft.functions.MisraGriesKeys]] aggregate
    *     with `capacity` counters. Map-side partials are ≤ capacity entries
    *     per task; the exchange carries O(capacity) bytes per partition, and
    *     the merged summary is guaranteed (MG invariant) to contain every
    *     key with frequency > total/(capacity+1).
    *  2. Exact pass: recount ONLY the candidates — a broadcast left-semi
    *     join filters the stream map-side, so the groupBy shuffle carries
    *     at most `capacity` distinct keys per partition — then apply the
    *     real threshold total/phi.
    *
    * Requires phi ≤ capacity + 1 so the sketch's guarantee covers the
    * threshold; then the result PROVABLY equals the one-pass
    * `GROUP BY key HAVING count(*) > total/phi` (the oracle), which at
    * scale would shuffle every distinct key. Hash equality is the proof
    * that the sketch missed nothing.
    */
  def exactHeavyHitters(rows: DataFrame, keyCol: String,
                        capacity: Int, phi: Double): DataFrame = {
    require(phi <= capacity + 1,
      s"threshold 1/$phi is below the sketch guarantee 1/${capacity + 1}")
    val keyed = rows.select(col(keyCol).as("key"))
    val sketch = keyed
      .agg(graft.functions.MisraGriesKeys.mgKeys(col("key"), capacity).as("s"))
      .select(col("s.total").as("total"), explode(col("s.keys")).as("key"))
      .localCheckpoint(true) // ≤ capacity rows; both probe joins read one materialization
    val exact = keyed
      .join(broadcast(sketch.select("key")), Seq("key"), "left_semi")
      .groupBy("key").agg(count(lit(1)).as("n"))
    exact
      .join(broadcast(sketch), Seq("key"))
      .filter(col("n") > col("total") / phi)
      .select(col("key"), col("n"),
        rd(col("n").cast("double") / col("total"), 6).as("share"))
      .orderBy(col("n").desc, col("key"))
  }

  /** Gate: exact heavy hitters over the corpus TOKEN stream (the natural
    * Zipf domain: ~30 head tokens plus a rare tail marker at every SF) at
    * threshold total/48 with 64 MG counters.
    */
  def tokenHeavyHittersGate(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
    exactHeavyHitters(toks, "tok", capacity = 64, phi = 48.0)
      .withColumnRenamed("key", "tok")
  }
}
