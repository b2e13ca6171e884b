package graft.pipeline

import graft.operators.TextOps
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.SqlShim
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation — the composition the individual
  * text operators exist for, in the production order every large-scale
  * pipeline runs:
  *
  *   1. ingest           parquet documents (partitioned scan)
  *   2. PII redaction    emails/phones scrubbed BEFORE anything is persisted
  *   3. quality gate     composite score filter (length/punct/stopword)
  *   4. exact dedup      keep the HIGHEST-QUALITY duplicate (not arrival order)
  *   5. near-dup dedup   one canonical doc per connected near-dup cluster
  *   6. split            deterministic hash-bucket train/val/test
  *   7. write            parquet partitioned BY SPLIT (training reads prune)
  *   8. profile          per-(split, lang) counts + token mass
  *
  * Stage order matters at 100 TB: redaction is a narrow projection (do it
  * first, nothing re-scans raw text later); the quality gate shrinks the
  * corpus before any shuffle; exact dedup collapses clusters before the
  * near-dup machinery (whose cost scales with distinct texts); the split is
  * a pure hash of doc_id so it commutes with everything above and stays
  * stable when the corpus grows.
  */
final case class CorpusResult(
    nRaw: Long, nQuality: Long, nExactDeduped: Long, nFinal: Long,
    profile: DataFrame)

object CorpusPipeline {

  def run(spark: SparkSession, dir: String, outDir: Option[String] = None,
          minQuality: Double = 0.5, nearThreshold: Double = 0.9): CorpusResult =
    runFrom(spark, Tables.documents(spark, dir), outDir, minQuality, nearThreshold)

  /** Same pipeline over ANY document relation — e.g. the clean side of
    * `Tables.readDocumentsJsonl`, or a pre-filtered corpus.
    *
    * One count is an action of its own: the gated count, which materializes
    * the gated cache. The other three are observed while a materialization
    * runs that the pipeline needs anyway: the raw count rides on the gated
    * count, the exact-dedup count on the near-dup pass's first read of the
    * exact cache, and the final count on the split checkpoint. The split
    * pin is released before the run returns, so the profile comes back
    * collected, as a local relation.
    */
  def runFrom(spark: SparkSession, docs: DataFrame, outDir: Option[String] = None,
              minQuality: Double = 0.5, nearThreshold: Double = 0.9): CorpusResult = {
    // 1. ingest
    val (raw, nRaw) = Tables.observedCount(docs)

    // 2. PII redaction, MATERIALIZED before scoring: the redacted corpus is
    // a persisted pipeline artifact (it is what ships), and without the
    // barrier Catalyst's projection collapse would re-inline the redaction
    // regexes into every one of the score's ~6 references to `text` —
    // measured 176 s vs ~30 s at 100×. (The earlier join-based formulation
    // was worse still: 377 s.)
    val red = raw.withColumn("text", TextOps.redactText(col("text"))).cache()

    // 3. quality gate on the scrubbed text — one narrow projection
    val gated = red
      .withColumn("quality_score",
        graft.functions.Fx.rd(TextOps.qualityScore(col("text")), 6))
      .filter(col("quality_score") >= minQuality)
      .cache() // consumed by the count and the dedup aggregation
    val nQuality = gated.count()
    red.unpersist()

    // 4. exact dedup, keep-best-quality survivor; cached — consumed by the
    // near-dup pass and the anti-join
    val (deduped, nExact) = Tables.observedCount(TextOps.dedupKeepBest(gated, "quality_score"))
    val exact = deduped.cache()

    // 5. near-dup canonicalization: drop every non-canonical member of a
    // near-dup component (cluster_rep keeps itself). The pass checkpoints
    // relations read from `exact`, so the exact cache is complete when it
    // returns and `gated` is no longer needed.
    val clusters = TextOps.nearDupClustersFrom(exact, nearThreshold)
    gated.unpersist()
    val survivors = exact.join(
      clusters.filter(col("doc_id") =!= col("cluster_rep")).select("doc_id"),
      Seq("doc_id"), "left_anti")

    // 6. deterministic split — pure function of doc_id, stable under growth.
    // Pinned once, with its row count observed by the pin, so the write and
    // the profile read the survivors instead of each re-running the near-dup
    // join. A localCheckpoint keeps the survivors' (coalesced) partitioning,
    // so the write below emits as many files as without the pin. cache() does
    // not: on a 575-document corpus with 4 shuffle partitions it wrote 12
    // files instead of 3, and 42% more bytes.
    val (assigned, nFinal) = Tables.observedCount(TextOps.splitAssign(survivors, "doc_id"))
    val split = assigned.localCheckpoint()
    // an observation that arrives empty is recomputed over its relation, so
    // the counts are read before the relations they observe are freed
    val Seq(rawRows, exactRows, finalRows) = Seq(nRaw, nExact, nFinal).map(_().getLong(0))
    exact.unpersist()
    SqlShim.releaseLocalCheckpoint(clusters, docs)

    // 7. partitioned write: training jobs read split=train only (pruned scan)
    // 8. profile, collected so the split pin is released before the run
    // returns: the result's profile is a local relation of its rows
    val profile = try {
      outDir.foreach(o => Tables.overwrite(split, o, Seq("split")))
      val profiled = split.groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(regexp_extract_all(col("text"), lit("[^\\s]+"), lit(0))))
            .cast("long").as("n_tokens"),
          graft.functions.Fx.rd(avg(col("quality_score")), 6).as("avg_quality"))
        .orderBy("split", "lang")
      spark.createDataFrame(java.util.Arrays.asList(profiled.collect(): _*), profiled.schema)
    } finally SqlShim.releaseLocalCheckpoint(split)

    CorpusResult(rawRows, nQuality, exactRows, finalRows, profile)
  }
}
