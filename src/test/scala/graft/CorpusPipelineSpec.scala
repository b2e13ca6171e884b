package graft

import graft.functions.Fx
import graft.operators.TextOps
import graft.pipeline.CorpusPipeline
import graft.sources.Tables
import org.apache.spark.sql.TestCacheManager
import org.apache.spark.sql.functions._

/** End-to-end corpus preparation: planted PII is scrubbed, the low-quality
  * doc is gated out, the best-quality exact duplicate survives, near-dup
  * clusters collapse to one canonical doc, the split is deterministic, and
  * the partitioned write prunes by split.
  */
class CorpusPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val fixture = writeFixture()

  private def writeFixture(): String = {
    val d = tempDir("graft_corpus").toString
    val good = "the quick brown fox jumps over the lazy dog and keeps running through the field " * 3
    Seq(
      // exact dups (identical text ⇒ identical score; tie → lower doc_id wins)
      (1L, good, "en", "web", 0L),
      (2L, good, "en", "web", 0L),
      // near dup of 1 (one word changed in one repeat; J = 0.83 and verified
      // to band-collide under the md5 family) — same cluster, canonical is
      // the smallest member
      (3L, good.replaceFirst("keeps running", "keeps jogging"), "en", "web", 0L),
      // PII doc, decent quality
      (4L, "please contact me at someone@example.com about the meeting " +
        "we planned for next week in the main office with all of the team there", "en", "web", 0L),
      // low quality: too short, no stopwords
      (5L, "x1 z9 q7", "en", "web", 0L),
      // independent good doc
      (6L, "a completely different story about the weather in the mountains " +
        "where it rains for days and the rivers overflow into the valley below", "de", "web", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(d + "/documents.parquet")
    d
  }

  test("stage counts are monotone and each gate does its job") {
    val out = tempDir("graft_corpus_out").toString + "/corpus"
    val r = CorpusPipeline.run(spark, fixture, Some(out), minQuality = 0.5, nearThreshold = 0.5)
    assert(r.nRaw == 6L)
    assert(r.nQuality == 5L, "the low-quality doc must be gated out")
    assert(r.nExactDeduped == 4L, "exact dups 1/2 collapse to one survivor")
    assert(r.nFinal == 3L, "near-dup cluster {survivor, 3} collapses to its canonical doc")

    val persisted = spark.read.parquet(out)
    // PII scrubbed everywhere downstream
    val pii = persisted.filter(col("text").contains("example.com")).count()
    assert(pii == 0L, "raw email leaked through redaction")
    assert(persisted.filter(col("text").contains("[EMAIL]")).count() == 1L)
    // the near-dup survivor is the component's canonical (smallest) doc
    assert(persisted.filter(col("doc_id").isin(2L, 3L)).count() == 0L)
    assert(persisted.filter(col("doc_id") === 1L).count() == 1L)
    // split column partitions the output directory
    val splits = persisted.select("split").distinct().as[String].collect().toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.nonEmpty)
    assert(new java.io.File(out).listFiles().exists(_.getName.startsWith("split=")))
  }

  test("re-run is idempotent and the split is deterministic") {
    val r1 = CorpusPipeline.run(spark, fixture, None, minQuality = 0.5, nearThreshold = 0.5)
    val r2 = CorpusPipeline.run(spark, fixture, None, minQuality = 0.5, nearThreshold = 0.5)
    assert(r1.nFinal == r2.nFinal)
    val p1 = r1.profile.collect().map(_.toSeq)
    val p2 = r2.profile.collect().map(_.toSeq)
    assert(p1.toSeq == p2.toSeq, "profile must be bit-identical across runs")
  }

  /** A generated corpus with planted exact and near copies (appending one
    * word to a text of 20+ words keeps Jaccard ≥ 0.9), large enough that the
    * survivors spread over every shuffle partition before the write. */
  private def writeGenerated(): String = {
    val vocab = Vector("the", "a", "and", "of", "to", "in", "is", "data", "river",
      "stone", "market", "green", "table", "window", "quiet", "signal", "north",
      "paper", "engine", "garden", "winter", "copper", "letter", "harbor")
    val rng = new scala.util.Random(7)
    val base = (1L to 240L).map { id =>
      id -> Seq.fill(20 + rng.nextInt(30))(vocab(rng.nextInt(vocab.size))).mkString(" ")
    }
    val exactCopies = base.take(24).zipWithIndex.map { case ((_, t), k) => (1000L + k) -> t }
    val nearCopies = base.slice(24, 36).zipWithIndex.map { case ((_, t), k) =>
      (2000L + k) -> s"$t ${vocab(rng.nextInt(vocab.size))}"
    }
    val d = tempDir("graft_corpus_gen").toString
    (base ++ exactCopies ++ nearCopies).map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(d + "/documents.parquet")
    d
  }
  private lazy val generated: String = writeGenerated()

  private def writeDocs(texts: Seq[(Long, String)]): String = {
    val d = tempDir("graft_corpus_docs").toString
    texts.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(d + "/documents.parquet")
    d
  }

  /** Each stage's row count as a count() of its own, the last one of the
    * written output. */
  private def stageCounts(dir: String, out: String): Seq[Long] = {
    val docs = Tables.documents(spark, dir)
    val gated = docs.withColumn("text", TextOps.redactText(col("text")))
      .withColumn("quality_score", Fx.rd(TextOps.qualityScore(col("text")), 6))
      .filter(col("quality_score") >= 0.5)
    val written =
      if (new java.io.File(out).listFiles().exists(_.getName.startsWith("split=")))
        spark.read.parquet(out).count()
      else 0L
    Seq(docs.count(), gated.count(),
      TextOps.dedupKeepBest(gated, "quality_score").count(), written)
  }

  /** Four documents, no two of them near duplicates. */
  private val distinctTexts = Seq(
    1L -> "the river runs past the old mill and the stone bridge toward the sea",
    2L -> "a market opens early in the square where farmers sell green apples",
    3L -> "winter letters arrive by paper at the quiet harbor office every week",
    4L -> "engines of copper hum in the garden shed beside the north window")

  test("the observed stage counts equal each stage's own count") {
    val distinct = writeDocs(distinctTexts)
    val corpora = Seq("fixture" -> fixture, "generated" -> generated,
      "empty" -> writeDocs(Nil), "no near-dup pair" -> distinct)
    val counts = corpora.map { case (name, dir) =>
      val out = tempDir("graft_corpus_counts").toString + "/corpus"
      val r = CorpusPipeline.run(spark, dir, Some(out))
      val observed = Seq(r.nRaw, r.nQuality, r.nExactDeduped, r.nFinal)
      info(s"$name: $observed")
      assert(observed == stageCounts(dir, out), name)
      assert(r.profile.collect().map(_.getAs[Long]("n_docs")).sum == r.nFinal, name)
      name -> observed
    }.toMap
    val Seq(_, _, nExact, nFinal) = counts("no near-dup pair")
    assert(nFinal > 0L && nFinal == nExact, "no doc of it is a near dup")
  }

  test("job count: a run plus its profile collect takes at most 37 Spark jobs") {
    val out = tempDir("graft_corpus_jobs").toString + "/corpus"
    var nFinal = 0L
    val jobs = jobsOf {
      val r = CorpusPipeline.run(spark, generated, Some(out))
      r.profile.collect()
      nFinal = r.nFinal
    }
    info(s"$jobs jobs, $nFinal survivors")
    assert(nFinal > 200L)
    // 98 jobs before the near-dup pass moved to per-rep shingle arrays and
    // the split was pinned once; 56 before the counts rode on the
    // materializations, the signatures were hashed once, the components
    // loop was seeded with its first round and the membership was pinned
    assert(jobs <= 37)
  }

  test("a run leaves no relation cached behind") {
    // corpora of its own: a relation an earlier run left cached would make
    // this run's cache() calls no-ops and hide the leak
    val sc = spark.sparkContext
    val corpora = Seq("generated" -> writeGenerated(), "fixture" -> writeFixture(),
      "empty" -> writeDocs(Nil), "no near-dup pair" -> writeDocs(distinctTexts))
    for ((name, dir) <- corpora) {
      val (cached, pinned) = (TestCacheManager.entries(spark), sc.getPersistentRDDs.keySet)
      CorpusPipeline.run(spark, dir, None).profile.collect()
      assert(TestCacheManager.entries(spark) == cached, name)
      assert((sc.getPersistentRDDs.keySet -- pinned).isEmpty, name)
    }
  }

  test("runFrom frees its own pins, not a pinned input of the caller's") {
    val sc = spark.sparkContext
    val pinned = sc.getPersistentRDDs.keySet
    val docs = Tables.documents(spark, writeDocs(distinctTexts)).localCheckpoint()
    try {
      CorpusPipeline.runFrom(spark, docs, None)
      assert(docs.count() == distinctTexts.size.toLong)
      assert((sc.getPersistentRDDs.keySet -- pinned).size == 1)
    } finally org.apache.spark.sql.graft.SqlShim.releaseLocalCheckpoint(docs)
  }

  test("the write keeps one data file per split directory") {
    // the layout of writing the survivors unpinned; a cache()d split would
    // write one file per shuffle partition into each directory
    val out = tempDir("graft_corpus_files").toString + "/corpus"
    CorpusPipeline.run(spark, generated, Some(out))
    val files = new java.io.File(out).listFiles().filter(_.getName.startsWith("split="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    assert(files == Map("split=train" -> 1, "split=val" -> 1, "split=test" -> 1))
  }
}
