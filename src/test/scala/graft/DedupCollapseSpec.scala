package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** Pins the exact-dup-collapse equivalence for the LSH near-dup family: the
  * collapsed implementation must emit EXACTLY what the raw per-doc algorithm
  * would — intra-cluster pairs at 1.0 (only when the text shingles), cross-
  * cluster pairs inheriting the rep Jaccard, short texts producing nothing.
  * The DuckDB oracle pins this at the driver; this spec pins it in sbt test
  * on a hand-built dup-heavy fixture.
  */
class DedupCollapseSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val dir = {
    val d = tempDir("graft_collapse").toString
    val docs = Seq(
      // cluster A: three exact dups (same normalized text)
      (1L, "the quick brown fox jumps over the lazy dog", "en", "web", 0L),
      (2L, "The quick   brown fox jumps over the lazy dog!!", "en", "web", 0L),
      (3L, "the quick brown fox jumps over the lazy dog", "en", "book", 0L),
      // cluster B: near-dup of A (one word differs)
      (4L, "the quick brown fox jumps over the lazy cat", "en", "web", 0L),
      // unrelated
      (5L, "completely different words entirely here now friends okay", "en", "web", 0L),
      // short text: < 3 tokens -> zero shingles -> must never pair
      (6L, "hi there", "en", "web", 0L),
      (7L, "hi there", "en", "web", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(d + "/documents.parquet")
    d
  }

  test("collapsed minhash LSH emits intra-cluster 1.0 pairs and near-dup cross pairs") {
    val out = TextOps.minHashLshPairs(spark, dir, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairs = out.map(t => (t._1, t._2)).toSet
    // all three exact dups pair with each other at exactly 1.0
    for (p <- Seq((1L, 2L), (1L, 3L), (2L, 3L))) {
      assert(pairs.contains(p), s"missing exact-dup pair $p in ${pairs.toSeq.sorted}")
      assert(out.find(t => (t._1, t._2) == p).get._3 == 1.0)
    }
    // near-dup cluster B pairs with every member of cluster A, same jaccard
    val bPairs = out.filter(t => t._2 == 4L || t._1 == 4L)
    assert(bPairs.map(t => Set(t._1, t._2) - 4L).toSet == Set(Set(1L), Set(2L), Set(3L)),
      s"cluster-B cross pairs wrong: ${bPairs.toSeq}")
    assert(bPairs.map(_._3).distinct.length == 1, "cross pairs must share the rep jaccard")
    // short texts (docs 6, 7) never appear: no shingles -> no candidates
    assert(!out.exists(t => t._1 >= 6L || t._2 >= 6L),
      s"shingle-less docs paired: ${out.toSeq}")
    // unrelated doc 5 absent
    assert(!out.exists(t => t._1 == 5L || t._2 == 5L))
  }

  test("nearDupClusters: connected components over the verified pair graph") {
    val out = TextOps.nearDupClusters(spark, dir, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // docs 1,2,3 (exact dups) + 4 (near dup of each) form ONE component whose
    // canonical rep is the smallest member; 5 (unrelated) and 6,7 (no
    // shingles — never pair in the raw algorithm) are absent
    assert(out.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)),
      s"components wrong: ${out.toSeq}")
  }

  test("simhash near-dups: exact-dup clusters at Hamming 0 — including short texts") {
    val out = TextOps.simHashNearDups(spark, dir, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val zero = out.filter(_._3 == 0L).map(t => (t._1, t._2)).toSet
    // the three norm-identical docs pair at exactly 0
    assert(Set((1L, 2L), (1L, 3L), (2L, 3L)).subsetOf(zero), s"exact dups missing: $zero")
    // UNLIKE the shingle-based family, simhash is token-based: the two
    // "hi there" docs have signatures and MUST pair at 0
    assert(zero.contains((6L, 7L)), s"short-text dup pair missing: $zero")
    // unrelated doc 5 never pairs within Hamming 3 of anything
    assert(!out.exists(t => t._1 == 5L || t._2 == 5L), s"unrelated doc paired: ${out.toSeq}")
  }

  test("fuzzy match collapse ≡ raw blocked Levenshtein on a dup-heavy fixture") {
    import graft.operators.TextOps.normText
    val d = tempDir("graft_fuzzy").toString
    // two 10-member exact-dup clusters sharing one (lang, prefix) block —
    // the CommonCrawl shape where the raw algorithm pays m² Levenshtein
    // calls inside the block — plus a different-lang twin, an unrelated
    // block, and a below-blockLen short text
    val rows =
      (0 until 10).map(i => (10L + i, "Alpha beta gamma delta epsilon one" + ("!" * (i % 3)), "en", "web", 0L)) ++
      (0 until 10).map(i => (30L + i, "alpha beta gamma delta epsilon two", "en", "web", 0L)) ++
      Seq((50L, "totally unrelated block of text here", "en", "web", 0L),
        (51L, "alpha beta gamma delta epsilon one", "de", "web", 0L),
        (52L, "tiny", "en", "web", 0L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(d + "/documents.parquet")
    val docs = graft.sources.Tables.documents(spark, d)

    // raw per-doc algorithm (what the DuckDB oracle computes)
    val b = docs.select(col("doc_id"), col("lang"), normText(col("text")).as("norm"))
      .filter(length(col("norm")) >= 12)
      .withColumn("blk", col("norm").substr(1, 12))
    val x = b.select(col("lang"), col("blk"), col("doc_id").as("doc_a"), col("norm").as("na"))
    val y = b.select(col("lang"), col("blk"), col("doc_id").as("doc_b"), col("norm").as("nb"))
    val rawCand = x.join(y, Seq("lang", "blk")).filter(col("doc_a") < col("doc_b"))
    val raw = rawCand
      .select(col("doc_a"), col("doc_b"), col("lang"),
        levenshtein(col("na"), col("nb")).cast("long").as("edit_distance"))
      .filter(col("edit_distance") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet

    val out = graft.operators.TextOps.fuzzyMatches(docs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.length == raw.size, s"row count ${out.length} != raw ${raw.size}")
    assert(out.toSet == raw, s"collapsed output diverges from raw: " +
      s"missing=${raw -- out.toSet} extra=${out.toSet -- raw}")

    // candidate accounting: raw pays 20·19/2 = 190 in-block Levenshtein
    // calls; collapsed pays exactly ONE (rep-A vs rep-B) — candidate space
    // scales with distinct texts, not cluster membership
    assert(rawCand.count() == 190L)
    val reps = b.groupBy("lang", "norm").agg(min("doc_id").as("rep"))
    assert(graft.operators.TextOps.fuzzyRepPairs(reps, 12, 5).count() == 1L)
  }

  test("jaccard top-k on the same fixture ranks exact dups first, exactly") {
    val out = TextOps.jaccardPairs(spark, dir, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // within (en, web): docs 1,2 are exact dups -> 1.0 leads; doc 3 is in
    // source=book so it must NOT pair (bucketed by source)
    assert(out.head._3 == 1.0)
    assert(!out.exists(t => t._1 == 3L || t._2 == 3L),
      s"cross-source pair leaked into the bucketed jaccard: ${out.toSeq}")
    // 1-2 (exact), 1-4 / 2-4 (near dups) present with equal near-dup scores
    val pairs = out.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)))
    val nd = out.filter(t => t._2 == 4L).map(_._3)
    assert(nd.distinct.length == 1)
  }
}
