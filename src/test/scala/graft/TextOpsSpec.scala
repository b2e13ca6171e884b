package graft

import graft.operators.TextOps
import graft.sources.Tables
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "en", "web", "the quick brown fox jumps over the lazy dog"),
    (2L, "en", "web", "the quick brown fox jumps over the lazy cat"),
    (3L, "en", "web", "completely different words entirely here now friends"),
    (4L, "en", "book", "the quick brown fox jumps over the lazy dog"),
    (5L, "de", "web", "der hund ist nicht schnell und das ist gut")
  ).toDF("doc_id", "lang", "source", "text")

  test("normText lowercases and collapses non-alphanumerics") {
    val out = Seq("Hello,   WORLD!! 42").toDF("text")
      .select(TextOps.normText(col("text"))).as[String].head()
    assert(out == "hello world 42")
  }

  test("shingles: below 3 tokens -> empty; else n-2 trigrams") {
    val out = Seq("a b", "a b c d").toDF("t")
      .select(TextOps.shingles(split(col("t"), " "))).as[Seq[String]].collect()
    assert(out(0).isEmpty)
    assert(out(1) == Seq("a b c", "b c d"))
  }

  test("dedupByText keeps lowest doc_id per exact text") {
    val kept = TextOps.dedupByText(docs).as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 5L)) // doc 4 is an exact dup of doc 1
  }

  test("dedupKeepBest keeps the highest-scored duplicate, all columns intact") {
    val scored = Seq(
      (1L, "same text here", 0.2),
      (2L, "same text here", 0.9),   // best duplicate — survives
      (3L, "same text here", 0.9),   // tie -> lower doc_id wins
      (4L, "unique text", 0.1)
    ).toDF("doc_id", "text", "score")
    val out = TextOps.dedupKeepBest(scored, "score")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(out.keySet == Set(2L, 4L))
    assert(out(2L) == 0.9)
  }

  test("jaccard via shingle join: near-dup pair scores high, disjoint absent") {
    val sh = TextOps.shingleSet(docs)
    // docs 1 and 2 share 6 of 7 trigrams within the (en, web) bucket:
    // J = 6 / (7 + 7 - 6) = 0.75
    val a = sh.filter(col("doc_id") === 1L).select("sg").as[String].collect().toSet
    val b = sh.filter(col("doc_id") === 2L).select("sg").as[String].collect().toSet
    assert(math.abs(a.intersect(b).size.toDouble / a.union(b).size - 0.75) < 1e-12)
  }

  test("minHashLshPairs finds the exact-duplicate pair with jaccard 1.0") {
    // docs 1 and 4 are identical text but different source buckets — LSH here
    // is bucket-free on shingle sets, so the pair must surface with J=1.
    val docs2 = Seq(
      (1L, "en", "web", "one two three four five six seven eight"),
      (2L, "en", "web", "one two three four five six seven eight"),
      (3L, "en", "web", "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "lang", "source", "text")
    docs2.createOrReplaceTempView("dup_docs")
    val sh = TextOps.shingleSet(docs2)
    val sig = TextOps.minHashSignatures(sh)
    val sigs = sig.orderBy("doc_id").as[(Long, Seq[Long])].collect()
    assert(sigs(0)._2 == sigs(1)._2)      // identical docs -> identical signatures
    assert(sigs(0)._2 != sigs(2)._2)      // different docs -> different signatures
  }

  test("simHash: identical docs equal, near-dups within small Hamming distance") {
    val out = TextOps.simHash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(4L)) // identical text
    val hamming12 = java.lang.Long.bitCount(out(1L) ^ out(2L))
    val hamming13 = java.lang.Long.bitCount(out(1L) ^ out(3L))
    assert(hamming12 < hamming13, s"near-dup $hamming12 should beat disjoint $hamming13")
  }

  test("simHashPairs surfaces only pairs within maxHamming") {
    val pairs = TextOps.simHashPairs(docs, 0).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("noveltyProfile: first-occurrence shingle fractions are exact") {
    val d = tempDir("graft_novelty").toString
    Seq(
      (1L, "a b c d", "en", "web", 0L),       // shingles: "a b c", "b c d" — both novel
      (2L, "a b c d", "en", "web", 0L),       // identical -> 0 novel of 2
      (3L, "b c d e f", "en", "web", 0L),     // "b c d" seen; "c d e", "d e f" novel
      (4L, "hi there", "en", "web", 0L)       // < 3 tokens -> absent
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(d + "/documents.parquet")
    val out = TextOps.noveltyProfile(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 2L, 1.0),
      (2L, 2L, 0L, 0.0),
      (3L, 3L, 2L, 0.666667)), s"novelty rows wrong: ${out.toSeq}")
  }

  test("boilerplateProfile: planted template shingles flagged, unique content not") {
    val d = tempDir("graft_boiler").toString
    val footer = "all rights reserved contact the site administrator"
    Seq(
      (1L, s"unique article about mountain weather patterns $footer", "en", "web", 0L),
      (2L, s"another story on river navigation and cargo $footer", "en", "web", 0L),
      (3L, s"third piece covering desert wildlife and plants $footer", "en", "web", 0L),
      (4L, s"fourth entry on city transport planning and roads $footer", "en", "web", 0L),
      (5L, "entirely standalone content with nothing shared anywhere else", "en", "web", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(d + "/documents.parquet")
    val out = TextOps.boilerplateProfile(spark, d, 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    // the footer's internal trigrams appear in 4 docs (> 2) -> flagged
    for (id <- 1L to 4L)
      assert(out(id)._1 >= 4L && out(id)._2 > 0.3,
        s"doc $id boilerplate not flagged: ${out(id)}")
    // the standalone doc shares nothing
    assert(out(5L) == ((0L, 0.0)), s"standalone doc flagged: ${out(5L)}")
  }

  test("per-row array MinHash signature ≡ the exploded-aggregation signature") {
    // plus a shingle-less doc: it has no exploded rows, so no signature,
    // and its per-row signature is null
    val withShort = docs.union(Seq((6L, "en", "web", "too short")).toDF(docs.columns: _*))
    val sh = TextOps.shingleSet(withShort)
    def perRow(family: TextOps.HashFamily): Map[Long, Vector[Long]] = withShort
      .select(col("doc_id"), TextOps.shingleArray(col("text")).as("sgs"))
      .filter(size(col("sgs")) > 0)
      .select(col("doc_id"), TextOps.minHashSignatureFromShingles(col("sgs"), family))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toMap
    val xxh = TextOps.minHashSignatures(sh)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toMap
    val md5 = TextOps.minHashWide(TextOps.md5AB(sh))
      .collect().map(r => (r.getLong(0), (1 to TextOps.NumPerms).map(r.getLong).toVector)).toMap
    for ((name, exploded, family) <- Seq(
        ("xxhash64", xxh, TextOps.xxhashFamily), ("md5", md5, TextOps.md5Family))) {
      val rows = perRow(family)
      assert(exploded.keySet == (1L to 5L).toSet, s"$name: exploded signature docs")
      assert(rows.keySet == exploded.keySet, s"$name: per-row signature docs")
      for ((id, v) <- exploded) assert(rows(id) == v, s"$name signature mismatch for doc $id")
      // unfiltered, the shingle-less doc's empty array has a null signature:
      // folding it would give 32 × Long.MaxValue, one band bucket for all
      val empty = withShort.filter(col("doc_id") === 6L)
        .select(TextOps.shingleArray(col("text")).as("sgs"))
        .select(size(col("sgs")), TextOps.minHashSignatureFromShingles(col("sgs"), family))
        .head()
      assert(empty.getInt(0) == 0 && empty.isNullAt(1), s"$name: empty-array signature $empty")
    }
  }

  test("perDistinctText: collapsed transform ≡ direct per-doc computation") {
    val dup = Seq(
      (1L, "en", "web", "the quick brown fox jumps over the lazy dog"),
      (2L, "en", "book", "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "en", "web", "something else entirely different here"),
      (4L, "de", "web", "the quick brown fox jumps over the lazy dog")  // dup of 1 too
    ).toDF("doc_id", "lang", "source", "text")
    def f(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        md5(col("text")).as("digest"))
    val direct = f(dup).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val collapsed = TextOps.perDistinctText(dup)(f)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(collapsed.toSeq == direct.toSeq,
      s"collapse diverges: direct=${direct.toSeq} collapsed=${collapsed.toSeq}")
  }

  test("incrementalDedup: new batch classified exact/near/novel against the corpus") {
    val d = tempDir("graft_incdedup").toString
    Seq(
      // historical corpus (source != src0)
      (1L, "the quick brown fox jumps over the lazy dog", "en", "web", 0L),
      (2L, "completely different words entirely here now friends", "en", "web", 0L),
      // new batch (src0)
      (10L, "the quick brown fox jumps over the lazy dog", "en", "src0", 0L),  // exact dup of 1
      (11L, "the quick brown fox jumps over the lazy cat", "en", "src0", 0L),  // near dup of 1
      (12L, "unrelated totally fresh content nobody wrote before", "en", "src0", 0L) // novel
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(d + "/documents.parquet")
    val out = TextOps.incrementalDedup(spark, d, "src0", 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(10L -> "exact_dup", 11L -> "near_dup", 12L -> "novel"),
      s"classification wrong: $out")
    // the exact dup's best jaccard is exactly 1.0 (identical shingle sets)
    val bj = TextOps.incrementalDedup(spark, d, "src0", 0.5)
      .filter(col("doc_id") === 10L).select("best_jaccard").collect()(0).getDouble(0)
    assert(bj == 1.0)
  }

  test("langId: stopword heuristic separates en from de") {
    val out = TextOps.langId(docs).select("doc_id", "predicted")
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(5L) == "de")
  }

  test("redactPii scrubs planted emails and phone numbers") {
    val pii = Seq(
      (1L, "en", "web", "contact bob.smith+x@example.co.uk or call +1 (555) 123-4567 now"),
      (2L, "en", "web", "nothing sensitive here at all")
    ).toDF("doc_id", "lang", "source", "text")
    val out = TextOps.redactPii(pii).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L)._1 == "contact [EMAIL] or call [PHONE] now")
    assert(out(1L)._2 == 1L && out(1L)._3 == 1L)
    assert(out(2L) == (("nothing sensitive here at all", 0L, 0L)))
  }

  test("hash split: deterministic, partitioning, roughly proportional") {
    val a = TextOps.splitAssign(docs, "doc_id").select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    val b = TextOps.splitAssign(docs, "doc_id").select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    assert(a == b)                       // pure function of the key
    assert(a.values.forall(Set("train", "val", "test")))
    // corpus-level proportions at sf: ~90/5/5 within loose bounds
    val big = TextOps.splitAssign(
      graft.sources.Tables.documents(spark, sf), "doc_id")
      .groupBy("split").count().as[(String, Long)].collect().toMap
    val n = big.values.sum.toDouble
    assert(big("train") / n > 0.8 && big("train") / n < 0.97)
  }

  test("tokenHistogram buckets partition the corpus") {
    val h = TextOps.tokenHistogram(spark, sf)
    assert(h.agg(sum("n_docs")).head().getLong(0) == 500L)
    assert(h.select("bucket").as[Long].collect().forall(b => b >= 0 && b <= 11))
  }

  test("fingerprints: identical docs share a fingerprint; window count = len-7") {
    val out = TextOps.fingerprints(docs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byId = out.map(t => t._1 -> t._2).toMap
    assert(byId(1L) == byId(4L))
    val norm = "the quick brown fox jumps over the lazy dog"
    assert(out.find(_._1 == 1L).get._3 == norm.length - 7)
  }

  test("unigramSurprisal: hand-computed LM scores on a tiny corpus; rare tokens score higher") {
    val df = Seq(
      (1L, "en", "s", "a a b"),
      (2L, "en", "s", "a b"))
      .toDF("doc_id", "lang", "source", "text")
    // corpus: a×3, b×2, tot=5 ⇒ P(a)=0.6, P(b)=0.4
    val (sa, sb) = (-math.log(0.6), -math.log(0.4))
    val want1 = BigDecimal((2 * sa + sb) / 3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want2 = BigDecimal((sa + sb) / 2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = TextOps.unigramSurprisalFrom(df)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((3L, want1)), s"doc1: ${got(1L)} want ($want1)")
    assert(got(2L) == ((2L, want2)), s"doc2: ${got(2L)} want ($want2)")
    // doc2 has proportionally more of the rarer token -> higher surprisal
    assert(got(2L)._2 > got(1L)._2)
  }

  test("packSequences: distributed prefix sum ≡ single-partition window cumsum; chunk arithmetic exact") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val out = TextOps.packSequencesFrom(docs, 512)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // reference: plain Scala cumulative sum in doc_id order
    val ref = docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[^\\s]+"), lit(0))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .scanLeft((0L, 0L, 0L)) { case ((_, _, acc), (id, n)) => (id, n, acc + n) }
      .drop(1).map { case (id, n, inclusive) =>
        val off = inclusive - n
        (id, n, off, off / 512, off % 512)
      }
    assert(out.toSeq == ref.toSeq, "distributed packing diverges from the sequential reference")
    // consecutive offsets differ by exactly the previous doc's token count
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 == a._3 + a._2, s"offset gap at ${b._1}")
    case _ => }
    // the plan really used multiple partitions (no single-task cumsum)
    assert(docs.rdd.getNumPartitions >= 1)
  }

  test("packedSpans: every sequence but the last holds exactly `budget` tokens; docs reassemble exactly") {
    val corpus = graft.sources.Tables.documents(spark, sf)
    val budget = 512L
    val spans = TextOps.packedSpansFrom(corpus, budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.nonEmpty)
    // 1. packing invariant: sum(n_tok) per seq_id = budget except the final sequence
    val perSeq = spans.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val lastSeq = perSeq.keys.max
    perSeq.foreach { case (sid, tot) =>
      if (sid != lastSeq) assert(tot == budget, s"seq $sid holds $tot tokens, want $budget")
      else assert(tot > 0 && tot <= budget, s"final seq $sid holds $tot")
    }
    // 2. document invariant: each doc's spans are contiguous from 0 and sum to its token count
    val nTok = corpus.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[^\\s]+"), lit(0))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spans.groupBy(_._2).foreach { case (doc, ss) =>
      val sorted = ss.sortBy(_._3)
      assert(sorted.head._3 == 0L, s"doc $doc first span starts at ${sorted.head._3}")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 == a._3 + a._4, s"doc $doc spans not contiguous")
        case _ =>
      }
      assert(sorted.map(_._4).sum == nTok(doc), s"doc $doc spans don't reassemble")
      // consecutive seq_ids — a doc never skips a sequence
      sorted.map(_._1).sliding(2).foreach {
        case Array(a, b) => assert(b == a + 1, s"doc $doc skips a sequence")
        case _ =>
      }
    }
    // 3. zero-token docs emit no spans; every token-bearing doc appears
    assert(spans.map(_._2).toSet == nTok.filter(_._2 > 0).keySet)
    // 4. spans agree with a pure-Scala reference split of the sequential cumsum
    val ref = nTok.toSeq.sortBy(_._1)
      .scanLeft((0L, 0L, 0L)) { case ((_, _, acc), (id, n)) => (id, n, acc + n) }
      .drop(1).flatMap { case (id, n, inclusive) =>
        val off = inclusive - n
        if (n == 0) Seq.empty
        else (off / budget to (off + n - 1) / budget).map { sid =>
          val st = math.max(off, sid * budget)
          val en = math.min(off + n, (sid + 1) * budget)
          (sid, id, st - off, en - st)
        }
      }.sortBy(s => (s._1, s._2))
    assert(spans.toSeq == ref, "distributed spans diverge from the sequential reference")
  }

  test("fingerprints: multi-KB doc matches a pure-Scala rolling min-MD5; no row explosion in the plan") {
    val rng = new scala.util.Random(31)
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel")
    val text = Seq.fill(900)(words(rng.nextInt(words.length))).mkString(" ") // ~5.5 KB
    val df = Seq((1L, "en", "src0", text)).toDF("doc_id", "lang", "source", "text")
    val out = TextOps.fingerprints(df)
    // the per-row fold must not explode one row per window
    assert(!out.queryExecution.executedPlan.toString.contains("Generate"),
      "fingerprints plan contains a Generate (row explosion)")
    val row = out.collect().head
    val norm = text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = (0 to norm.length - 8).map(i => md5hex(norm.substring(i, i + 8))).min
    assert(row.getString(1) == want)
    assert(row.getLong(2) == norm.length - 7)
  }

  test("bloomPrefilterDedup: classification identical to the bloom-free semi-join; the bloom actually prunes") {
    val viaBloom = graft.operators.TextOps.bloomPrefilterDedup(spark, sf, "src0")
      .as[(Long, String)].collect().toSeq
    val d = graft.sources.Tables.documents(spark, sf)
    val corpus = d.filter(col("source") =!= "src0").select(md5(col("text")).as("h")).distinct()
    val plain = d.filter(col("source") === "src0")
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(corpus.withColumn("hit", lit(true)), Seq("h"), "left")
      .select(col("doc_id"),
        when(col("hit"), "exact_dup").otherwise("novel").as("status"))
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(viaBloom == plain, "bloom path changed the dedup answer")
    val prof = graft.operators.TextOps.bloomPrefilterProfile(spark, sf, "src0")
      .as[(Long, Long, Long)].collect().head
    assert(prof._2 >= prof._3, "bloom dropped a true duplicate (false negative!)")
    assert(prof._2 < prof._1, s"bloom pruned nothing: $prof")
  }

  test("containmentPairs: a planted partial copy scores near-1 containment with low jaccard") {
    val rng = new scala.util.Random(19)
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf")
    def sent(n: Int) = Seq.fill(n)(words(rng.nextInt(words.length))).mkString(" ")
    val passage = sent(20)
    val big = passage + " " + sent(120)  // passage embedded in a much larger doc
    val df = Seq(
      (1L, "en", "w", passage),
      (2L, "en", "w", big),
      (3L, "en", "w", sent(40)),
      (4L, "fr", "w", sent(40))
    ).toDF("doc_id", "lang", "source", "text")
    val top = TextOps.containmentPairsFrom(df, 3)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    val p = top.find(t => t._1 == 1L && t._2 == 2L).get
    // every shingle of the passage doc appears in the big doc (modulo the
    // 2 seam shingles the concatenation adds only to big): cont ~ 1
    assert(p._3 > 0.9, s"containment(passage in big) = ${p._3}")
    assert(p._4 < 0.3, s"containment(big in passage) = ${p._4}")
    assert(p._5 < 0.3, s"jaccard should be low for a partial copy: ${p._5}")
    // and it must outrank the unrelated pair
    assert(top.head == p, "partial copy is not the top containment pair")
  }

  test("cdcChunkProfile: census matches a pure-Scala chunker; shared passage chunks identically at different offsets") {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def chunksOf(text: String): Seq[String] = {
      val norm = text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      if (norm.length < 8) return Seq.empty
      val bs = 1 +: (2 to norm.length - 7).filter(i =>
        md5hex(norm.substring(i - 1, i + 7)).startsWith("0"))
      bs.indices.map { j =>
        val st = bs(j) - 1
        val en = if (j < bs.length - 1) bs(j + 1) - 1 else norm.length
        norm.substring(st, en)
      }
    }
    val rng = new scala.util.Random(7)
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
    def sent(n: Int) = Seq.fill(n)(words(rng.nextInt(words.length))).mkString(" ")
    val shared = sent(40) // ~250 chars, shared at DIFFERENT offsets
    val a = sent(13) + " " + shared
    val b = sent(29) + " " + shared
    val df = Seq((1L, "en", "srcA", a), (2L, "en", "srcA", b))
      .toDF("doc_id", "lang", "source", "text")
    val row = TextOps.cdcChunkProfileFrom(df)
      .as[(String, Long, Long, Double)].collect().head
    val all = chunksOf(a) ++ chunksOf(b)
    assert(row._2 == all.size, "chunk count diverges from the sequential chunker")
    assert(row._3 == all.map(md5hex).distinct.size, "distinct digests diverge")
    // the content-defined property: the shared passage must produce shared
    // chunks even though its offsets differ between the two documents
    assert(chunksOf(a).toSet.intersect(chunksOf(b).toSet).nonEmpty,
      "planted shared passage produced no common chunk — boundaries are not content-defined")
    assert(row._3 < row._2)
  }

  test("bpePairStats: top adjacent pairs on a hand-counted corpus") {
    val df = Seq(
      (1L, "en", "w", "a b a b c"),
      (2L, "en", "w", "a b x"),
      (3L, "fr", "w", "z z z")
    ).toDF("doc_id", "lang", "source", "text")
    val out = TextOps.bpePairStatsFrom(df, 2)
      .as[(String, Long, String, Long)].collect().toSeq
    // en pairs: "a b"×3 ("a b a b c" has 2, "a b x" 1), "b a"×1, "b c"×1, "b x"×1
    assert(out.filter(_._1 == "en").map(t => (t._2, t._3, t._4)) ==
      Seq((1L, "a b", 3L), (2L, "b a", 1L)))
    assert(out.filter(_._1 == "fr").map(t => (t._2, t._3, t._4)) ==
      Seq((1L, "z z", 2L)))
  }

  test("bpeTrainMerges: matches a sequential reference BPE, including overlap, tie, merged-symbol-reuse, and lang-dropout cases") {
    // engineered corpus: 'aaa' exercises overlapping pair counting; en step 3
    // is a tie ("aa a" vs "c d", broken by pair ASC); step 2's winner uses a
    // symbol no merge produced while step 3's left side IS a merged symbol;
    // lang xx runs out of pairs after 2 steps and must drop out
    val docs = Seq(
      (1L, "en", "aaa aaa ab"),
      (2L, "en", "ab ab cd cd"),
      (3L, "xx", "zz zz zy")
    ).toDF("doc_id", "lang", "text")
    val k = 4
    val got = TextOps.bpeTrainMergesFrom(docs, k)
      .as[(String, Long, String, Long)].collect().toSeq

    // sequential reference: the classic loop over (word -> freq), greedy
    // left-to-right merge application
    def refBpe(wordFreq: Map[String, Long], k: Int): Seq[(Long, String, Long)] = {
      var vocab: Seq[(Vector[String], Long)] =
        wordFreq.toSeq.map { case (w, f) => (w.map(_.toString).toVector, f) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
      for (step <- 1 to k) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
        vocab.foreach { case (syms, f) =>
          (0 until syms.length - 1).foreach(i => counts((syms(i), syms(i + 1))) += f)
        }
        if (counts.nonEmpty) {
          val ((l, r), c) = counts.toSeq.minBy { case ((a, b), n) => (-n, a + " " + b) }
          out += ((step.toLong, l + " " + r, c))
          vocab = vocab.map { case (syms, f) =>
            val b = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { b += (l + r); i += 2 }
              else { b += syms(i); i += 1 }
            }
            (b.result(), f)
          }
        }
      }
      out.toSeq
    }
    def wordFreqs(texts: Seq[String]): Map[String, Long] =
      texts.flatMap(_.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" "))
        .filter(_.nonEmpty).groupBy(identity).view.mapValues(_.size.toLong).toMap

    val expect =
      refBpe(wordFreqs(Seq("aaa aaa ab", "ab ab cd cd")), k).map(t => ("en", t._1, t._2, t._3)) ++
      refBpe(wordFreqs(Seq("zz zz zy")), k).map(t => ("xx", t._1, t._2, t._3))
    assert(got.sorted == expect.sorted,
      s"engine merges diverge from sequential BPE:\n got=$got\n exp=${expect.toSeq}")
    // the engineered milestones really happened
    assert(got.filter(_._1 == "en").map(t => (t._2, t._3)).take(3) ==
      Seq((1L, "a a"), (2L, "a b"), (3L, "aa a")))
    assert(got.count(_._1 == "xx") == 2, "xx should drop out after its pairs run dry")
  }

  test("bpeEncode: per-doc census equals sequentially applying the learned merges, including the short-chain language") {
    // same corpus as the training test; merges learned there: en = (a a),
    // (a b), (aa a), (c d); xx = (z z), (z y) then dry. Hand-encoded:
    //   aaa -> <aa><a> -> <aaa> = 1 tok; ab -> <ab> = 1; cd -> <cd> = 1
    //   zz -> <zz> = 1; zy -> <zy> = 1
    val docs = Seq(
      (1L, "en", "aaa aaa ab"),
      (2L, "en", "ab ab cd cd"),
      (3L, "xx", "zz zz zy")
    ).toDF("doc_id", "lang", "text")
    val got = TextOps.bpeEncodeFrom(docs, 4)
      .as[(Long, String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      (1L, "en", 3L, 8L, 3L),
      (2L, "en", 4L, 8L, 4L),
      (3L, "xx", 3L, 6L, 3L)),
      s"encode census diverges from the hand-applied merges: $got")
  }

  test("surprisalBuckets: tertiles partition each language; head is most fluent") {
    val rows = TextOps.surprisalBucketsFrom(Tables.documents(spark, sf))
      .select("lang", "bucket", "n_docs", "avg_surprisal")
      .as[(String, String, Long, Double)].collect().toSeq
    val perLang = rows.groupBy(_._1)
    val docCounts = graft.sources.Tables.documents(spark, sf)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    perLang.foreach { case (lang, bs) =>
      assert(bs.map(_._2).toSet == Set("head", "middle", "tail"), s"$lang missing a tertile")
      val counts = bs.map(_._3)
      assert(counts.max - counts.min <= 1, s"$lang tertile sizes unbalanced: $counts")
      assert(counts.sum == docCounts(lang), s"$lang tertiles don't partition the corpus")
      val by = bs.map(b => b._2 -> b._4).toMap
      assert(by("head") <= by("middle") && by("middle") <= by("tail"),
        s"$lang bucket surprisal not monotone: $by")
    }
  }

  test("mixtureWeights: shares and weights are distributions; sqrt-tempering up-samples low-resource sources") {
    val rows = TextOps.mixtureWeightsFrom(Tables.documents(spark, sf))
      .select("source", "n_tokens", "p", "weight", "sample_factor")
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4, "natural shares don't sum to 1")
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4, "mixture weights don't sum to 1")
    // sample_factor = w/p ∝ p^(-1/2): strictly decreasing in token share
    val byShare = rows.sortBy(_._2)
    byShare.sliding(2).foreach { case Seq(lo, hi) =>
      if (lo._2 < hi._2)
        assert(lo._5 >= hi._5,
          s"sqrt-tempering not monotone: ${lo._1}(${lo._2})=${lo._5} vs ${hi._1}(${hi._2})=${hi._5}")
      case _ => ()
    }
  }

  test("epochShufflePlan: epochs carry the same sequence census in different, reproducible orders") {
    val plan = TextOps.epochShufflePlanFrom(Tables.documents(spark, sf), 512, epochs = 2)
      .select("epoch", "seq_id", "shuffle_key", "n_tok")
      .as[(Long, Long, String, Long)].collect().toSeq
    val byEpoch = plan.groupBy(_._1)
    assert(byEpoch.keySet == Set(1L, 2L))
    val census1 = byEpoch(1L).map(t => t._2 -> t._4).toMap
    val census2 = byEpoch(2L).map(t => t._2 -> t._4).toMap
    assert(census1 == census2, "epochs disagree on the sequence census")
    // keys are reproducible md5(epoch:seq_id)
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    plan.foreach { case (ep, sid, key, _) => assert(key == md5hex(s"$ep:$sid")) }
    // and the two epochs order the sequences differently (55+ sequences —
    // an identical permutation would mean the keys ignore the epoch)
    val order1 = byEpoch(1L).sortBy(_._3).map(_._2)
    val order2 = byEpoch(2L).sortBy(_._3).map(_._2)
    assert(order1 != order2, "epoch reshuffle produced the identical order")
  }

  test("dupPassageCoverage: exact dups fully covered, partial dup covers the shared prefix, unique docs zero") {
    val out = TextOps.dupPassageCoverageFrom(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // docs 1 and 4 are exact duplicates (9 tokens, all 7 trigrams df >= 2)
    assert(out(1L) == ((9L, 9L, 1.0)))
    assert(out(4L) == ((9L, 9L, 1.0)))
    // doc 2 shares trigrams 0..5 with doc 1 ("the lazy cat" breaks the last
    // one): covered positions 0..7 -> 8 of 9 tokens
    assert(out(2L)._2 == 8L)
    assert(out(2L)._3 == math.round(8.0 / 9.0 * 1e6) / 1e6)
    // docs 3 and 5 share no trigram with anything
    assert(out(3L)._2 == 0L && out(5L)._2 == 0L)
    assert(out(3L)._3 == 0.0)
  }

  test("spanCutClean: cut tokens equal q97's coverage; kept digest is the uncovered tokens in order") {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = TextOps.spanCutCleanFrom(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    // the cleaner's cut set IS q97's covered positions: n_removed must
    // equal covered_tokens on every document (the measurement/cleaner
    // no-drift contract)
    val cov = TextOps.dupPassageCoverageFrom(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    out.foreach { case (id, (_, nRemoved, _, _)) =>
      assert(nRemoved == cov(id), s"doc $id: n_removed $nRemoved != q97 covered ${cov(id)}")
    }
    // docs 1 and 4 are exact duplicates: every position covered, nothing kept
    assert(out(1L) == ((9L, 9L, 0L, md5hex(""))))
    assert(out(4L) == ((9L, 9L, 0L, md5hex(""))))
    // doc 2 keeps only its final token ("cat" — positions 0..7 are covered
    // by the trigrams shared with doc 1)
    assert(out(2L) == ((9L, 8L, 1L, md5hex("cat"))))
    // unique docs keep everything verbatim
    assert(out(3L) == ((7L, 0L, 7L, md5hex("completely different words entirely here now friends"))))
    assert(out(5L)._2 == 0L && out(5L)._3 == 9L)
  }

  test("registrableDomain: eTLD+1 across subdomains, multi-part suffixes, ports and paths; q216 quota groups subdomains") {
    val cases = Seq(
      ("https://www.bbc.co.uk/news/uk-12345", "bbc.co.uk"),
      ("https://news.bbc.co.uk:8080/x?y=1", "bbc.co.uk"),
      ("https://a.b.example.com/path", "example.com"),
      ("https://example.com", "example.com"),
      ("https://cdn.shop.com.au/img.png", "shop.com.au"),
      ("https://localhost/x", "localhost"), // single label passes through
      ("ftp://deep.sub.tree.site.org/f", "site.org"))
    val got = cases.map(_._1).toDF("url")
      .select(TextOps.registrableDomain(col("url"))).as[String].collect().toSeq
    assert(got == cases.map(_._2), s"got $got")
    // q216 end-to-end: every domain respects the cap, and at least one
    // domain's kept set spans MULTIPLE synthesized subdomains (the whole
    // point of keying on eTLD+1 instead of the host)
    val out = TextOps.urlDomainQuota(graft.sources.Tables.documents(spark, sf), cap = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (d, rows) =>
      assert(rows.length <= 5, s"domain $d exceeded the cap")
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq, s"ranks not dense for $d")
    }
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val subs = Array("www", "news", "blog", "cdn")
    val subsUsed = out.map { case (_, _, id) =>
      subs(Integer.parseInt(md5hex(id.toString).substring(0, 2), 16) % 4)
    }.toSet
    assert(subsUsed.size > 1, "kept docs all came from one subdomain — grouping untested")
  }

  test("registrableDomainPsl: wildcard, exception, implicit-default and apex-suffix cases; parser round-trips the file format") {
    // the published-list precedence: exception > longest match > implicit '*'
    val cases = Seq(
      ("https://www.bbc.co.uk/news", "bbc.co.uk"),      // multi-part normal
      ("https://a.b.example.com/x", "example.com"),     // normal
      ("https://sub.site.ck/x", "sub.site.ck"),         // wildcard: site.ck IS a public suffix
      ("https://site.ck/x", null),                      // apex of a wildcard suffix: NO registrable domain
      ("https://www.ck/x", "www.ck"),                   // exception carve-out: its own registrable domain
      ("https://deep.www.ck/x", "www.ck"),              // exception ⇒ ps = 'ck', so suffix+1 = www.ck
      ("https://a.b.unknown.zz/x", "unknown.zz"),       // implicit '*' default for an unlisted TLD
      ("https://co.uk/x", null),                        // apex of a listed suffix
      ("https://uk/x", null),                           // bare TLD
      ("https://ck/x", null))                           // bare wildcard base: no rule matches, default ps = itself
    val got = cases.map(_._1).toDF("url")
      .select(TextOps.registrableDomainPsl(col("url"))).as[String].collect().toSeq
    assert(got == cases.map(_._2), s"got $got")
    // parser: kinds and label counts off the raw PSL format
    val rules = TextOps.parsePsl(Iterator("// c", "", "com", "co.uk", "*.ck", "!www.ck"))
    assert(rules == Seq(
      TextOps.PslRule("com", "normal", 1), TextOps.PslRule("co.uk", "normal", 2),
      TextOps.PslRule("ck", "wildcard", 1), TextOps.PslRule("www.ck", "exception", 2)))
    // the embedded subset carries all three rule kinds (the q218 coverage claim)
    assert(TextOps.PslSubset.exists(_.kind == "wildcard") &&
      TextOps.PslSubset.exists(_.kind == "exception") &&
      TextOps.PslSubset.count(_.kind == "normal") >= 10)
    // q218 end-to-end: caps respected; the exception host and a wildcard
    // 3-label domain both appear; no apex suffix leaks through
    val out = TextOps.urlDomainQuotaPsl(graft.sources.Tables.documents(spark, sf), cap = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (d, rows) =>
      assert(rows.length <= 5, s"domain $d exceeded the cap")
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq, s"ranks not dense for $d")
    }
    val doms = out.map(_._1).toSet
    assert(doms.contains("www.ck"), "exception host must survive as its own domain")
    assert(doms.exists(d => d.endsWith(".ck") && d != "www.ck" && d.count(_ == '.') == 2),
      "wildcard .ck domains must keep the subdomain (3 labels)")
    assert(!doms.contains("co.uk") && !doms.contains("site.ck"),
      "apex public suffixes must be dropped")
  }

  test("PslFull: the complete published list drives the matcher — 4-label rules, wildcard-apex label-count clause, IDN rules and hosts") {
    // the shipped artifact is the real publicsuffix.org list: ~9.5k rules,
    // every kind, up to 5-label bases, IDN bases normalized to A-labels
    assert(TextOps.PslFull.size > 9000, s"got ${TextOps.PslFull.size}")
    assert(TextOps.PslFull.count(_.kind == "wildcard") > 50)
    assert(TextOps.PslFull.count(_.kind == "exception") >= 5)
    assert(TextOps.PslFull.map(_.baseLabels).max == 5)
    assert(TextOps.PslFull.contains(TextOps.PslRule("pvt.k12.ma.us", "normal", 4)))
    assert(TextOps.PslFull.contains(TextOps.PslRule("xn--p1ai", "normal", 1)),
      "Unicode rule 'рф' must be A-label-normalized at parse")
    val cases = Seq(
      // 4-label normal rule
      ("https://foo.example.pvt.k12.ma.us/x", "example.pvt.k12.ma.us"),
      ("https://pvt.k12.ma.us/x", null),                  // its apex drops
      // wildcard *.kawasaki.jp with exception !city.kawasaki.jp
      ("https://blog.example.kawasaki.jp/x", "blog.example.kawasaki.jp"),
      ("https://sub.city.kawasaki.jp/x", "city.kawasaki.jp"),
      // the PSL label-count clause: *.kawasaki.jp (3 rule labels) does NOT
      // match the 2-label host, which falls to the 'jp' rule
      ("https://kawasaki.jp/x", "kawasaki.jp"),
      // IDN host against an IDN rule, via the staged lower+idnAscii pipe
      ("https://www.пример.рф/x", "xn--e1afmkfd.xn--p1ai"),
      ("https://münchen.de/x", "xn--mnchen-3ya.de"),
      ("https://a.b.github.io/x", "b.github.io"))         // private-section rule
    val got = cases.map(_._1).toDF("url")
      .select(TextOps.registrableDomainPslOfLabels(
        split(graft.functions.TextFunctions.idnAscii(lower(
          regexp_extract(col("url"), "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1))), "\\."),
        TextOps.PslFull)).as[String].collect().toSeq
    assert(got == cases.map(_._2), s"got $got")
  }

  test("PslFull property: engine matcher equals an independent driver-side PSL reference over hosts built from real rules") {
    import spark.implicits._
    // the publicsuffix.org algorithm restated INDEPENDENTLY of the engine's
    // when-chain: a rule matches when the host's suffix equals its base and
    // the host has at least as many labels as the rule (the '*' is a
    // label); exceptions prevail (ps = base labels - 1), else the most
    // labels win (wildcard counts its '*'), else the implicit '*' (ps = 1);
    // no registrable domain when the host IS the public suffix
    def refRegistrable(host: String): Option[String] = {
      val labs = host.split('.')
      val n = labs.length
      def suffix(k: Int) = labs.takeRight(k).mkString(".")
      val matching = TextOps.PslFull.filter { r =>
        val minLabs = if (r.kind == "wildcard") r.baseLabels + 1 else r.baseLabels
        n >= minLabs && suffix(r.baseLabels) == r.base
      }
      val exc = matching.filter(_.kind == "exception")
      val psLen =
        if (exc.nonEmpty) exc.map(_.baseLabels).max - 1
        else if (matching.isEmpty) 1
        else matching.map(r => r.baseLabels + (if (r.kind == "wildcard") 1 else 0)).max
      if (n >= psLen + 1) Some(labs.takeRight(psLen + 1).mkString(".")) else None
    }
    // deterministic host pool straight off the real list: each sampled
    // rule's base bare, one level under it, and two levels under it —
    // bare wildcard bases and bare exceptions are exactly the corner cases
    val rnd = new scala.util.Random(42)
    val sample = rnd.shuffle(TextOps.PslFull).take(400)
    val hosts = sample.flatMap(r =>
      Seq(r.base, "alpha." + r.base, "beta.alpha." + r.base)).distinct
    val got = hosts.toDF("h")
      .select(col("h"), TextOps.registrableDomainPslOfLabels(
        split(col("h"), "\\."), TextOps.PslFull).as("d"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    hosts.foreach { h =>
      assert(got(h) == refRegistrable(h), s"host '$h': engine ${got(h)} vs reference ${refRegistrable(h)}")
    }
  }

  test("mergeShingleDfDelta: incremental index refresh equals the full rebuild for every whole-doc split; df>1 cut matches the q220 index") {
    val docs = graft.sources.Tables.documents(spark, sf)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("sg"), col("df").cast("long")).as[(String, Long)].collect().toSet
    val full = key(TextOps.shingleDfFrom(docs))
    assert(full.nonEmpty)
    for (m <- Seq(3L, 7L, 10L)) {
      val inc = key(TextOps.mergeShingleDfDelta(
        TextOps.shingleDfFrom(docs.filter(col("doc_id") % m =!= 0)),
        docs.filter(col("doc_id") % m === 0)))
      assert(inc == full, s"split mod $m: incremental df != full rebuild")
    }
    // the maintained relation's df>1 projection IS the q220 standing index
    val dupFromMaintained = full.filter(_._2 > 1).map(_._1)
    val dupDirect = TextOps.dupShinglesFrom(docs).as[String].collect().toSet
    assert(dupFromMaintained == dupDirect,
      "df>1 cut of the maintained index diverged from dupShinglesFrom")
  }

  test("benchmarkDecontam: exact copy fully cut, partial overlap keeps only the uncovered suffix, disjoint docs untouched, benchmark excluded") {
    // bench source "book" = doc 4, an exact copy of doc 1's text
    val out = TextOps.benchmarkDecontamFrom(docs, "book")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getString(4)))
      .toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L, 5L), "benchmark doc must be excluded")
    val byId = out.map(r => r._1 -> r).toMap
    // doc 1 text == benchmark text: every position covered -> nothing kept
    assert(byId(1L)._3 == 0L && byId(1L)._4 ==
      java.security.MessageDigest.getInstance("MD5").digest("".getBytes)
        .map("%02x".format(_)).mkString)
    // doc 2 shares the 8-token prefix; only the final "cat" survives
    assert(byId(2L)._3 == 1L)
    assert(byId(2L)._4 == java.security.MessageDigest.getInstance("MD5")
      .digest("cat".getBytes).map("%02x".format(_)).mkString)
    // disjoint docs keep every token
    assert(byId(3L)._3 == byId(3L)._2 && byId(5L)._3 == byId(5L)._2)
  }

  test("tokenBudgetSelect: kept set equals the local quality-prefix scan; exclusive-prefix boundary; budget monotone") {
    val corpus = graft.sources.Tables.documents(spark, sf)
    // the operator's own scoring projection, recomputed for the local model
    val scored = corpus.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[^\\s]+"), lit(0))).cast("long"),
        coalesce(graft.functions.Fx.rd(TextOps.qualityScore(col("text")), 6), lit(0.0)))
      .as[(Long, Long, Double)].collect().sortBy { case (id, _, q) => (-q, id) }
    val total = scored.map(_._2).sum
    val budget = total / 2
    val expected = scored.scanLeft((0L, 0L, 0.0, 0L)) {
      case ((_, _, _, acc), (id, n, q)) => (id, n, q, acc + n)
    }.tail.map { case (id, n, q, cumIncl) => (id, n, q, cumIncl - n) }
      .filter(_._4 < budget).sortBy(_._1).toSeq
    val got = TextOps.tokenBudgetSelectFrom(corpus, budget)
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(got == expected, s"distributed selection != local prefix scan")
    assert(got.nonEmpty && got.size < scored.length, "budget must actually cut")
    // the straddling doc is kept (its exclusive prefix < budget) and the
    // kept token mass reaches at least the budget
    assert(got.map(_._2).sum >= budget)
    // monotonicity: a bigger budget keeps a superset
    val small = TextOps.tokenBudgetSelectFrom(corpus, budget / 2)
      .as[(Long, Long, Double, Long)].collect().map(_._1).toSet
    assert(small.subsetOf(got.map(_._1).toSet))
    // budget 1 keeps exactly the single best-ranked document
    val one = TextOps.tokenBudgetSelectFrom(corpus, 1L)
      .as[(Long, Long, Double, Long)].collect()
    assert(one.length == 1 && one.head._1 == scored.head._1 && one.head._4 == 0L)
  }

  test("leakSafeSplitKeyed: cluster members inherit the rep's split, singletons reduce to the q59 per-doc rule, every doc present") {
    val clusters = Seq((1L, 1L), (2L, 1L), (4L, 1L)).toDF("doc_id", "cluster_rep")
    val out = TextOps.leakSafeSplitKeyed(docs, clusters)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    val byId = out.map(r => r._1 -> r).toMap
    // every cluster member keys on the rep -> one shared split
    assert(Seq(1L, 2L, 4L).map(byId(_)._2).forall(_ == 1L))
    assert(Seq(1L, 2L, 4L).map(byId(_)._3).distinct.size == 1)
    // singletons key on themselves — exactly splitAssign's bucket — and the
    // cluster's shared split is the q59 rule evaluated AT the rep
    val q59 = TextOps.splitAssign(docs, "doc_id")
      .select(col("doc_id"), col("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(3L)._3 == q59(3L) && byId(5L)._3 == q59(5L))
    assert(byId(2L)._3 == q59(1L) && byId(4L)._3 == q59(1L))
  }

  test("leakSafeSplit end-to-end: no verified near-dup cluster straddles a split boundary") {
    val splits = TextOps.leakSafeSplit(spark, sf, 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val clusters = TextOps.nearDupClusters(spark, sf, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.nonEmpty, "fixture corpus must actually have near-dup clusters")
    clusters.groupBy(_._2).foreach { case (rep, ms) =>
      assert(ms.map(m => splits(m._1)).distinct.size == 1,
        s"cluster rep=$rep straddles splits: ${ms.toSeq}")
    }
  }

  test("mixtureBudgetSelect: distributed == local per-source prefix scan; integer budget rule; smaller budget keeps a subset") {
    val corpus = graft.sources.Tables.documents(spark, sf)
    val scored = corpus.select(col("doc_id"), col("source"),
        size(regexp_extract_all(col("text"), lit("[^\\s]+"), lit(0))).cast("long"),
        coalesce(graft.functions.Fx.rd(TextOps.qualityScore(col("text")), 6), lit(0.0)))
      .as[(Long, String, Long, Double)].collect()
    val budget = scored.map(_._3).sum / 2
    // local model: the q89 weight chain -> integer micro-weight budgets
    def rd6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val per = scored.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val tot = per.values.sum.toDouble
    val wr = per.view.mapValues(v => math.sqrt(v / tot)).toMap
    val z = wr.values.sum
    val budgets = wr.map { case (s, w) =>
      s -> math.round(rd6(w / z) * 1e6) * budget / 1000000L
    }
    val expected = scored.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      val ordered = rows.sortBy { case (id, _, _, q) => (-q, id) }
      ordered.scanLeft(0L)((acc, r) => acc + r._3).zip(ordered)
        .filter { case (off, _) => off < budgets(src) }
        .map { case (off, (id, s2, n, q)) => (id, s2, n, q, off, budgets(s2)) }
    }.sortBy(_._1)
    val got = TextOps.mixtureBudgetSelectFrom(corpus, budget)
      .as[(Long, String, Long, Double, Long, Long)].collect().toSeq
    assert(got == expected, "distributed selection != local per-source prefix scan")
    assert(got.nonEmpty && got.size < scored.length, "budgets must actually cut")
    // floor is monotone in the global budget -> smaller budget keeps a subset
    val small = TextOps.mixtureBudgetSelectFrom(corpus, budget / 2)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(small.subsetOf(got.map(_._1).toSet))
  }

  test("chunkDedupClean: matches a local reference model; identical docs fully cut each other") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // reference chunking: identical boundary rule (1-based positions; md5
    // nibble-0 on the 8-char window starting at i, i in [2, L-7])
    def chunksOf(norm: String): Seq[String] = {
      val L = norm.length
      val bs = 1 +: (if (L >= 9)
        (2 to L - 7).filter(i => md5hex(norm.substring(i - 1, i + 7)).startsWith("0"))
      else Seq.empty[Int])
      bs.zipWithIndex.map { case (b, j) =>
        val end = if (j < bs.length - 1) bs(j + 1) else L + 1
        norm.substring(b - 1, end - 1)
      }
    }
    val norms = docs.select(col("doc_id"), TextOps.normText(col("text")))
      .as[(Long, String)].collect().toMap
    val chunkMap = norms.view.mapValues(chunksOf).toMap
    val dfOf = chunkMap.toSeq.flatMap { case (id, cs) => cs.distinct.map(c => (c, id)) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val expected = chunkMap.map { case (id, cs) =>
      val kept = cs.filter(c => dfOf(c) <= 1)
      id -> ((cs.length.toLong, kept.length.toLong, md5hex(kept.mkString(""))))
    }
    val out = TextOps.chunkDedupCleanFrom(docs, 1L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out == expected, s"operator disagrees with the reference model:\n$out\nvs\n$expected")
    // the structural guarantee: byte-identical docs 1 and 4 cut each other
    // completely (every chunk of one exists in the other -> df >= 2)
    assert(out(1L)._2 == 0L && out(1L)._3 == md5hex(""))
    assert(out(4L)._2 == 0L && out(4L)._3 == md5hex(""))
    // and something must actually survive somewhere or the test is vacuous
    assert(out.values.exists(_._2 > 0L))
  }

  test("bm25: two-term match with the rare term outranks single-term matches; scores positive; ranks dense") {
    val out = TextOps.bm25TopDocsFrom(docs, Seq("fox", "cat"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(4)))
    // docs containing fox: 1, 2, 4; cat only in 2 -> three results
    assert(out.map(_._2).toSet == Set(1L, 2L, 4L))
    assert(out.head._2 == 2L, s"doc 2 (fox + rare cat) must rank first: $out")
    assert(out.find(_._2 == 2L).get._3 == 2L) // matched both terms
    assert(out.forall(_._4 > 0.0))
    assert(out.map(_._1).toSeq == (1L to out.length).toSeq)
  }

  test("weightedSample: deterministic, k per stratum, and the key is the stated -ln(u)/w transform") {
    val d = Seq(
      (1L, "a", 100L), (2L, "a", 200L), (3L, "a", 50L), (4L, "a", 400L),
      (5L, "b", 10L), (6L, "b", 10000L), (7L, "b", 0L)
    ).toDF("doc_id", "source", "n_chars")
    val run1 = TextOps.weightedSampleFrom(d, 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    val run2 = TextOps.weightedSampleFrom(d, 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    assert(run1.toSeq == run2.toSeq, "weighted sample is not reproducible")
    assert(run1.count(_._1 == "a") == 2 && run1.count(_._1 == "b") == 2)
    // zero-weight documents (n_chars = 0) must never enter the sample: the
    // key would be NULL/Inf and inclusion probability ∝ weight is zero
    assert(!run1.exists(_._3 == 7L), "zero-weight doc was sampled")
    // recompute one key from first principles: u = (hex15(md5(id)) + 1) / 16^15
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    run1.foreach { case (_, _, id, keyMilli) =>
      val w = d.filter(col("doc_id") === id).select("n_chars").as[Long].head()
      val u = (java.lang.Long.parseLong(md5hex(id.toString).take(15), 16).toDouble + 1.0) /
        math.pow(16.0, 15)
      val expect = math.round(-math.log(u) / w * 1e3 * 1e6) / 1e6.toDouble
      assert(math.abs(keyMilli - expect) < 1e-9, s"doc $id key $keyMilli != $expect")
    }
  }

  test("ragChunks: exact grid on a tiny doc, full coverage and fixed overlap everywhere") {
    val tiny = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val chunks = TextOps.ragChunksFrom(tiny, 3, 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(chunks.toSeq == Seq(
      (0L, 0L, 3L, md5hex("a b c")),
      (1L, 2L, 3L, md5hex("c d e"))))
    // invariants on the real corpus at the registered (32, 24) config
    val all = TextOps.ragChunksFrom(Tables.documents(spark, sf), 32, 24)
      .groupBy("doc_id")
      .agg(max(col("start_tok") + col("n_tok")).as("covered"),
        count(lit(1)).as("n_chunks"), min("n_tok").as("min_tok"))
    val toks = graft.sources.Tables.documents(spark, sf).select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("n"))
    val joined = all.join(toks, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("covered") == r.getAs[Long]("n"),
        s"chunks don't cover doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Long]("min_tok") >= 1L)
    }
  }

  test("bigramSurprisal: hand-computed interpolated scores on a tiny corpus") {
    val tiny = Seq(
      (1L, "en", "a b a b"),
      (2L, "en", "a c")
    ).toDF("doc_id", "lang", "text")
    val out = TextOps.bigramSurprisalFrom(tiny)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    // models: cb(a,b)=2 cb(b,a)=1 cb(a,c)=1; cp(a)=3 cp(b)=1; cu a=3 b=2 c=1, T=6
    // doc1: p(a,b)=.5*(2/3)+.5*(2/6)=.5 (x2), p(b,a)=.5*1+.5*(3/6)=.75
    val d1 = -(math.log(0.5) * 2 + math.log(0.75)) / 3.0
    // doc2: p(a,c)=.5*(1/3)+.5*(1/6)=.25
    val d2 = -math.log(0.25)
    def r6(x: Double) = math.round(x * 1e6) / 1e6.toDouble
    assert(out(1L) == ((3L, r6(d1))), s"got ${out(1L)}, want (3, ${r6(d1)})")
    assert(out(2L) == ((1L, r6(d2))), s"got ${out(2L)}, want (1, ${r6(d2)})")
    // fluency ordering on the real corpus: repeated high-probability
    // contexts score lower than average (monotonicity smoke)
    val real = TextOps.bigramSurprisalFrom(Tables.documents(spark, sf))
    assert(real.count() > 0)
  }

  test("qualityCalibration: pct_rank spans [0,1] per lang, ties calibrate equally, deciles bounded") {
    val out = TextOps.qualityCalibrationFrom(docs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    assert(out.forall(t => t._4 >= 0.0 && t._4 <= 1.0))
    assert(out.forall(t => t._5 >= 0L && t._5 <= 9L))
    // docs 1 and 4 are identical texts -> identical scores -> identical rank
    val byId = out.map(t => t._1 -> t._4).toMap
    assert(byId(1L) == byId(4L), "equal scores must share a percent rank")
    // every lang has a 0.0 (the minimum) when it has >1 distinct score
    val en = out.filter(_._2 == "en")
    assert(en.map(_._4).min == 0.0)
  }

  test("vocabGrowth matches a sequential corpus scan") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def toks(t: String): Seq[String] =
      t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
        .split(" ").toSeq.filter(_.nonEmpty)
    // sequential scan: running token count + running vocabulary set
    val seen = scala.collection.mutable.Set.empty[String]
    var tokensSeen = 0L
    var docsSeen = 0L
    val byCkpt = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    docs.foreach { case (id, text) =>
      val ts = toks(text)
      if (ts.nonEmpty) { // zero-token docs never reach the token relation
        tokensSeen += ts.length
        docsSeen += 1
        seen ++= ts
        byCkpt(id / 100) = (docsSeen, tokensSeen, seen.size.toLong)
      }
    }
    val got = TextOps.vocabGrowth(graft.sources.Tables.documents(spark, sf))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(got.keySet == byCkpt.keySet)
    // brute-force the log-log OLS slope from the sequential curve
    def fit(curve: Seq[(Long, Long)]): Double = {
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val pts = curve.map { case (t, v) => (r6(math.log(t.toDouble)), r6(math.log(v.toDouble))) }
      val n = pts.length
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum; val sxy = pts.map(p => p._1 * p._2).sum
      ((n * sxy - sx * sy) / (n * sxx - sx * sx)).toDouble
    }
    val expBeta = fit(byCkpt.toSeq.sortBy(_._1).map { case (_, (_, t, v)) => (t, v) })
    byCkpt.foreach { case (ck, (d, t, v)) =>
      val (gd, gt, gv, ttr, beta) = got(ck)
      assert(gd == d && gt == t && gv == v, s"ckpt $ck")
      assert(math.abs(ttr - v.toDouble / t) < 1e-6, s"ckpt $ck ttr")
      assert(math.abs(beta - expBeta) < 1e-5, s"ckpt $ck beta $beta != $expBeta")
    }
    // the fitted slope is one shared value across the curve
    assert(got.values.map(_._5).toSet.size == 1)
  }

  test("prefixSimilarityJoin: lossless vs brute force; prefixes actually prune") {
    // Zipf-ish corpus: every doc carries the super-common token 'the';
    // near-dup pairs share rare tokens; dissimilar docs share ONLY 'the'
    val docs = Seq(
      (1L, "the alpha beta gamma delta"),
      (2L, "the alpha beta gamma delta"),           // exact dup of 1
      (3L, "the alpha beta gamma epsilon"),          // J=4/6 with 1
      (4L, "the zeta eta theta iota"),
      (5L, "the zeta eta theta kappa"),              // J=4/6 with 4
      (6L, "the lambda mu nu xi"),
      (7L, "the omicron pi rho sigma")
    ).map { case (id, t) => (id, t, "en", "syn", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.prefixSimilarityJoin(docs, 3, 5, shingled = false).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // brute force over token sets
    def toks(t: String) = t.split(" ").toSet
    val raw = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> toks(r.getString(1)))
    val exp = (for {
      (a, ta) <- raw; (b, tb) <- raw if a < b
      inter = ta.intersect(tb).size; un = ta.union(tb).size
      if inter * 5 >= un * 3
    } yield (a, b) -> inter.toDouble / un).toMap
    assert(got.keySet == exp.keySet, s"got ${got.keySet} exp ${exp.keySet}")
    got.foreach { case (k, j) => assert(math.abs(j - exp(k)) < 1e-6, k.toString) }
    // both adaptive paths produce identical rows on this dup-bearing corpus
    // (docs 1,2 are exact dups, so the probe picks collapsed by default)
    def allRows(collapse: Boolean) =
      TextOps.prefixSimilarityJoin(docs, 3, 5, shingled = false,
        collapseSets = Some(collapse)).collect().map(_.toSeq).toSeq
    assert(allRows(true) == allRows(false),
      "collapsed path diverges from the direct path on a dup-bearing corpus")
    // the probe itself: >10% duplicate sets -> collapsed plan (its
    // cross+intra Union is observable); all-distinct -> direct plan
    def planOf(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.toString
    assert(planOf(TextOps.prefixSimilarityJoin(docs, 3, 5, shingled = false))
      .contains("Union"), "1-in-7 dup corpus (>10%) should take the collapsed path")
    val distinctDocs = docs.filter(col("doc_id") =!= 2L)
    assert(!planOf(TextOps.prefixSimilarityJoin(distinctDocs, 3, 5, shingled = false))
      .contains("Union"), "all-distinct corpus should take the direct path")
    // pruning: the candidate stage must be strictly smaller than the
    // every-shared-token pair space ('the' alone links all 21 pairs)
    val tk = TextOps.docTokens(docs)
    val nCand = TextOps.prefixCandidates(tk, 3, 5).count()
    val nAll = tk.as("a").join(tk.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .select("a.doc_id", "b.doc_id").distinct().count()
    assert(nAll == 21, s"common token should link every pair, got $nAll")
    assert(nCand < nAll, s"prefix filter pruned nothing: $nCand vs $nAll")
    assert(nCand >= exp.size, "candidates must cover every qualifying pair")
  }

  test("prefixCandidates: positional filter prunes pairs the prefix+length filters keep") {
    // Docs 1 and 2 (10 tokens each) share exactly ONE token, 'shared'
    // (df=2), sitting at rarest-first rank 3 in BOTH — behind two unique
    // df=1 tokens and ahead of seven df=3 fillers. At tau=4/5 the prefix
    // length is 10 - 8 + 1 = 3, so 'shared' IS in both prefixes and the
    // sizes are equal (length filter passes), but the positional bound
    // 1 + min(10-3, 10-3) = 8 < minoverlap ceil(4*(10+10)/9) = 9 — only
    // the positional filter can drop the pair. Padding docs p1..p4 raise
    // the filler dfs to 3 without creating any qualifying pair.
    val docs = Seq(
      (1L, "u1a u1b shared a1 a2 a3 a4 a5 a6 a7"),
      (2L, "u2a u2b shared b1 b2 b3 b4 b5 b6 b7"),
      (3L, "a1 a2 a3 a4 a5 a6 a7"),                 // p1: J(1,p1)=0.7
      (4L, "a1 a2 a3 a4 a5 a6 a7 c1 c2 c3"),        // p2: J(p1,p2)=0.7
      (5L, "b1 b2 b3 b4 b5 b6 b7"),
      (6L, "b1 b2 b3 b4 b5 b6 b7 c4 c5 c6")
    ).map { case (id, t) => (id, t, "en", "syn", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tk = TextOps.docTokens(docs)
    val loose = TextOps.prefixCandidates(tk, 4, 5, positional = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tight = TextOps.prefixCandidates(tk, 4, 5, positional = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose.contains((1L, 2L)),
      s"fixture broken: prefix+length filters should keep (1,2), got $loose")
    assert(!tight.contains((1L, 2L)),
      s"positional filter should drop (1,2), got $tight")
    assert(tight.subsetOf(loose), "positional filter must only remove candidates")
    // losslessness at the operator level: brute force says NO pair reaches
    // J >= 4/5, and the full operator (positional filter on) agrees
    val got = TextOps.prefixSimilarityJoin(docs, 4, 5, shingled = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.isEmpty, s"no pair reaches J>=0.8, got $got")
  }

  test("domainQuota: per-domain cap binds, selection is smallest-md5, append only displaces") {
    import spark.implicits._
    // domain A: 6 docs (cap 3 binds); domain B: 2 docs (keeps all)
    def doc(id: Long, src: String) = (id, s"text $id", "en", src, 10L)
    val docs = ((1L to 6L).map(doc(_, "A")) ++ Seq(doc(10L, "B"), doc(11L, "B")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.domainQuota(docs, cap = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // brute force: 52-bit md5 prefix ascending, doc_id tiebreak
    def hv(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      java.lang.Long.parseLong(hex, 16)
    }
    val expA = (1L to 6L).sortBy(id => (hv(id), id)).take(3)
    val expB = Seq(10L, 11L).sortBy(id => (hv(id), id))
    val exp = expA.zipWithIndex.map { case (id, i) => ("A", (i + 1).toLong, id) } ++
      expB.zipWithIndex.map { case (id, i) => ("B", (i + 1).toLong, id) }
    assert(got.toSeq == exp.toSeq, s"got ${got.toSeq} exp ${exp.toSeq}")
    // append stability: adding docs only DISPLACES survivors (the kept set
    // of the grown corpus is a subset-or-resample of hash order, never a
    // reshuffle): every kept doc of the grown domain has hash <= the old cut
    val grown = docs.union(Seq(doc(7L, "A"), doc(8L, "A")).toDF(docs.columns: _*))
    val keptGrown = TextOps.domainQuota(grown, cap = 3).collect()
      .filter(_.getString(0) == "A").map(_.getLong(2)).toSet
    val oldCut = expA.map(hv).max
    assert(keptGrown.forall(id => hv(id) <= oldCut),
      "append let a larger-hash doc displace a smaller-hash survivor")
  }

  test("vocabGrowth: Heaps slope is positive on a growing-vocabulary corpus") {
    import spark.implicits._
    // doc i introduces i+1 fresh types and repeats a shared stopword —
    // vocabulary grows every checkpoint (bucket = 1 doc at bucketDocs=1)
    val docs = (0 until 8).map { i =>
      val fresh = (0 to i).map(j => s"w${i}_$j").mkString(" ")
      (i.toLong, s"the $fresh", "en", "synthetic", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.vocabGrowth(docs, bucketDocs = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(5)))
    assert(out.length == 8)
    // strictly growing vocabulary, strictly positive fitted slope
    out.sliding(2).foreach { case Array(a, b) => assert(b._3 > a._3); case _ => () }
    assert(out.head._4 > 0.0 && out.head._4 < 1.5, out.head.toString)
  }

  test("noveltyCurve: conservation laws, driver-side first-seen replay, single-shard degenerate") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),            // 2 shingles
      (2L, "alpha beta gamma epsilon zeta"),     // 3 shingles, 1 shared w/ doc 1
      (3L, "totally different words right here"),
      (4L, "alpha beta gamma delta"),            // exact dup of doc 1
      (5L, "hi there")                           // < 3 tokens: no shingles
    ).map { case (id, t) => (id, "en", "web", t) }
      .toDF("doc_id", "lang", "source", "text")
    val nShards = 3
    val out = TextOps.noveltyCurveFrom(docs, nShards)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // conservation: every doc in exactly one shard; each distinct shingle
    // is NEW in exactly one shard; final cumulative == corpus vocabulary
    assert(out.map(_._2).sum == 5L, s"doc census off: ${out.toSeq}")
    val shardOf = docs.select(col("doc_id"),
        TextOps.hashBucket(col("doc_id"), nShards).as("shard"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sh = TextOps.shingleSet(docs)
      .select("doc_id", "sg").collect()
      .map(r => (shardOf(r.getLong(0)), r.getString(1))).distinct
    val vocab = sh.map(_._2).distinct.length.toLong
    assert(out.map(_._4).sum == vocab, "sum of n_new != vocabulary")
    assert(out.last._5 == vocab, "final cum_vocabulary != vocabulary")
    // per-shard replay: distinct presence + min-shard first-occurrence
    val firstShard = sh.groupBy(_._2).map { case (sg, xs) => sg -> xs.map(_._1).min }
    out.foreach { case (shard, _, nDistinct, nNew, _) =>
      val here = sh.filter(_._1 == shard).map(_._2)
      assert(nDistinct == here.length.toLong, s"shard $shard distinct off")
      assert(nNew == here.count(sg => firstShard(sg) == shard).toLong,
        s"shard $shard first-seen off")
    }
    // cumulative is the running sum in shard order
    assert(out.map(_._4).scanLeft(0L)(_ + _).tail.toSeq == out.map(_._5).toSeq)
    // one shard: everything is first-seen, rate exactly 1.0
    val one = TextOps.noveltyCurveFrom(docs, 1).collect()
    assert(one.length == 1 && one.head.getLong(3) == vocab
      && one.head.getDouble(5) == 1.0, s"degenerate shard wrong: ${one.toSeq}")
  }

  test("lshCandidateQuality: an empty τ list is an empty curve, not a crash") {
    val df = TextOps.lshCandidateQuality(spark, sf, Seq.empty)
    assert(df.columns.toSeq == Seq("tau", "n_true", "n_hit", "n_candidates",
      "recall", "candidate_precision", "expected_recall"))
    assert(df.count() == 0)
  }

  test("lshCandidateQuality: the DEDUP_QUALITY.md contract — internal consistency, recall floor, and every banding miss containment-shaped") {
    val rows = TextOps.lshCandidateQuality(spark, sf, Seq(0.5, 0.8, 0.9))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTrue, nHit, nCand) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nHit <= nTrue && nHit <= nCand, s"impossible counts: $r")
      // floor raised 0.85 → 0.999 with the round-16 four-family fix: the
      // single-family K-M correlation gap (recall 0.963 at sf0.1) is closed
      // by deriving each pair of bands from an independent base-hash pair —
      // measured recall is 1.0 at every τ at sf0.001/0.01/0.1
      assert(r.getDouble(4) >= 0.999,
        s"candidate recall collapsed below the committed floor: $r")
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
    }
    // any miss the K-M family ever produces must be a CONTAINMENT pair
    // (inter = min(na, nb)) — the correlated-permutation failure mode
    // anatomized in DEDUP_QUALITY.md; a non-containment miss means the
    // family is broken, not merely correlated
    TextOps.lshMissedPairs(spark, sf, 0.5).collect().foreach { m =>
      val (inter, na, nb) = (m.getLong(2), m.getLong(3), m.getLong(4))
      assert(inter == math.min(na, nb),
        s"non-containment banding miss — the LSH family is broken: $m")
    }
  }
}
