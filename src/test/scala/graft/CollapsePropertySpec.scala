package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** Randomized cross-IMPLEMENTATION equivalence for the collapse machinery:
  * dup-heavy corpora are generated from seeds and every operator's output is
  * compared against an independent PURE-SCALA reference (no Spark, no
  * DuckDB) that runs the raw per-doc algorithm — signatures, banding,
  * Jaccard, blocked Levenshtein, union-find components. The DuckDB oracles
  * pin the real testdata; this suite pins the edge cases random fixtures
  * surface (every-doc-duplicated, cross-lang dups, shingle-less texts).
  */
class CollapsePropertySpec extends SparkSpecBase {
  import spark.implicits._

  // ---- pure-Scala reference implementation (mirrors the md5 family) ----
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def norm(s: String): String =
    s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim

  private def shingleSet(s: String): Set[String] = {
    val t = norm(s).split(" ").toIndexedSeq.filter(_.nonEmpty)
    if (t.size < 3) Set.empty
    else (0 to t.size - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet
  }

  private def signature(sgs: Set[String]): IndexedSeq[Long] = {
    val ab = sgs.toIndexedSeq.map { sg =>
      val h = md5hex(sg)
      (java.lang.Long.parseLong(h.substring(0, 15), 16),
        java.lang.Long.parseLong(h.substring(15, 23), 16))
    }
    (0 until 32).map(i => ab.map { case (a, b) => a + (i + 1).toLong * b }.min)
  }

  private def bandBuckets(sig: IndexedSeq[Long]): IndexedSeq[String] =
    (0 until 8).map(b => md5hex((0 until 4).map(r => sig(b * 4 + r)).mkString("|")))

  private def rd6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def jaccard(a: Set[String], b: Set[String]): Double =
    rd6(a.intersect(b).size.toDouble / a.union(b).size)

  private def levenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  /** Raw per-doc minhash-LSH pairs (the algorithm the oracles compute). */
  private def refPairs(docs: Seq[(Long, String)], threshold: Double): Set[(Long, Long, Double)] = {
    val withSg = docs.map { case (id, t) => (id, shingleSet(t)) }.filter(_._2.nonEmpty)
    val sigs = withSg.map { case (id, sgs) => (id, sgs, bandBuckets(signature(sgs)).toSet) }
    (for {
      (ia, sa, ba) <- sigs; (ib, sb, bb) <- sigs
      if ia < ib && ba.intersect(bb).nonEmpty
      j = jaccard(sa, sb) if j >= threshold
    } yield (ia, ib, j)).toSet
  }

  /** Union-find components over the raw pair graph → doc -> min reachable. */
  private def refComponents(pairs: Set[(Long, Long, Double)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    for ((a, b, _) <- pairs) { parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b); val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def mkCorpus(seed: Int): Seq[(Long, String, String, String, Long)] = {
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rng = new scala.util.Random(seed)
    val texts = (0 until 12).map(_ =>
      (0 until (5 + rng.nextInt(6))).map(_ => words(rng.nextInt(words.size))).mkString(" "))
    var id = 0L
    val rows = scala.collection.mutable.Buffer[(Long, String, String, String, Long)]()
    for (t <- texts; _ <- 0 until (1 + rng.nextInt(4))) {
      id += 1
      // punctuation/case noise that normalizes away — exact-dup clusters
      val noisy = rng.nextInt(3) match {
        case 0 => t + "!!"
        case 1 => t.toUpperCase
        case _ => t.replace(" ", "   ")
      }
      rows += ((id, noisy, if (rng.nextBoolean()) "en" else "de", "web", 0L))
    }
    rows += ((id + 1, "hi", "en", "web", 0L)) // shingle-less: must never pair
    rows.toSeq
  }

  // ---- pure-Scala reference for the embedding near-dup scale path ----
  private def refEmbeddingPairs(vecs: Seq[(Long, Array[Double])], threshold: Double,
                                dim: Int): Set[(Long, Long, Double)] = {
    val planes = graft.operators.Similarity.planes(dim)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0; while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cosine(a: Array[Double], b: Array[Double]): Option[Double] = {
      val den = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
      if (den == 0) None else Some(rd6(dot(a, b) / den))
    }
    def buckets(v: Array[Double]): Set[(Int, Long)] =
      (0 until 8).map { t =>
        var bucket = 0L
        for (r <- 0 until 8) if (dot(v, planes(t * 8 + r)) > 0) bucket |= (1L << r)
        (t, bucket)
      }.toSet
    // collapse on identical vector content; reps band-join; members expand
    val clusters = vecs.groupBy(_._2.toSeq).values.map(_.map(_._1).sorted).toSeq
    val repOf = clusters.flatMap(c => c.map(_ -> c.head)).toMap
    val vecOf = vecs.toMap
    val reps = clusters.map(_.head)
    val repPairs = for {
      ra <- reps; rb <- reps
      if ra < rb && buckets(vecOf(ra)).intersect(buckets(vecOf(rb))).nonEmpty
      sim <- cosine(vecOf(ra), vecOf(rb)) if sim >= threshold
    } yield (ra, rb, sim)
    val cross = for {
      (ra, rb, sim) <- repPairs.toSet[(Long, Long, Double)]
      a <- clusters.find(_.head == ra).get; b <- clusters.find(_.head == rb).get
    } yield (math.min(a, b), math.max(a, b), sim)
    val intra = for {
      c <- clusters.toSet[Seq[Long]] if dot(vecOf(c.head), vecOf(c.head)) > 0
      a <- c; b <- c if a < b
    } yield (a, b, 1.0)
    (cross ++ intra).filter(_._3 >= threshold).map(p => (p._1, p._2, p._3))
  }

  for (seed <- Seq(11, 23, 47)) {
    test(s"seed $seed: collapsed embedding near-dup ≡ pure-Scala raw algorithm") {
      val rng = new scala.util.Random(seed)
      val dim = 16
      val bases = (0 until 8).map(_ => Array.fill(dim)(rng.nextGaussian()))
      var id = 0L
      val rows = scala.collection.mutable.Buffer[(Long, Array[Double])]()
      for (b <- bases; _ <- 0 until (1 + rng.nextInt(3))) { id += 1; rows += ((id, b.clone())) }
      // a planted near-dup of base 0 and a 2-member ZERO-vector cluster
      // (zero norm: cosine undefined -> its intra pair must NOT emit)
      id += 1; rows += ((id, bases(0).map(_ + 1e-4 * rng.nextGaussian())))
      id += 1; rows += ((id, Array.fill(dim)(0.0)))
      id += 1; rows += ((id, Array.fill(dim)(0.0)))
      val expected = refEmbeddingPairs(rows.toSeq, 0.3, dim)
      val got = graft.operators.Similarity
        .lshNearDup(rows.toSeq.toDF("vec_id", "embedding"), 0.3, dim)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected,
        s"embedding pairs diverge: missing=${expected -- got} extra=${got -- expected}")
    }
  }

  for (seed <- Seq(11, 23, 47)) {
    test(s"seed $seed: collapsed minhash pairs ≡ pure-Scala raw algorithm") {
      val d = java.nio.file.Files.createTempDirectory(s"graft_prop$seed").toString
      val rows = mkCorpus(seed)
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(d + "/documents.parquet")
      val expected = refPairs(rows.map(r => (r._1, r._2)), 0.3)
      val got = TextOps.minHashLshPairsPortable(spark, d, 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected,
        s"pairs diverge: missing=${expected -- got} extra=${got -- expected}")

      // clusters: CC over the same pair graph, min-reachable labeling
      val expComponents = refComponents(expected).toSeq.sortBy(_._1)
      val gotComponents = TextOps.nearDupClusters(spark, d, 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
      assert(gotComponents == expComponents,
        s"components diverge: exp=$expComponents got=$gotComponents")
    }

    test(s"seed $seed: min-label CC ≡ pure-Scala union-find on random edge graphs") {
      val rng = new scala.util.Random(seed * 7 + 1)
      // mixed topology: random sparse edges + a long chain (high diameter)
      // + duplicate/reversed edges (must be normalized); self-loops are
      // dropped, as the near-dup caller's pairs satisfy doc_a < doc_b
      val n = 60
      val chain = (0 until 15).map(i => (i.toLong, (i + 1).toLong))
      val random = Seq.fill(50)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val edges = (chain ++ random ++ chain.map(_.swap)).toDF("u", "v")
      val exp = refComponents(
        (chain ++ random).map(e => (math.min(e._1, e._2), math.max(e._1, e._2), 1.0)).toSet)
        .toSeq.sortBy(_._1)
      val got = TextOps.ccMinLabel(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
      assert(got == exp, s"CC diverges: exp=$exp got=$got")
    }

    test(s"seed $seed: collapsed novelty/boilerplate/incremental ≡ pure-Scala references") {
      val d = java.nio.file.Files.createTempDirectory(s"graft_propn$seed").toString
      val rows = mkCorpus(seed)
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(d + "/documents.parquet")
      val sgOf = rows.map(r => r._1 -> shingleSet(r._2)).toMap

      // novelty: first occurrence = smallest doc_id containing the shingle
      val firstDoc = sgOf.toSeq.flatMap { case (id, sgs) => sgs.map(_ -> id) }
        .groupBy(_._1).map { case (sg, xs) => sg -> xs.map(_._2).min }
      val expNov = sgOf.filter(_._2.nonEmpty).map { case (id, sgs) =>
        val novel = sgs.count(firstDoc(_) == id)
        (id, sgs.size.toLong, novel.toLong, rd6(novel.toDouble / sgs.size))
      }.toSet
      val gotNov = TextOps.noveltyProfile(spark, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(gotNov == expNov, s"novelty diverges: missing=${expNov -- gotNov} extra=${gotNov -- expNov}")

      // boilerplate: df > 2 shingles fraction
      val df = sgOf.toSeq.flatMap { case (id, sgs) => sgs.map(_ -> id) }
        .groupBy(_._1).map { case (sg, xs) => sg -> xs.size }
      val expBp = sgOf.filter(_._2.nonEmpty).map { case (id, sgs) =>
        val common = sgs.count(df(_) > 2)
        (id, sgs.size.toLong, common.toLong, rd6(common.toDouble / sgs.size))
      }.toSet
      val gotBp = TextOps.boilerplateProfile(spark, d, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(gotBp == expBp, s"boilerplate diverges: missing=${expBp -- gotBp} extra=${gotBp -- expBp}")

      // incremental dedup of the "web" batch... all rows are source=web in
      // mkCorpus, so retag half the corpus as historical for this check
      val retag = rows.zipWithIndex.map { case (r, i) =>
        (r._1, r._2, r._3, if (i % 2 == 0) "src0" else "hist", r._5)
      }
      val d2 = java.nio.file.Files.createTempDirectory(s"graft_propi$seed").toString
      retag.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(d2 + "/documents.parquet")
      val newDocs = retag.filter(_._4 == "src0")
      val corpus = retag.filter(_._4 != "src0")
      val corpusTexts = corpus.map(_._2).toSet
      val expInc = newDocs.map { r =>
        val best = (for {
          c <- corpus if c._3 == r._3 // lang-bucketed
          sa = shingleSet(r._2); sb = shingleSet(c._2)
          if sa.nonEmpty && sb.nonEmpty && sa.intersect(sb).nonEmpty
        } yield sa.intersect(sb).size.toDouble / sa.union(sb).size) match {
          case Nil => None
          case js => Some(rd6(js.max))
        }
        val status = if (corpusTexts.contains(r._2)) "exact_dup"
          else if (best.exists(_ >= 0.5)) "near_dup" else "novel"
        (r._1, status, best)
      }.toSet
      val gotInc = TextOps.incrementalDedup(spark, d2, "src0", 0.5)
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
      assert(gotInc == expInc, s"incremental diverges: missing=${expInc -- gotInc} extra=${gotInc -- expInc}")
    }

    test(s"seed $seed: collapsed fuzzy matches ≡ pure-Scala blocked Levenshtein") {
      val d = java.nio.file.Files.createTempDirectory(s"graft_propf$seed").toString
      val rows = mkCorpus(seed)
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(d + "/documents.parquet")
      val blocked = rows.map(r => (r._1, r._3, norm(r._2)))
        .filter(_._3.length >= 12).map { case (id, lang, n) => (id, lang, n, n.substring(0, 12)) }
      val expected = (for {
        (ia, la, na, ba) <- blocked; (ib, lb, nb, bb) <- blocked
        if ia < ib && la == lb && ba == bb
        dist = levenshtein(na, nb) if dist <= 8
      } yield (ia, ib, la, dist.toLong)).toSet
      val got = TextOps.fuzzyMatches(
        graft.sources.Tables.documents(spark, d), 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
      assert(got == expected,
        s"fuzzy diverges: missing=${expected -- got} extra=${got -- expected}")
    }
  }
}
