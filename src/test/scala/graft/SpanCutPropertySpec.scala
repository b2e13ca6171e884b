package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** Randomized first-principles pins for the round-12 cleaners: seeded
  * corpora are generated with engineered duplication and every output row
  * is compared against an independent PURE-SCALA reference (no Spark, no
  * DuckDB) that runs the raw definition — duplicated-shingle discovery,
  * covered-position expansion, kept-text reassembly, and the eTLD+1 label
  * rule. The DuckDB oracles pin the real testdata; this suite pins the
  * edge cases random fixtures surface (all-duplicated docs, shingle-less
  * shorts, overlap-merged spans, cut-created adjacencies).
  */
class SpanCutPropertySpec extends SparkSpecBase {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def toks(s: String): IndexedSeq[String] =
    s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      .split(" ").toIndexedSeq.filter(_.nonEmpty)

  /** Pure-Scala reference: per doc (n_tokens, n_removed, n_kept, digest). */
  private def referenceSpanCut(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long, String)] = {
    val tokenized = docs.map { case (id, t) => id -> toks(t) }.toMap
    val perDocShingles = tokenized.view.mapValues { t =>
      if (t.size < 3) IndexedSeq.empty[(Int, String)]
      else (0 to t.size - 3).map(i => i -> s"${t(i)} ${t(i + 1)} ${t(i + 2)}")
    }.toMap
    val df = perDocShingles.toSeq
      .flatMap { case (id, sh) => sh.map(_._2).distinct.map(sg => (sg, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    docs.map { case (id, _) =>
      val t = tokenized(id)
      val covered = perDocShingles(id)
        .filter { case (_, sg) => df(sg) > 1 }
        .flatMap { case (p, _) => p to (p + 2) }.toSet
      val kept = t.indices.filterNot(covered).map(t)
      id -> (t.size.toLong, covered.size.toLong, kept.size.toLong,
        md5hex(kept.mkString(" ")))
    }.toMap
  }

  test("spanCutClean equals the pure-Scala reference on seeded dup-engineered corpora") {
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    for (seed <- Seq(7, 41, 103)) {
      val rnd = new scala.util.Random(seed)
      def sentence(n: Int): String =
        Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
      // engineered duplication: a template passage pasted into ~half the
      // docs at random offsets, plus pure-random docs (incl. shingle-less
      // shorts of 0-2 tokens)
      val template = sentence(6)
      val docs: Seq[(Long, String)] = (0L until 40L).map { id =>
        val body =
          if (id % 7 == 6) sentence(rnd.nextInt(3)) // shingle-less
          else if (rnd.nextBoolean()) s"${sentence(rnd.nextInt(5))} $template ${sentence(rnd.nextInt(5))}"
          else sentence(4 + rnd.nextInt(10))
        (id, body.trim)
      }.filter(_._2.nonEmpty)
      val expect = referenceSpanCut(docs)
      val df = docs.toDF("doc_id", "text")
      val got = TextOps.spanCutCleanAgainst(df, TextOps.dupShinglesFrom(df)).orderBy("doc_id")
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toMap
      assert(got.keySet == expect.keySet, s"seed $seed: doc set mismatch")
      got.foreach { case (id, g) =>
        assert(g == expect(id), s"seed $seed doc $id: engine $g != reference ${expect(id)}")
      }
      // and the structural invariant the cleaner guarantees by construction
      got.foreach { case (id, (n, rm, kp, _)) =>
        assert(rm + kp == n, s"seed $seed doc $id: removed+kept != n_tokens")
      }
    }
  }

  /** Pure-Scala eTLD+1 reference mirroring TextOps.registrableDomain. */
  private def refDomain(url: String): String = {
    val host = "^[a-z][a-z0-9+.-]*://([^/:?#]+)".r.findFirstMatchIn(url)
      .map(_.group(1)).getOrElse("")
    val labels = host.split("\\.", -1).toIndexedSeq
    val n = labels.size
    val suffix2 = if (n >= 2) s"${labels(n - 2)}.${labels(n - 1)}" else ""
    val keep =
      if (n >= 3 && TextOps.MultiPartSuffixes.contains(suffix2)) 3
      else math.min(n, 2)
    labels.takeRight(keep).mkString(".")
  }

  test("spanCutCleanRunsAgainst: incidental shared trigrams kept, long duplicated runs cut; minRun<=3 degenerates to q214") {
    // planted fixture: both docs share a SHORT trigram (3 covered
    // positions — an incidental island below the threshold) and a LONG
    // 7-token passage (island of 7 >= 6 — a genuine duplicated run);
    // fillers are unique per doc so nothing else is covered
    val short = "small shared thing"
    val long = "big copied passage of seven exact tokens"
    val docs = Seq(
      (1L, s"u1 u2 u3 $short u4 u5 u6 $long u7 u8 u9"),
      (2L, s"w1 w2 w3 $short w4 w5 w6 $long w7 w8 w9")).toDF("doc_id", "text")
    val dup = TextOps.dupShinglesFrom(docs).localCheckpoint(true)
    val got = TextOps.spanCutCleanRunsAgainst(docs, dup, 6)
      .select("doc_id", "n_tokens", "n_removed", "n_kept")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == Set(1L, 2L))
    got.foreach { case (id, (nt, nr)) =>
      assert(nt == 19L, s"doc $id token count $nt")
      assert(nr == 7L, s"doc $id: min-run cut must remove exactly the long run, removed $nr")
    }
    // the kept text retains the short shared trigram
    val keptTexts = TextOps.spanCutCleanRunsAgainst(docs, dup, 6)
    val refKept = "u1 u2 u3 small shared thing u4 u5 u6 u7 u8 u9"
    val refDigest = md5hex(refKept)
    val d1 = keptTexts.filter(col("doc_id") === 1L)
      .select("kept_digest").as[String].head()
    assert(d1 == refDigest, "short shared trigram was cut by the min-run cleaner")
    // q214 cuts BOTH islands (10 positions)
    val q214 = TextOps.spanCutCleanAgainst(docs, dup)
      .select("doc_id", "n_removed").as[(Long, Long)].collect().toMap
    assert(q214.values.forall(_ == 10L), s"q214 baseline drifted: $q214")
    // minRun <= 3 degenerates to exactly the q214 contract (every island
    // is >= 3 positions by construction) — checked on a seeded random
    // corpus with engineered duplication, not just the fixture
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(59)
    def sentence(n: Int): String =
      Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val template = sentence(6)
    val rdocs = (0L until 40L).map { id =>
      val body =
        if (id % 7 == 6) sentence(rnd.nextInt(3))
        else if (id % 2 == 0) s"${sentence(rnd.nextInt(5))} $template ${sentence(rnd.nextInt(5))}"
        else sentence(6 + rnd.nextInt(8))
      (id, body)
    }.toDF("doc_id", "text")
    val rdup = TextOps.dupShinglesFrom(rdocs).localCheckpoint(true)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tokens", "n_removed", "n_kept", "kept_digest")
        .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(snap(TextOps.spanCutCleanRunsAgainst(rdocs, rdup, 3)) ==
      snap(TextOps.spanCutCleanAgainst(rdocs, rdup)),
      "minRun=3 diverged from the q214 cleaner on a random corpus")
  }

  test("registrableDomain equals the pure-Scala rule on randomized URLs over every suffix class") {
    val rnd = new scala.util.Random(23)
    val subs = Vector("", "www.", "news.", "a.b.", "x.y.z.")
    val sites = Vector("bbc", "example", "shop-4", "data2")
    val sufs = Vector("com", "org", "io", "co.uk", "com.au", "gov.uk", "co.jp", "net.au")
    val paths = Vector("", "/", "/a/b?q=1", ":8443/x", "/#frag")
    val urls = (1 to 200).map { _ =>
      s"https://${subs(rnd.nextInt(subs.size))}${sites(rnd.nextInt(sites.size))}." +
        s"${sufs(rnd.nextInt(sufs.size))}${paths(rnd.nextInt(paths.size))}"
    }
    val got = urls.toDF("url")
      .select(TextOps.registrableDomain(col("url"))).as[String].collect().toSeq
    urls.zip(got).foreach { case (u, g) =>
      assert(g == refDomain(u), s"url $u: engine $g != reference ${refDomain(u)}")
      // the registrable domain is always a dot-suffix of the host
      val host = u.stripPrefix("https://").takeWhile(c => c != '/' && c != ':' && c != '#')
      assert(host == g || host.endsWith("." + g), s"url $u: $g is not a suffix of $host")
    }
  }
}
