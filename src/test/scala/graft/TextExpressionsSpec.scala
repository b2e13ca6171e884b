package graft

import java.text.Normalizer

import graft.functions.{JaroWinkler, TextFunctions, UnicodeNormalize}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization expression: JDK-reference agreement across all
  * four forms, the ASCII / already-normalized fast paths (no-copy), codegen
  * vs interpreted parity, NULL propagation, SQL registration.
  */
class TextExpressionsSpec extends SparkSpecBase {
  import spark.implicits._

  // Composed, decomposed, multi-mark, compatibility, ASCII, empty.
  private val samples = Seq(
    "café",            // composed é
    "café",           // decomposed e + acute
    "Å",              // A + ring -> Å
    "Å̧",        // cedilla(ccc 202) + ring(ccc 230): ring composes over the cedilla
    "Å̧",        // same marks, other source order: canonical reordering first
    "ﬁnal",            // ﬁ ligature (NFKC folds, NFC keeps)
    "x²",              // superscript 2 (NFKC folds)
    "㎄",               // SQUARE KA (compatibility)
    "plain ascii 123",
    ""
  )

  private val forms = Seq("NFC", "NFD", "NFKC", "NFKD")

  test("all four forms agree with java.text.Normalizer on the sample corpus") {
    val df = samples.toDF("s")
    val out = df.select(col("s"),
        TextFunctions.nfc(col("s")).as("nfc"),
        TextFunctions.nfd(col("s")).as("nfd"),
        TextFunctions.nfkc(col("s")).as("nfkc"),
        TextFunctions.nfkd(col("s")).as("nfkd"))
      .collect()
    out.foreach { r =>
      val s = r.getString(0)
      forms.zipWithIndex.foreach { case (f, i) =>
        val expected = Normalizer.normalize(s, Normalizer.Form.valueOf(f))
        assert(r.getString(i + 1) == expected, s"form $f on ${s.map(_.toInt)}")
      }
    }
  }

  test("multi-mark composition and canonical reordering (UAX #15 core)") {
    val nfc = samples.toDF("s").select(TextFunctions.nfc(col("s"))).as[String].collect()
    // A + cedilla + ring: ring is NOT blocked by the lower-ccc cedilla, so
    // it composes over it -> Å + cedilla. Both source orders converge.
    assert(nfc(3) == "Å̧")
    assert(nfc(4) == "Å̧")
    // NFC keeps compatibility chars; NFKC folds them.
    assert(nfc(5) == "ﬁnal")
    val nfkc = samples.toDF("s").select(TextFunctions.nfkc(col("s"))).as[String].collect()
    assert(nfkc(5) == "final")
    assert(nfkc(6) == "x2")
  }

  test("ASCII and already-normalized inputs return the input buffer (no copy)") {
    val e = UnicodeNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal("x"), "NFC")
    val ascii = UTF8String.fromString("pure ascii, fast path")
    assert(e.normalize(ascii) eq ascii)
    val composed = UTF8String.fromString("café") // already NFC: quick-check path
    assert(e.normalize(composed) eq composed)
    val decomposed = UTF8String.fromString("cafe\u0301")
    assert(e.normalize(decomposed) ne decomposed)
    assert(e.normalize(decomposed).toString == "caf\u00E9")
  }

  test("NULL propagates; idempotence holds") {
    val out = Seq(Option.empty[String]).toDF("s")
      .select(TextFunctions.nfc(col("s"))).collect()
    assert(out(0).isNullAt(0))
    val once = samples.toDF("s").select(TextFunctions.nfkd(col("s")).as("o"))
    val twice = once.select(TextFunctions.nfkd(col("o"))).as[String].collect()
    assert(twice.toSeq == once.as[String].collect().toSeq)
  }

  test("codegen and interpreted paths agree") {
    def run(wholestage: Boolean): Seq[String] = {
      spark.conf.set("spark.sql.codegen.wholeStage", wholestage.toString)
      try samples.toDF("s").select(TextFunctions.nfc(col("s"))).as[String].collect().toSeq
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    assert(run(wholestage = true) == run(wholestage = false))
  }

  test("SQL registration: nfc_normalize / nfkc_normalize callable from SQL") {
    samples.toDF("s").createOrReplaceTempView("norm_samples")
    val out = spark.sql(
      "SELECT nfc_normalize(s) AS c, nfkc_normalize(s) AS k FROM norm_samples")
      .collect()
    out.zip(samples).foreach { case (r, s) =>
      assert(r.getString(0) == Normalizer.normalize(s, Normalizer.Form.NFC))
      assert(r.getString(1) == Normalizer.normalize(s, Normalizer.Form.NFKC))
    }
  }

  test("non-string input is rejected at analysis") {
    val err = intercept[Exception] {
      Seq(1L).toDF("x").select(TextFunctions.nfc(col("x"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("string") ||
      err.getMessage.contains("DATATYPE_MISMATCH"))
  }

  // ---------------------------------------------------------------------------
  // Jaro–Winkler (q174)
  // ---------------------------------------------------------------------------

  /** (a, b, expected) — expected values are DuckDB 1.x
    * `jaro_winkler_similarity` outputs, probed verbatim; the expression must
    * reproduce every one BIT-EXACTLY or the q174 τ cut could diverge.
    */
  private val jwPinned = Seq(
    ("MARTHA", "MARHTA", 0.9611111111111111),       // classic, prefix 3
    ("DIXON", "DICKSONX", 0.8133333333333332),
    ("JELLYFISH", "SMELLYFISH", 0.8962962962962964), // no prefix, no boost
    ("DWAYNE", "DUANE", 0.8400000000000001),
    ("", "", 0.0),                                   // DuckDB: empty -> 0
    ("", "a", 0.0),
    ("a", "a", 1.0),
    ("AL", "AL", 1.0),
    ("xy", "yx", 0.0),                               // window 0: no matches
    ("CRATE", "TRACE", 0.7333333333333334),          // jaro > 0.7 but prefix 0
    ("aaaaaa", "aaaaab", 0.9333333333333333),
    ("prefixmatchlong", "prefixmatchlong2", 0.9874999999999999), // prefix cap 4
    ("abqqqqqqqq", "abzzzzzzzz", 0.4666666666666666), // below 0.7: boost gated
    ("abcdef", "bcadef", 0.9444444444444445),         // odd mismatches: t = 3/2 = 1
    ("acb", "abc", 0.5555555555555555),
    ("café", "cafe", 0.8483333333333334),             // BYTE-level: é is 2 bytes
    ("ééé", "éée", 0.8933333333333334),
    ("ABCDE", "abcde", 0.0),                          // case-sensitive
    ("greenish metallic", "green metallic", 0.9218487394957984)
  )

  test("jaro_winkler reproduces every pinned DuckDB value bit-exactly") {
    jwPinned.foreach { case (a, b, want) =>
      val got = JaroWinkler.similarity(
        a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      assert(got == want, s"jw($a, $b): got $got want $want")
      // symmetry
      val rev = JaroWinkler.similarity(
        b.getBytes("UTF-8"), a.getBytes("UTF-8"))
      assert(rev == want, s"jw($b, $a) asymmetric: $rev vs $want")
    }
  }

  test("jaro_winkler column: codegen == interpreted, NULL propagates") {
    val df = jwPinned.map { case (a, b, _) => (a, b) }.toDF("a", "b")
    def run(wholestage: Boolean): Seq[Double] = {
      spark.conf.set("spark.sql.codegen.wholeStage", wholestage.toString)
      try df.select(TextFunctions.jaroWinkler(col("a"), col("b"))).as[Double].collect().toSeq
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    assert(run(wholestage = true) == run(wholestage = false))
    assert(run(wholestage = true) == jwPinned.map(_._3))
    val n = Seq(("x", null: String)).toDF("a", "b")
      .select(TextFunctions.jaroWinkler(col("a"), col("b"))).collect()
    assert(n.head.isNullAt(0))
  }

  test("jaro_winkler bounds and identity on random byte strings") {
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val a = rnd.alphanumeric.take(rnd.nextInt(12)).mkString
      val b = rnd.alphanumeric.take(rnd.nextInt(12)).mkString
      val s = JaroWinkler.similarity(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      assert(s >= 0.0 && s <= 1.0, s"out of bounds: jw($a, $b) = $s")
      if (a == b && a.nonEmpty)
        assert(s == 1.0)
    }
  }

  test("cdc_bounds == the declarative md5-window filter on random, short, empty and non-ASCII inputs") {
    val rnd = new scala.util.Random(226)
    val cases = Seq("", "a", "12345678", "123456789",
      "the quick brown fox jumps over the lazy dog and keeps running",
      "ünïcödé window bøundärïés shøuld slice by chars not bytes",
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa") ++
      (1 to 40).map(_ => rnd.alphanumeric.take(rnd.nextInt(200)).mkString
        .toLowerCase.replaceAll("[^a-z0-9]", " ")) ++
      (1 to 10).map(_ => (1 to rnd.nextInt(60))
        .map(_ => "aé 9ü".charAt(rnd.nextInt(5))).mkString)
    val df = cases.toDF("norm")
    val L = length(col("norm"))
    val declarative = concat(
      array(lit(1)),
      when(L >= 9,
        filter(sequence(lit(2), L - 7),
          i => md5(col("norm").substr(i, lit(8))).startsWith("0")))
        .otherwise(array().cast("array<int>")))
    val out = df.select(col("norm"),
        TextFunctions.cdcBounds(col("norm")).as("fast"),
        declarative.as("slow"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"bounds diverge on '${r.getString(0)}': ${r.getSeq[Int](1)} vs ${r.getSeq[Int](2)}")
    }
    // NULL propagates
    val n = Seq[Option[String]](None).toDF("norm")
      .select(TextFunctions.cdcBounds(col("norm"))).collect()
    assert(n.head.isNullAt(0))
  }

  // ---------------------------------------------------------------------------
  // IdnAscii (q231)
  // ---------------------------------------------------------------------------

  test("idn_ascii: known punycode pairs, ASCII pass-through, codegen == interpreted, NULL propagates") {
    // reference pairs verified against java.net.IDN (RFC 3490 ToASCII)
    val pairs = Seq(
      "münchen.de" -> "xn--mnchen-3ya.de",
      "news.src0.рф" -> "news.src0.xn--p1ai",
      "www.пример.рф" -> "www.xn--e1afmkfd.xn--p1ai",
      "city.kawasaki.jp" -> "city.kawasaki.jp", // ASCII: identity, no rewrite
      "example.com" -> "example.com",
      "" -> "")
    def run(wholestage: Boolean): Seq[String] = {
      spark.conf.set("spark.sql.codegen.wholeStage", wholestage.toString)
      try pairs.map(_._1).toDF("h")
        .select(TextFunctions.idnAscii(col("h"))).as[String].collect().toSeq
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    assert(run(wholestage = true) == pairs.map(_._2))
    assert(run(wholestage = true) == run(wholestage = false))
    // driver-side helper (PSL rule normalization) agrees with the runtime
    pairs.foreach { case (in, out) =>
      assert(graft.functions.IdnAscii.convert(in) == out)
    }
    val n = Seq[Option[String]](None).toDF("h")
      .select(TextFunctions.idnAscii(col("h"))).collect()
    assert(n.head.isNullAt(0))
  }
}
