package graft

import graft.operators.TextOps
import graft.sources.Tables
import org.apache.spark.sql.functions._

class DsirSpec extends SparkSpecBase {
  import spark.implicits._

  // two disjoint vocabularies: the target domain speaks "alpha", the
  // off-domain docs speak "omega" — importance weights must separate them
  private def doc(id: Long, lang: String, words: String) =
    (id, words, lang, s"src${id % 3}", words.length.toLong)

  private lazy val corpus = Seq(
    doc(0, "en", "alpha beta gamma alpha beta"),
    doc(1, "en", "alpha alpha beta gamma delta"),
    doc(2, "de", "omega psi chi omega psi"),
    doc(3, "de", "omega omega chi psi phi"),
    // a raw doc in neither language whose TEXT is target-like: DSIR should
    // rank it above the off-domain docs — that is the whole point
    doc(4, "fr", "alpha beta alpha gamma beta"),
    doc(5, "fr", "omega psi omega chi psi"),
    // zero tokens after [a-z0-9] normalization → excluded by construction
    doc(6, "zh", "中文 文本 没有 拉丁 字符")
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("target-vocabulary docs outrank off-domain docs; zero-token docs are excluded") {
    val out = TextOps.dsirResampleFrom(corpus, "en", buckets = 64, n = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    // doc 6 has no features
    assert(!out.map(_._2).contains(6L))
    assert(out.length == 6)
    val byDoc = out.map(t => t._2 -> t._3).toMap
    // the French doc written in target vocabulary scores like the target docs
    assert(byDoc(4L) > byDoc(2L) && byDoc(4L) > byDoc(3L) && byDoc(4L) > byDoc(5L))
    // every target-vocab doc outranks every off-domain doc
    val topIds = out.sortBy(_._1).take(3).map(_._2).toSet
    assert(topIds == Set(0L, 1L, 4L))
  }

  test("ranks are contiguous from 1 and ordered by weight desc then doc_id") {
    val out = TextOps.dsirResampleFrom(corpus, "en", 64, 10).collect()
    assert(out.map(_.getLong(0)).toSeq == (1L to out.length))
    val ws = out.map(_.getDouble(4)).toSeq
    assert(ws == ws.sorted(Ordering[Double].reverse))
  }

  test("result is invariant to input partitioning (the determinism contract)") {
    val a = TextOps.dsirResampleFrom(corpus.repartition(7), "en", 64, 10)
      .collect().map(_.toSeq).toSeq
    val b = TextOps.dsirResampleFrom(corpus.coalesce(1), "en", 64, 10)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("n caps the selection on real testdata and metadata joins back intact") {
    val out = TextOps.dsirResampleFrom(Tables.documents(spark, "/root/testdata/sf0.001"), "en", 256, 10)
      .collect()
    assert(out.length == 10)
    out.foreach { r =>
      assert(r.getString(2).nonEmpty && r.getString(3).nonEmpty)
    }
  }
}
