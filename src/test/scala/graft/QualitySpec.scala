package graft

import graft.operators.{MarketView, Quality}
import graft.operators.Quality.CheckResult
import org.apache.spark.sql.functions._

class QualitySpec extends SparkSpecBase {
  import spark.implicits._

  // no .cache(): the cached plan would be picked up by PlanSpec's identical
  // dailyBars query and change its exchange count
  private lazy val bars = MarketView.dailyBars(spark, sf)

  test("checkAll: one scan, per-check violation counts") {
    val results = Quality.checkAll(bars, Seq(
      "close_not_null" -> col("close").isNotNull,
      "volume_positive" -> (col("volume") > 0),
      "low_le_high" -> (col("low") <= col("high")),
      "never_true" -> (col("close") < -1)))
    val byName = results.map(r => r.check -> r).toMap
    assert(byName("close_not_null").passed)
    assert(byName("volume_positive").passed)
    assert(byName("low_le_high").passed)
    assert(!byName("never_true").passed)
    assert(byName("never_true").observed == bars.count())
  }

  test("null predicate counts as violation (coalesce guard)") {
    val df = Seq(Some(1.0), None).toDF("x")
    val r = Quality.checkAll(df, Seq("x_pos" -> (col("x") > 0)))
    assert(!r.head.passed && r.head.observed == 1L) // NULL > 0 is not TRUE
  }

  test("referential integrity fact->dim") {
    val fact = MarketView.fact(spark, sf)
    val dim = graft.operators.Analytics.dimInstrument(bars)
      .withColumnRenamed("ticker", "symbol_dim")
    assert(Quality.referentialIntegrity(fact, "symbol", dim, "symbol_dim").passed)
    val partialDim = dim.limit(2)
    assert(!Quality.referentialIntegrity(fact, "symbol", partialDim, "symbol_dim").passed)
  }

  test("quarantineProfile: every ingest surface counts its corrupt tail exactly") {
    val rows = Quality.quarantineProfile(spark)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(("csv", 5L, 2L), ("jsonl", 4L, 3L), ("video", 2L, 2L)), s"got $rows")
  }

  test("enforce raises listing every failed check") {
    val e = intercept[IllegalArgumentException] {
      Quality.enforce(Seq(
        CheckResult("ok", passed = true, 0),
        CheckResult("bad1", passed = false, 3),
        CheckResult("bad2", passed = false, 7)))
    }
    assert(e.getMessage.contains("bad1") && e.getMessage.contains("bad2"))
  }

  test("lDiversity matches a brute-force group census") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .selectExpr("lang", "n_chars div 100 AS lb", "source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val out = Quality.lDiversity(graft.sources.Tables.documents(spark, sf))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(7)))).toMap
    docs.groupBy(_._1).foreach { case (lang, rows) =>
      val groups = rows.groupBy(t => (t._1, t._2)).values.toSeq
      val ls = groups.map(_.map(_._3).distinct.size)
      val ks = groups.map(_.size)
      val ents = groups.map { g =>
        val k = g.size.toDouble
        -g.groupBy(_._3).values.map { s =>
          val p = s.size / k
          p * (math.rint(math.log(p) * 1e6) / 1e6)
        }.sum
      }
      val (nG, minL, below3, rowsBelow3, nRows, minEnt) = out(lang)
      assert(nG == groups.size, s"$lang groups")
      assert(minL == ls.min, s"$lang min_l")
      assert(below3 == ls.count(_ < 3), s"$lang below3")
      assert(rowsBelow3 == ks.zip(ls).filter(_._2 < 3).map(_._1).sum, lang)
      assert(nRows == rows.size, s"$lang rows")
      assert(math.abs(minEnt - ents.min) < 2e-6, s"$lang entropy")
      assert(minEnt >= 0.0)
    }
  }
}
