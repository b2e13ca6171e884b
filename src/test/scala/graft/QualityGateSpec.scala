package graft

import java.sql.Date

import graft.functions.Fx.dateStr
import graft.operators.{Analytics, MarketView, Quality}
import graft.pipeline.Pipeline
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlShim

/** The quality gate counts repeated (symbol, date) keys with a LAG flag over
  * the fact's window. These properties hold it to the distinct-key count it
  * replaced, on bars with planted repeats and nulls.
  */
class QualityGateSpec extends SparkSpecBase {
  import spark.implicits._

  /** The gate as a distinct count of the rendered keys, plus the checks. */
  private def reference(bars: DataFrame, checks: (String, org.apache.spark.sql.Column)*): DataFrame = {
    val nKeys = countDistinct(concat_ws("|", col("symbol"), dateStr(col("date"))))
    bars.agg(count(lit(1)).as("total_rows"),
        Seq(Quality.violations(Quality.criticalNotNull).as("null_criticals"), nKeys.as("n_keys")) ++
          checks.map { case (n, p) => Quality.violations(p).as(n) }: _*)
      .select(Seq(col("total_rows"), col("null_criticals"),
        when(col("null_criticals") === 0 && col("n_keys") === col("total_rows"), 1L)
          .otherwise(0L).as("passed")) ++ checks.map { case (n, _) => col(n) }: _*)
  }

  /** Staging-shaped bars from `seed`: `n` rows over 6 symbols and 30 days,
    * with `dups` repeated keys and, per row, probability `pNull` of a null
    * symbol, date or close, and 5% of low > high. */
  private def bars(seed: Long, n: Int, dups: Int, pNull: Double): DataFrame = {
    val r = new scala.util.Random(seed)
    def maybe[A](a: A): Option[A] = if (r.nextDouble() < pNull) None else Some(a)
    val keys = r.shuffle(for (s <- 0 until 6; d <- 1 to 30) yield (s"S$s", d)).take(n)
    val planted = Seq.fill(dups)(keys(r.nextInt(keys.size)))
    (keys ++ planted).map { case (sym, day) =>
      val close = 10.0 + r.nextDouble() * 5
      val (low, high) = if (r.nextDouble() < 0.05) (close + 1, close - 1) else (close - 1, close + 1)
      (maybe(Date.valueOf(f"2024-01-$day%02d")), maybe(sym), close - 0.5, high, low,
        maybe(close), r.nextInt(1000).toLong)
    }.toDF("date", "symbol", "open", "high", "low", "close", "volume")
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("the pinned gate equals the distinct-key gate on bars with planted repeats and nulls") {
    val cases = for (seed <- 1L to 12L) yield {
      val b = bars(seed, n = 40 + seed.toInt * 7,
        dups = if (seed % 3 == 0) 0 else seed.toInt % 4 + 1,
        pNull = if (seed % 4 == 0) 0.0 else 0.03)
      val (pin, gate) = Pipeline.pinnedFact(b)
      val got = try gate() finally SqlShim.releaseLocalCheckpoint(pin)
      val want = rows(reference(b, "ohlc_bounds" -> Quality.ohlcBounds)).head
      assert(got == want, s"seed $seed")
      assert(rows(Analytics.qualityGate(b)) == rows(reference(b)), s"seed $seed: qualityGate")
      want.getLong(2)
    }
    // both outcomes are exercised
    assert(cases.toSet == Set(0L, 1L), cases)
  }

  test("null symbols keep their own keys; a null date or close fails the gate") {
    val d = Date.valueOf("2024-01-02")
    val base = Seq[(Option[Date], Option[String], Option[Double])](
      (Some(d), None, Some(1.0)), (Some(d), Some("A"), Some(1.0)),
      (Some(Date.valueOf("2024-01-03")), None, Some(1.0)))
    for (extra <- Seq(Nil, Seq((Some(d), None, Some(2.0))), Seq((None, Some("A"), Some(1.0))),
                      Seq((Some(d), Some("B"), None)))) {
      val b = (base ++ extra).toDF("date", "symbol", "close")
      assert(rows(Analytics.qualityGate(b)) == rows(reference(b)), extra)
    }
  }

  test("q10 returns the rows of the distinct-key gate over the daily bars") {
    val q10 = SparkEntry.queries("q10_quality_gate")(spark, sf)
    assert(q10.columns.toSeq == Seq("total_rows", "null_criticals", "passed"))
    assert(rows(q10) == rows(reference(MarketView.dailyBars(spark, sf))))
  }
}
