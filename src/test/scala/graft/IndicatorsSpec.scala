package graft

import graft.operators.Indicators

/** Truncated EWMA/MACD: exactness of the weight/normalizer construction and
  * agreement with a sequential per-series reference.
  */
class IndicatorsSpec extends SparkSpecBase {

  test("weights and norms are exactly-representable doubles") {
    // 0.75^j = 3^j / 4^j: reconstruct through BigDecimal and require
    // EXACT equality — these are the literals the oracle embeds
    // new java.math.BigDecimal(d) is the EXACT binary expansion (Scala's
    // BigDecimal(d) would round-trip the shortest string instead)
    def exact(d: Double) = BigDecimal(new java.math.BigDecimal(d))
    val w = Indicators.weights(0.75, Indicators.SlowWindow)
    w.zipWithIndex.foreach { case (d, j) =>
      assert(exact(d) == BigDecimal("0.75").pow(j), s"j=$j")
    }
    val n = Indicators.norms(0.75, Indicators.SlowWindow)
    val expect = w.scanLeft(BigDecimal(0))(_ + exact(_)).tail
    n.zip(expect).foreach { case (d, e) => assert(exact(d) == e) }
  }

  test("emaMacd agrees with a sequential per-series reference") {
    import graft.operators.MarketView
    val bars = MarketView.dailyBars(spark, sf)
      .select("symbol", "date", "close").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
      .groupBy(_._1).map { case (s, rows) => s -> rows.sortBy(_._2) }

    def ref(closes: Seq[Double], decay: Double, window: Int): Seq[Double] =
      closes.indices.map { t =>
        val frame = closes.slice(math.max(0, t - window + 1), t + 1)
        val m = frame.size
        val terms = frame.zipWithIndex.map { case (x, i) =>
          BigDecimal(math.round(x * math.pow(decay, m - 1 - i) * 1e9) / 1e9)
        }
        val norm = Indicators.norms(decay, window)(m - 1)
        (terms.sum / BigDecimal(norm)).toDouble
      }

    val got = Indicators.emaMacd(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    bars.foreach { case (sym, rows) =>
      val closes = rows.map(_._3).toSeq
      val fast = ref(closes, Indicators.FastDecay, Indicators.FastWindow)
      val slow = ref(closes, Indicators.SlowDecay, Indicators.SlowWindow)
      rows.zipWithIndex.foreach { case ((_, d, _), t) =>
        val (gf, gs) = got((sym, d))
        assert(math.abs(gf - fast(t)) < 5e-7, s"$sym $d fast")
        assert(math.abs(gs - slow(t)) < 5e-7, s"$sym $d slow")
      }
    }
  }

  /** DuckDB's `round(x, 6)` on a DOUBLE, the q165 oracle's rounding: the
    * double product x * 1e6 rounded half away from zero, as C's std::round
    * does, then divided by 1e6. */
  private def duckRound6(x: Double): Double =
    new java.math.BigDecimal(x * 1e6).setScale(0, java.math.RoundingMode.HALF_UP)
      .doubleValue / 1e6 + 0.0

  test("q165's rounding matches DuckDB's round(x, 6) on ties the decimal forms hide") {
    import graft.streaming.StreamingOps.rd6
    // the sf0.1 tie: prints as 32.6558995, lies below it; DuckDB gives 32.655899
    val tie = 0.125 * 23.73 + 0.875 * 33.931028
    // DuckDB 1.0 `select round(x::DOUBLE, 6) + 0` for each input (the
    // oracle's `+ 0` turns a -0.0 into 0.0)
    val duck = Seq(tie -> 32.655899, 2.0008005 -> 2.000801, 33.0008005 -> 33.0008,
      -2.0008005 -> -2.000801, 23.73 -> 23.73, -0.0000004 -> 0.0)
    for ((x, want) <- duck) {
      assert(rd6(x) == want, s"rd6($x)")
      assert(duckRound6(x) == want, s"duckRound6($x)")
    }
    // the two rules it replaces each miss one of them
    assert(java.math.BigDecimal.valueOf(tie).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue == 32.6559)
    assert(new java.math.BigDecimal(2.0008005).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue == 2.0008)
  }

  test("streaming recursive EMA (q165) equals the sequential quantized fold") {
    import graft.operators.MarketView
    val bars = MarketView.dailyBars(spark, sf)
      .select("symbol", "date", "close").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
      .groupBy(_._1)
    val expected = bars.toSeq.flatMap { case (sym, rows) =>
      var prev = Double.NaN
      rows.sortBy(_._2).map { case (_, d, x) =>
        val e = if (prev.isNaN) duckRound6(x) else duckRound6(0.125 * x + 0.875 * prev)
        prev = e
        (sym, d) -> e
      }
    }.toMap
    val got = graft.streaming.StreamingOps.streamEmaParity(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got.size == expected.size)
    expected.foreach { case (k, e) =>
      assert(got(k) == e, s"$k: ${got(k)} != $e") // EXACT equality — the contract
    }
  }

  test("macd is the difference of the published (rounded) EMAs") {
    Indicators.emaMacd(spark, sf).collect().foreach { r =>
      val macd = BigDecimal(r.getDouble(2)) - BigDecimal(r.getDouble(3))
      assert(math.abs(macd.toDouble - r.getDouble(4)) < 1e-9, r.toString)
    }
  }

  test("acf agrees with a sequential per-series reference and is bounded") {
    import graft.operators.MarketView
    val fact = MarketView.fact(spark, sf)
    val series = fact.filter("variacao_diaria IS NOT NULL")
      .select("symbol", "date", "variacao_diaria").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
      .groupBy(_._1).map { case (s, rows) => s -> rows.sortBy(_._2).map(_._3).toSeq }

    def rd6(x: Double) = math.round(x * 1e6) / 1e6.toDouble
    def ref(xs: Seq[Double], k: Int): Option[Double] = {
      val mu = rd6((xs.map(x => BigDecimal(math.round(x * 1e9)) / 1e9).sum / xs.size).toDouble)
      val d = xs.map(x => rd6(x - mu))
      val den = d.map(v => BigDecimal(math.round(v * v * 1e9)) / 1e9).sum
      val num = d.drop(k).zip(d.dropRight(k))
        .map { case (a, b) => BigDecimal(math.round(a * b * 1e9)) / 1e9 }.sum
      if (den == 0) None else Some(rd6((num / den).toDouble))
    }

    val got = Indicators.acf(fact, 5).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (Option(r.get(2)).map(_.asInstanceOf[Double]), r.getLong(3)))
      .toMap
    series.foreach { case (sym, xs) =>
      (1 to 5).foreach { k =>
        val (gv, n) = got((sym, k.toLong))
        assert(n == math.max(0, xs.size - k), s"$sym lag $k n_terms")
        val e = ref(xs, k)
        assert(gv.map(rd6) == e.map(rd6), s"$sym lag $k: $gv != $e")
        gv.foreach(v => assert(v >= -1.0 - 1e-6 && v <= 1.0 + 1e-6, s"$sym lag $k out of [-1,1]"))
      }
    }
  }

  test("anchored vwap is volume-weighted and resets at month starts") {
    import graft.operators.MarketView
    val rows = Indicators.anchoredVwap(MarketView.dailyBars(spark, sf)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.groupBy(t => (t._1, t._3)).foreach { case ((_, _), g) =>
      val sorted = g.sortBy(_._2)
      // first row of each anchor: vwap == typical price
      assert(math.abs(sorted.head._5 - sorted.head._4) < 1e-6, sorted.head.toString)
      // cum_volume strictly non-decreasing within the anchor
      sorted.map(_._6).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(b >= a); case _ => ()
      }
      // running vwap stays within the [min, max] typical-price envelope
      val tps = sorted.map(_._4)
      sorted.foreach { r =>
        assert(r._5 >= tps.min - 1e-6 && r._5 <= tps.max + 1e-6, r.toString)
      }
    }
  }

  test("holtBacktest matches an exact sequential BigDecimal recursion") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val bars = graft.operators.MarketView.dailyBars(spark, sf)
    val rows = bars.selectExpr("symbol", "date", "close").collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getDouble(2)))
    val got = graft.operators.Indicators.holtBacktest(bars).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(7)))).toMap
    def r6(v: JBD) = v.setScale(6, RoundingMode.HALF_UP)
    val half = new JBD("0.5"); val quarter = new JBD("0.25"); val threeQ = new JBD("0.75")
    rows.groupBy(_._1).foreach { case (sym, rs) =>
      val xs = rs.sortBy(_._2.toEpochDay)
        .map(t => r6(JBD.valueOf(t._3))) // round(close, 6), shortest repr
      val train = xs.dropRight(7)
      var l = train.head; var b = new JBD("0.000000")
      train.tail.foreach { x =>
        val lNew = r6(half.multiply(x).add(half.multiply(l.add(b))))
        b = r6(quarter.multiply(lNew.subtract(l)).add(threeQ.multiply(b)))
        l = lNew
      }
      val (nTrain, level, trend, _) = got(sym)
      assert(nTrain == train.size, sym)
      assert(math.abs(level - l.doubleValue) < 1e-9, s"$sym level $level != $l")
      assert(math.abs(trend - b.doubleValue) < 1e-9, s"$sym trend $trend != $b")
    }
    // the verdict bit is an exact decimal comparison — both outcomes occur
    // or not, but it must be 0/1
    got.values.foreach { case (_, _, _, wins) => assert(wins == 0L || wins == 1L) }
  }

  test("winStreaks matches a sequential run scan per symbol") {
    val fact = graft.operators.MarketView.fact(spark, sf)
    val rows = fact.selectExpr("symbol", "date",
        "CASE WHEN variacao_diaria > 0 THEN 1 ELSE 0 END AS up")
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getInt(2)))
    val got = graft.operators.Indicators.winStreaks(fact).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))))
      .toMap
    rows.groupBy(_._1).foreach { case (sym, rs) =>
      val seq = rs.sortBy(_._2.toEpochDay)
      // sequential scan: split into maximal runs of up==1
      var runs = List.empty[(java.time.LocalDate, java.time.LocalDate, Int)]
      var cur: Option[(java.time.LocalDate, java.time.LocalDate, Int)] = None
      seq.foreach { case (_, d, up) =>
        if (up == 1) cur = cur match {
          case Some((s0, _, n)) => Some((s0, d, n + 1))
          case None => Some((d, d, 1))
        } else { cur.foreach(c => runs ::= c); cur = None }
      }
      cur.foreach(c => runs ::= c)
      val (nRuns, upDays, bestLen, bestStart, bestEnd) = got(sym)
      assert(nRuns == runs.size, s"$sym runs")
      assert(upDays == runs.map(_._3).sum, s"$sym up-days")
      val best = runs.sortBy(r => (-r._3, r._1.toEpochDay)).head
      assert(bestLen == best._3, s"$sym best len")
      assert(bestStart == best._1.toString && bestEnd == best._2.toString, sym)
    }
  }
}
