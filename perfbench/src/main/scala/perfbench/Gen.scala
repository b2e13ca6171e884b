package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.time.LocalDate

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed always gives the same bytes. */
object Gen {

  /** Daily OHLCV rows in the staging CSV layout (`Tables.stagingSchema`):
    * `tickers` symbols (T00, T01, …) × `days` consecutive calendar days from 1950-01-02,
    * one row per (symbol, date). Each close follows a geometric random walk
    * with daily σ ≈ 2.3% and a weak pull (0.1% a day) back to the ticker's
    * starting level, so prices stay in a range four decimals can resolve over
    * decades. Prices are whole ten-thousandths and every row satisfies
    * low ≤ open, close ≤ high.
    */
  def marketCsv(path: Path, seed: Long, tickers: Int, days: Int): Unit = {
    val rnd = new java.util.Random(seed)
    // fixed names: the symbol's hash places its rows in shuffle partitions,
    // so seeded names would change the partition balance from seed to seed
    val syms = Array.tabulate(tickers)(t => f"T$t%02d")
    val sigma = Array.fill(tickers)(0.023 * (0.9 + 0.2 * rnd.nextDouble()))
    val level = Array.fill(tickers)(math.log(20.0 + 180.0 * rnd.nextDouble()))
    val logP = level.clone()
    val baseVolume = Array.fill(tickers)(1e5 + 9e5 * rnd.nextDouble())
    val prevClose = Array.tabulate(tickers)(t => math.round(math.exp(logP(t)) * 1e4))
    val start = LocalDate.of(1950, 1, 2)
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path.toFile), StandardCharsets.US_ASCII), 1 << 20)
    val sb = new java.lang.StringBuilder(128)
    def price(v: Long): Unit = {
      sb.append(v / 10000).append('.')
      val f = (v % 10000).toInt
      if (f < 1000) sb.append('0')
      if (f < 100) sb.append('0')
      if (f < 10) sb.append('0')
      sb.append(f)
    }
    try {
      out.write("date,symbol,open,high,low,close,volume\n")
      var d = 0
      while (d < days) {
        val date = start.plusDays(d).toString
        var t = 0
        while (t < tickers) {
          logP(t) += 0.001 * (level(t) - logP(t)) + sigma(t) * rnd.nextGaussian()
          val open = prevClose(t)
          val close = math.max(1L, math.round(math.exp(logP(t)) * 1e4))
          val high = math.max(open, close) +
            math.round(math.abs(rnd.nextGaussian()) * 0.004 * close)
          val low = math.max(1L, math.min(open, close) -
            math.round(math.abs(rnd.nextGaussian()) * 0.004 * close))
          val volume = math.round(baseVolume(t) * math.exp(0.3 * rnd.nextGaussian()))
          prevClose(t) = close
          sb.setLength(0)
          sb.append(date).append(',').append(syms(t)).append(',')
          price(open); sb.append(','); price(high); sb.append(',')
          price(low); sb.append(','); price(close); sb.append(',')
          sb.append(volume).append('\n')
          out.append(sb)
          t += 1
        }
        d += 1
      }
    } finally out.close()
  }

  // Word list of the sf0.1 documents table (synthetic word salad) plus the
  // stopwords the quality score counts.
  private val Vocab = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "value",
    "vector", "window", "the", "and", "of", "to", "in", "is")
  private val Langs = Array("en", "en", "en", "en", "zh", "zh", "de", "de", "fr", "fr", "es", "es")

  /** A documents table shaped like sf0.1 `documents` (doc_id, text, lang,
    * source, n_chars; 5 to 80 words; 20 sources), written as one parquet file
    * at `dir/documents.parquet`. Some texts carry an email address or a phone
    * number for the redaction step. On top of `nBase` original documents it
    * plants exact copies (same text, lang and source) of `exactRate` of them
    * and near copies (one word appended) of `nearRate` of them. Copies get
    * doc ids above every original, so an exact dedup that keeps the lowest id
    * among equal texts removes every planted exact copy. Row order is
    * shuffled so copies do not sit together in the file. Returns the doc ids
    * of the exact copies.
    */
  def corpus(spark: SparkSession, dir: String, seed: Long, nBase: Int,
             exactRate: Double, nearRate: Double): Seq[Long] = {
    val rnd = new java.util.Random(seed)
    def word(): String = Vocab(rnd.nextInt(Vocab.length))
    val base = Array.tabulate(nBase) { i =>
      val n = 5 + rnd.nextInt(76)
      val words = Array.fill(n)(word())
      val pii = rnd.nextInt(100)
      if (pii < 4) words(rnd.nextInt(n)) = s"user${rnd.nextInt(1000)}@example.org"
      else if (pii < 7) words(rnd.nextInt(n)) =
        f"+1 555-${rnd.nextInt(1000)}%03d-${rnd.nextInt(10000)}%04d"
      (i.toLong, words.mkString(" "), Langs(rnd.nextInt(Langs.length)), s"src${rnd.nextInt(20)}")
    }
    val order = shuffled(rnd, nBase)
    val nExact = (nBase * exactRate).toInt
    val nNear = (nBase * nearRate).toInt
    val exact = order.take(nExact).zipWithIndex.map { case (src, k) =>
      val (_, text, lang, source) = base(src)
      ((nBase + k).toLong, text, lang, source)
    }
    val near = order.slice(nExact, nExact + nNear).zipWithIndex.map { case (src, k) =>
      val (_, text, lang, source) = base(src)
      ((nBase + nExact + k).toLong, s"$text ${word()}", lang, source)
    }
    val all = base ++ exact ++ near
    val rows = shuffled(rnd, all.length).map { i =>
      val (id, text, lang, source) = all(i)
      Row(id, text, lang, source, text.length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    exact.map(_._1).toSeq
  }

  private def shuffled(rnd: java.util.Random, n: Int): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}
