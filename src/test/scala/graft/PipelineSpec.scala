package graft

import graft.operators.{Analytics, MarketView}
import graft.pipeline.Pipeline
import graft.sources.Tables
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

class PipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private def tempDir(): String =
    Files.createTempDirectory("graft_pipeline").toString

  // the sf0.001 bars in staging-schema columns
  private lazy val bars: DataFrame = MarketView.dailyBars(spark, sf)
    .select(col("date"), col("symbol"), col("open"), col("high"),
      col("low"), col("close"), col("volume"))

  private def writeCsv(df: DataFrame): String = {
    val dir = tempDir()
    df.coalesce(1).write.option("header", "true").mode("overwrite").csv(s"$dir/quotes")
    s"$dir/quotes"
  }

  // source CSV derived from the sf0.001 bars
  private lazy val csvPath: String = writeCsv(bars)

  private def dataFiles(path: String): Set[String] = {
    val s = Files.list(Paths.get(path))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSet
    finally s.close()
  }

  /** Jobs the calling thread submits while `f` runs. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val (key, tag) = ("graft.spec.jobCount", s"run-${System.nanoTime()}")
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try f
    finally {
      sc.setLocalProperty(key, null)
      TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("end-to-end: CSV -> staging -> dims -> fact -> weekly view -> report") {
    val wh = tempDir()
    val res = Pipeline.run(spark, csvPath, wh)
    assert(res.stagingRows == 150)
    assert(res.factRows == 150)
    assert(res.weeklyRows > 0)
    assert(res.report.contains("Ticker mais volátil"))
    // warehouse artifacts exist and round-trip
    val fact = spark.read.parquet(s"$wh/fact_movimentacao_diaria")
    assert(fact.columns.contains("variacao_diaria"))
    assert(fact.count() == 150)
    // fact is partitioned by year (partition pruning path)
    assert(Files.list(java.nio.file.Paths.get(s"$wh/fact_movimentacao_diaria"))
      .iterator().hasNext)
  }

  test("re-run is idempotent (truncate-and-reload + upsert dims)") {
    val wh = tempDir()
    val first = Pipeline.run(spark, csvPath, wh)
    val second = Pipeline.run(spark, csvPath, wh)
    assert(first.stagingRows == second.stagingRows)
    assert(first.factRows == second.factRows)
    assert(first.report == second.report)
    // dims did not grow on re-run (ON CONFLICT DO NOTHING semantics)
    assert(spark.read.parquet(s"$wh/dim_instrumento").count() == 5)
  }

  test("missing CSV fails fast before any write") {
    val wh = tempDir()
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, "/nonexistent/quotes.csv", wh)
    }
    assert(!Files.exists(java.nio.file.Paths.get(s"$wh/staging")))
  }

  test("row-count gate mismatch aborts the run") {
    val wh = tempDir()
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, csvPath, wh, expectedRows = Some(999999L))
    }
  }

  test("a re-run with new keys appends exactly the absent dimension rows") {
    val wh = tempDir()
    Pipeline.run(spark, csvPath, wh)
    val dims = Seq("dim_instrumento" -> "ticker", "dim_tempo" -> "data_id")
    def read(d: String) = spark.read.parquet(s"$wh/$d")
    val before = dims.map { case (d, _) => d -> read(d).collect().toSet }.toMap

    // one new ticker, trading on three dates after the last one in the bars
    val last = bars.agg(max("date")).head().getDate(0).toLocalDate
    val added = (1 to 3).map { i =>
      (java.sql.Date.valueOf(last.plusDays(i)), "ZZNEW", 10.0, 12.0, 9.0, 11.0, 100L * i)
    }.toDF("date", "symbol", "open", "high", "low", "close", "volume")
    val grown = writeCsv(bars.unionByName(added))
    val res = Pipeline.run(spark, grown, wh)
    assert(res.stagingRows == 153)

    val newKeys = Map(
      "dim_instrumento" -> Set("ZZNEW"),
      "dim_tempo" -> (1 to 3).map(i => last.plusDays(i).toString).toSet)
    for ((d, key) <- dims) {
      val after = read(d)
      val rows = after.collect().toSet
      assert(before(d).subsetOf(rows), s"$d: a pre-existing row changed")
      assert((rows -- before(d)).map(_.getAs[String](key)) == newKeys(d))
      assert(after.count() == after.select(key).distinct().count(), s"$d: duplicate key")
    }
    assert(read("dim_instrumento").filter(col("ticker") === "ZZNEW").head().getAs[String]("nome")
      == "Ativo ZZNEW")

    // nothing is absent on a third run: not even an empty part file is added
    val files = dims.map { case (d, _) => d -> dataFiles(s"$wh/$d") }.toMap
    Pipeline.run(spark, grown, wh)
    for ((d, _) <- dims) assert(dataFiles(s"$wh/$d") == files(d), s"$d: files changed")
  }

  test("a duplicate (symbol, date) fails the quality gate before the fact is written") {
    val wh = tempDir()
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, writeCsv(bars.unionByName(bars.limit(1))), wh)
    }
    assert(e.getMessage.contains("quality gate failed"))
    assert(!Files.exists(Paths.get(s"$wh/fact_movimentacao_diaria")))
  }

  test("one low > high row fails the expectation suite before the fact is written") {
    val wh = tempDir()
    val first = bars.orderBy("symbol", "date").head()
    val isFirst = col("symbol") === first.getAs[String]("symbol") &&
      col("date") === first.getAs[java.sql.Date]("date")
    val csv = writeCsv(
      bars.withColumn("low", when(isFirst, col("high") + 1.0).otherwise(col("low"))))
    val e = intercept[IllegalArgumentException](Pipeline.run(spark, csv, wh))
    assert(e.getMessage.contains("quality checks failed: ohlc_bounds (observed=1)"))
    assert(!Files.exists(Paths.get(s"$wh/fact_movimentacao_diaria")))
  }

  test("the report over the weekly view equals the report over the fact") {
    val wh = tempDir()
    Pipeline.run(spark, csvPath, wh)
    val fromView = Analytics.avgVolatilityFromWeekly(
      spark.read.parquet(s"$wh/volatility_weekly")).collect().toSeq
    val fromFact = Analytics.avgVolatilityPerTicker(
      spark.read.parquet(s"$wh/fact_movimentacao_diaria")).collect().toSeq
    assert(fromView.nonEmpty)
    assert(fromView == fromFact)
  }

  test("overwriteAndRead reads back the schema a footer read infers, partition column last") {
    val wh = tempDir()
    val df = bars.withColumn("ano", year(col("date")))
    val back = Tables.overwriteAndRead(df, s"$wh/t", Seq("ano"))
    assert(back.schema == spark.read.parquet(s"$wh/t").schema)
    assert(back.columns.toSeq == df.columns.toSeq)
    assert(back.count() == df.count())
    intercept[IllegalArgumentException](Tables.overwriteAndRead(df, s"$wh/u", Seq("symbol")))
  }

  test("job count: a first load runs at most 22 Spark jobs, a re-run at most 18") {
    val wh = tempDir()
    val first = jobsOf(Pipeline.run(spark, csvPath, wh))
    val rerun = jobsOf(Pipeline.run(spark, csvPath, wh))
    info(s"first load $first jobs, re-run $rerun jobs")
    assert(first <= 22)
    assert(rerun <= 18)
  }
}
