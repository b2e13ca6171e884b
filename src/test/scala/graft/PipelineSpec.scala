package graft

import graft.operators.{Analytics, MarketView}
import graft.pipeline.Pipeline
import graft.sources.Tables
import org.apache.spark.TestListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class PipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private def newDir(): String =
    tempDir("graft_pipeline").toString

  // the sf0.001 bars in staging-schema columns
  private lazy val bars: DataFrame = MarketView.dailyBars(spark, sf)
    .select(col("date"), col("symbol"), col("open"), col("high"),
      col("low"), col("close"), col("volume"))

  private def writeCsv(df: DataFrame): String = {
    val dir = newDir()
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

  test("end-to-end: CSV -> staging -> dims -> fact -> weekly view -> report") {
    val wh = newDir()
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
    val wh = newDir()
    val first = Pipeline.run(spark, csvPath, wh)
    val second = Pipeline.run(spark, csvPath, wh)
    assert(first.stagingRows == second.stagingRows)
    assert(first.factRows == second.factRows)
    assert(first.report == second.report)
    // dims did not grow on re-run (ON CONFLICT DO NOTHING semantics)
    assert(spark.read.parquet(s"$wh/dim_instrumento").count() == 5)
  }

  test("missing CSV fails fast before any write") {
    val wh = newDir()
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, "/nonexistent/quotes.csv", wh)
    }
    assert(!Files.exists(java.nio.file.Paths.get(s"$wh/staging")))
  }

  test("row-count gate mismatch aborts the run") {
    val wh = newDir()
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, csvPath, wh, expectedRows = Some(999999L))
    }
  }

  test("a re-run with new keys appends exactly the absent dimension rows") {
    val wh = newDir()
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
    val wh = newDir()
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, writeCsv(bars.unionByName(bars.limit(1))), wh)
    }
    assert(e.getMessage.contains("quality gate failed"))
    assert(!Files.exists(Paths.get(s"$wh/fact_movimentacao_diaria")))
  }

  test("one low > high row fails the expectation suite before the fact is written") {
    val wh = newDir()
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
    val wh = newDir()
    Pipeline.run(spark, csvPath, wh)
    val fromView = Analytics.avgVolatilityFromWeekly(
      spark.read.parquet(s"$wh/volatility_weekly")).collect().toSeq
    val fromFact = Analytics.avgVolatilityPerTicker(
      spark.read.parquet(s"$wh/fact_movimentacao_diaria")).collect().toSeq
    assert(fromView.nonEmpty)
    assert(fromView == fromFact)
  }

  test("overwriteAndRead reads back the schema a footer read infers, partition column last") {
    val wh = newDir()
    val df = bars.withColumn("ano", year(col("date")))
    val back = Tables.overwriteAndRead(df, s"$wh/t", Seq("ano"))
    assert(back.schema == spark.read.parquet(s"$wh/t").schema)
    assert(back.columns.toSeq == df.columns.toSeq)
    assert(back.count() == df.count())
    intercept[IllegalArgumentException](Tables.overwriteAndRead(df, s"$wh/u", Seq("symbol")))
  }

  test("the observed fact and view row counts equal the written tables, first load and re-run") {
    val wh = newDir()
    for (_ <- 1 to 2) {
      val res = Pipeline.run(spark, csvPath, wh)
      assert(res.factRows == spark.read.parquet(s"$wh/fact_movimentacao_diaria").count())
      assert(res.weeklyRows == spark.read.parquet(s"$wh/volatility_weekly").count())
    }
  }

  test("job count: a first load runs at most 16 Spark jobs, a re-run at most 12") {
    val wh = newDir()
    val first = jobsOf(Pipeline.run(spark, csvPath, wh))
    val rerun = jobsOf(Pipeline.run(spark, csvPath, wh))
    info(s"first load $first jobs, re-run $rerun jobs")
    // 22 and 18 while the fact and view rows were counted after their writes;
    // 18 and 14 while the gate ran its own countDistinct over staging and the
    // view read the fact back
    assert(first <= 16)
    assert(rerun <= 12)
  }

  /** Every node of `p`, through adaptive plans, query stages and commands. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case _ => p +: (p.children ++ p.innerChildren.collect { case c: SparkPlan => c }).flatMap(nodes)
  }

  /** The executed plans of the actions `f` runs on this session. */
  private def plansOf(f: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try f
    finally {
      TestListenerBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    plans.asScala.toSeq
  }

  test("plan: one shuffle on symbol feeds the LAG window, and the fact write and the view read the pin") {
    val wh = newDir()
    for (_ <- 1 to 2) {
      val plans = plansOf(Pipeline.run(spark, csvPath, wh)).map(nodes)
      val windowed = plans.filter(_.exists(_.isInstanceOf[WindowExec]))
      assert(windowed.size == 1, s"${windowed.size} plans run a window")
      val exchanges = windowed.head.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      assert(exchanges.size == 1 && (exchanges.head match {
        case h: HashPartitioning => h.expressions.map(_.sql) == Seq("symbol")
        case _ => false
      }), s"window exchanges: $exchanges")
      def writes(table: String) = plans.filter(_.exists {
        case w: DataWritingCommandExec => w.cmd.toString.contains(s"/$table,")
        case _ => false
      })
      for (table <- Seq("fact_movimentacao_diaria", "volatility_weekly")) {
        val w = writes(table)
        assert(w.size == 1, s"$table: ${w.size} writes")
        assert(w.head.exists(_.isInstanceOf[RDDScanExec]), s"$table is not written from the pin")
        assert(!w.head.exists(_.isInstanceOf[FileSourceScanExec]), s"$table write scans a file")
      }
      assert(!plans.flatten.exists {
        case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.toString.contains("fact_movimentacao_diaria"))
        case _ => false
      }, "a plan reads the fact back")
    }
  }

  test("a run leaves no persisted RDD behind, first load, re-run and failed gate") {
    val sc = spark.sparkContext
    val wh = newDir()
    val before = sc.getPersistentRDDs.keySet
    Pipeline.run(spark, csvPath, wh)
    Pipeline.run(spark, csvPath, wh)
    intercept[IllegalArgumentException](
      Pipeline.run(spark, writeCsv(bars.unionByName(bars.limit(1))), newDir()))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
