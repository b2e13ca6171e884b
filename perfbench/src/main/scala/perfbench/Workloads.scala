package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import graft.functions.Fx
import graft.operators.{Analytics, MarketView, Quality, Stars, TextOps}
import graft.pipeline.{CorpusPipeline, Pipeline, PipelineResult}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark workload: a closed loop of operations by one client. */
trait Workload {
  /** Generates the inputs from the seed and builds the state the operations
    * start from. Called several times; each call starts from scratch.
    */
  def setup(): Unit
  /** Set-ups per run; setup_s is their median. The first carries the JVM's
    * cold start; the later ones also warm the JIT up before the measured loop.
    */
  def setups: Int = 2
  /** One operation; returns a fingerprint of its result. */
  def op(i: Int): String
  /** Operations come in rotations of this many; the loop stops only at the
    * end of a rotation, so every run times the same mix.
    */
  def rotation: Int = 1
  /** Name of operation `i` (the query for `analyst_gold`). */
  def opName(i: Int): String
  /** Untimed work after operation `i` that must not count as its time
    * (hashing what it wrote, clearing caches); may extend the fingerprint.
    */
  def after(i: Int, fingerprint: String): String = fingerprint
  /** The fingerprint every operation `i` must return. */
  def expected(i: Int): String
  /** The span that times a whole traced operation `i`. */
  def spanName(i: Int): String = "pipeline.run"
  /** The benchmark's replay of operation `i`: the engine's public calls in
    * the entry point's order, one span per layer call. Returns the result's
    * fingerprint and the useful-work ratios measured around it; None when
    * the operation is a single call.
    */
  def replay(i: Int, tr: Tracer): Option[(String, Map[String, Double])]
  /** Bytes the workload's operations leave in storage, and the input bytes. */
  def storeBytes: Long
  def inputBytes: Long
  /** Facts the harness reports for the checks `run.py` makes with DuckDB. */
  def checkFacts: Map[String, Any]
}

object Workload {
  def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .take(12).map(b => f"$b%02x").mkString

  /** The engine's registered DuckDB oracle SQL for the market queries the
    * checks use; `run.py` swaps their events-derived `bars` for the CSV.
    */
  def marketOracles: Map[String, String] = graft.SparkEntry.oracleSql.filter { case (k, _) =>
    Set("q03_weekly_volatility", "q04_top_volatility", "q05_risk_profile", "q06_liquidity",
      "q07_global_stats", "q11_weekly_vol_rounded", "q12_top_performance",
      "q13_investor_scores", "q14_monthly_summary")(k)
  }

  def rowsFingerprint(rows: Array[Row]): String = sha(rows.map(_.toString).mkString("\n"))

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Bytes of the data files under `p` (Hadoop's local .crc sidecars and the
    * _SUCCESS markers excluded).
    */
  def dataBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_"))
      .mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }
}

import Workload._

/** `dag_daily`: the reference's daily truncate-and-reload DAG, re-run against
  * the warehouse the previous run left behind.
  */
final class DagDaily(spark: SparkSession, work: Path, seed: Long,
                     tickers: Int, days: Int) extends Workload {
  val csv: Path = work.resolve("in/market.csv")
  val wh: Path = work.resolve("wh")
  private var expectedFp = ""

  private def fp(r: PipelineResult): String =
    s"${r.stagingRows}|${r.factRows}|${r.weeklyRows}|${r.report}"

  def setup(): Unit = {
    deleteTree(csv.getParent); deleteTree(wh)
    Files.createDirectories(csv.getParent)
    Gen.marketCsv(csv, seed, tickers, days)
    // first load into an empty warehouse: creates the dimensions
    expectedFp = fp(Pipeline.run(spark, csv.toString, wh.toString))
  }

  def opName(i: Int): String = "pipeline_run"
  def op(i: Int): String = fp(Pipeline.run(spark, csv.toString, wh.toString))
  def expected(i: Int): String = expectedFp

  def replay(i: Int, tr: Tracer): Option[(String, Map[String, Double])] = {
    val dims = Seq("dim_instrumento", "dim_tempo").map(d => wh.resolve(d).toString)
    val before = dims.map(spark.read.parquet(_).count()).sum
    val r = fp(DagDaily.replay(spark, csv.toString, wh.toString, tr))
    val after = dims.map(spark.read.parquet(_).count()).sum
    val staging = spark.read.parquet(wh.resolve("staging").toString)
    val offered = Analytics.dimInstrument(staging).count() + Analytics.dimTempo(staging).count()
    Some(r -> Map("operators.create_dims.useful_ratio" -> (after - before).toDouble / offered))
  }

  def storeBytes: Long = dataBytes(wh)
  def inputBytes: Long = Files.size(csv)
  def checkFacts: Map[String, Any] =
    Map("csv" -> csv.toString, "expected" -> expectedFp, "oracle" -> marketOracles)
}

object DagDaily {
  /** The calls `Pipeline.run` makes, in its order, one span per DAG task. */
  def replay(spark: SparkSession, csvPath: String, warehouse: String,
             tr: Tracer): PipelineResult = {
    val (stagingDf, stagingRows) = tr.span("sources.load_staging") {
      Tables.requireExists(csvPath)
      val staging = Tables.readStagingCsv(spark, csvPath)
      Tables.overwrite(staging, s"$warehouse/staging")
      val df = spark.read.parquet(s"$warehouse/staging")
      (df, df.count())
    }
    tr.span("operators.quality_checks") {
      val gate = Analytics.qualityGate(stagingDf).head()
      require(gate.getLong(2) == 1L,
        s"quality gate failed: rows=${gate.getLong(0)} null_criticals=${gate.getLong(1)}")
      Quality.enforce(Quality.checkAll(stagingDf, Seq(
        "critical_not_null" -> (col("close").isNotNull && col("date").isNotNull),
        "ohlc_bounds" -> (col("low") <= col("high") &&
          col("close") >= col("low") && col("close") <= col("high")))))
    }
    tr.span("operators.create_dims") {
      upsertDim(spark, s"$warehouse/dim_instrumento", Analytics.dimInstrument(stagingDf), "ticker")
      upsertDim(spark, s"$warehouse/dim_tempo", Analytics.dimTempo(stagingDf), "data_id")
    }
    val factDf = tr.span("operators.load_fact") {
      val fact = MarketView.withPctChange(stagingDf).withColumn("ano", year(col("date")))
      Tables.overwrite(fact, s"$warehouse/fact_movimentacao_diaria", Seq("ano"))
      spark.read.parquet(s"$warehouse/fact_movimentacao_diaria")
    }
    val weekly = tr.span("operators.volatility_view") {
      Tables.overwrite(Analytics.weeklyVolatility(factDf), s"$warehouse/volatility_weekly")
      spark.read.parquet(s"$warehouse/volatility_weekly")
    }
    // the report task, plus the two counts PipelineResult carries
    tr.span("operators.report") {
      val top = Analytics.avgVolatilityPerTicker(factDf).head()
      val report =
        f"Ticker mais volátil: ${top.getString(0)} (volatilidade média semanal ${top.getDouble(1)}%.4f%%)"
      org.apache.log4j.Logger.getLogger(Pipeline.getClass).info(report)
      PipelineResult(stagingRows, factRows = factDf.count(), weeklyRows = weekly.count(), report)
    }
  }

  private def upsertDim(spark: SparkSession, path: String, incoming: DataFrame,
                        key: String): DataFrame = {
    val merged =
      if (Files.exists(Paths.get(path))) Stars.upsertIfAbsent(spark.read.parquet(path), incoming, key)
      else incoming
    Tables.overwrite(merged.localCheckpoint(true), path)
    spark.read.parquet(path)
  }
}

/** `analyst_gold`: the notebook and README Gold queries in a fixed rotation
  * over the fact parquet one `Pipeline.run` wrote during set-up.
  */
final class AnalystGold(spark: SparkSession, work: Path, seed: Long,
                        tickers: Int, days: Int) extends Workload {
  val csv: Path = work.resolve("in/market.csv")
  val wh: Path = work.resolve("wh")
  val dumps: Path = work.resolve("dumps")
  private def fact = spark.read.parquet(wh.resolve("fact_movimentacao_diaria").toString)
  private var expectedFp = Map.empty[String, String]

  def setup(): Unit = {
    deleteTree(csv.getParent); deleteTree(wh); deleteTree(dumps)
    Files.createDirectories(csv.getParent)
    Gen.marketCsv(csv, seed, tickers, days)
    Pipeline.run(spark, csv.toString, wh.toString)
    // one pass over the rotation; its results are what every later
    // operation must reproduce, and what run.py checks against DuckDB
    expectedFp = AnalystGold.Queries.map { case (name, q) =>
      val df = q(fact)
      val rows = df.collect()
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), df.schema)
        .write.parquet(dumps.resolve(name).toString)
      name -> rowsFingerprint(rows)
    }.toMap
  }

  override def rotation: Int = AnalystGold.Queries.size
  def opName(i: Int): String = AnalystGold.Queries(i % AnalystGold.Queries.size)._1
  def op(i: Int): String =
    rowsFingerprint(AnalystGold.Queries(i % AnalystGold.Queries.size)._2(fact).collect())
  def expected(i: Int): String = expectedFp(opName(i))

  override def spanName(i: Int): String = s"operators.${opName(i)}"
  def replay(i: Int, tr: Tracer): Option[(String, Map[String, Double])] = None

  def storeBytes: Long = dataBytes(wh)
  def inputBytes: Long = Files.size(csv)
  def checkFacts: Map[String, Any] = Map("csv" -> csv.toString, "dumps" -> dumps.toString,
    "queries" -> AnalystGold.Queries.map(_._1), "oracle" -> marketOracles)
}

object AnalystGold {
  val Queries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "avg_volatility_per_ticker" -> Analytics.avgVolatilityPerTicker,
    "risk_profile" -> Analytics.riskProfile,
    "liquidity" -> Analytics.liquidity,
    "top_performance" -> (Analytics.topPerformance(_, 5)),
    "investor_scores" -> Analytics.investorScores,
    "global_stats" -> Analytics.globalStats,
    "weekly_volatility_rounded" -> Analytics.weeklyVolatilityRounded,
    "monthly_summary" -> Analytics.monthlySummary)
}

/** `corpus_prep`: `CorpusPipeline.run` over a generated corpus with planted
  * exact and near copies, writing the split-partitioned output.
  */
final class CorpusPrep(spark: SparkSession, work: Path, seed: Long, nBase: Int,
                       exactRate: Double, nearRate: Double) extends Workload {
  val in: Path = work.resolve("corpus")
  val out: Path = work.resolve("corpus_out")
  private var exactCopies = Seq.empty[Long]
  private var expectedFp = ""

  private def fp(nRaw: Long, nQuality: Long, nExact: Long, nFinal: Long,
                 profile: Array[Row]): String = {
    require(profile.map(_.getAs[Long]("n_docs")).sum == nFinal,
      "profile n_docs does not sum to nFinal")
    s"$nRaw|$nQuality|$nExact|$nFinal|${rowsFingerprint(profile)}"
  }

  // A set-up runs the same pipeline as an operation, and the operations keep
  // getting faster for their first 5-7 runs in a JVM, so a third set-up
  // buys a warmer, steadier measured loop. (A `dag_daily` set-up is a first
  // load, which warms less of the re-run path its operations take.)
  override def setups: Int = 3

  def setup(): Unit = {
    deleteTree(in); deleteTree(out)
    exactCopies = Gen.corpus(spark, in.toString, seed, nBase, exactRate, nearRate)
    expectedFp = after(0, op(0))
  }

  def opName(i: Int): String = "corpus_run"
  def op(i: Int): String = {
    val r = CorpusPipeline.run(spark, in.toString, Some(out.toString))
    fp(r.nRaw, r.nQuality, r.nExactDeduped, r.nFinal, r.profile.collect())
  }
  def expected(i: Int): String = expectedFp

  /** Adds an order-independent hash of the written output, then drops the
    * pipeline's cached relations so the next run starts cold.
    */
  override def after(i: Int, fingerprint: String): String = {
    val h = spark.read.parquet(out.toString)
      .agg(count(lit(1)), sum(xxhash64(col("doc_id"), col("text"), col("split")) % 1000000007L))
      .head()
    spark.catalog.clearCache()
    s"$fingerprint|${h.getLong(0)}|${h.getLong(1)}"
  }

  def replay(i: Int, tr: Tracer): Option[(String, Map[String, Double])] = {
    val (r, Seq(_, nQuality, nExact, nFinal)) =
      CorpusPrep.replay(spark, in.toString, out.toString, tr)
    Some(r -> Map(
      "operators.exact_dedup.useful_ratio" -> (nQuality - nExact).toDouble / nQuality,
      "operators.near_dup.useful_ratio" -> (nExact - nFinal).toDouble / nExact))
  }

  def storeBytes: Long = dataBytes(out)
  def inputBytes: Long = dataBytes(in)
  def checkFacts: Map[String, Any] = Map(
    "out" -> out.toString,
    "expected" -> expectedFp,
    "exact_copies" -> exactCopies)
}

object CorpusPrep {
  /** The calls `CorpusPipeline.runFrom` makes, in its order, one span per
    * stage. The pipeline leaves the redacted text to be computed inside the
    * quality gate's count; the replay counts it on its own (one extra job)
    * so redaction and scoring get separate spans.
    */
  def replay(spark: SparkSession, dir: String, outDir: String,
             tr: Tracer): (String, Seq[Long]) = {
    val raw = Tables.documents(spark, dir)
    val nRaw = tr.span("sources.read")(raw.count())
    val red = tr.span("operators.redact") {
      val red = raw.withColumn("text", TextOps.redactText(col("text"))).cache()
      red.count()
      red
    }
    val (gated, nQuality) = tr.span("operators.quality_gate") {
      val gated = red
        .withColumn("quality_score", Fx.rd(TextOps.qualityScore(col("text")), 6))
        .filter(col("quality_score") >= 0.5)
        .cache()
      val n = gated.count()
      red.unpersist()
      (gated, n)
    }
    val (exact, nExact) = tr.span("operators.exact_dedup") {
      val exact = TextOps.dedupKeepBest(gated, "quality_score").cache()
      (exact, exact.count())
    }
    val survivors = tr.span("operators.near_dup") {
      val clusters = TextOps.nearDupClustersFrom(exact, 0.9)
      exact.join(
        clusters.filter(col("doc_id") =!= col("cluster_rep")).select("doc_id"),
        Seq("doc_id"), "left_anti")
    }
    val (split, nFinal) = tr.span("operators.split") {
      val split = TextOps.splitAssign(survivors, "doc_id")
      (split, split.count())
    }
    tr.span("sources.write")(Tables.overwrite(split, outDir, Seq("split")))
    val profile = tr.span("operators.profile") {
      split.groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(regexp_extract_all(col("text"), lit("[^\\s]+"), lit(0))))
            .cast("long").as("n_tokens"),
          Fx.rd(avg(col("quality_score")), 6).as("avg_quality"))
        .orderBy("split", "lang")
        .collect()
    }
    require(profile.map(_.getAs[Long]("n_docs")).sum == nFinal,
      "profile n_docs does not sum to nFinal")
    (s"$nRaw|$nQuality|$nExact|$nFinal|${rowsFingerprint(profile)}",
      Seq(nRaw, nQuality, nExact, nFinal))
  }
}
