package graft

import graft.operators.{Analytics, MarketView}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The reference's EP2/EP4 boundary (Postgres COPY in, psycopg2 out —
  * `dags/financial_pipeline.py:39-49`) as an engine source/sink kind:
  * engine-over-JDBC must equal engine-over-parquet on the staging relation.
  * Endpoint = embedded Derby, the JDBC database on the JDK-fixed classpath
  * (`/opt/spark/jars/derby-*.jar`) — no server, no egress, real JDBC wire
  * semantics (typed columns, batched INSERTs, range-partitioned reads).
  */
class JdbcBoundarySpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val url = {
    val db = tempDir("graft_derby").resolve("stagingdb")
    s"jdbc:derby:$db;create=true"
  }

  test("writeJdbc + readStagingJdbc round-trip the staging relation exactly; downstream operators are source-agnostic") {
    val staged = MarketView.dailyBars(spark, sf)
      .select(col("date"), col("symbol"), col("open"), col("high"),
        col("low"), col("close"), col("volume"))
    Tables.writeJdbc(staged, url, "staging")
    val back = Tables.readStagingJdbc(spark, url)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("symbol"), col("date").cast("string"), col("open"), col("high"),
        col("low"), col("close"), col("volume"))
      .as[(String, String, Double, Double, Double, Double, Long)].collect().toSet
    val parquetSide = key(staged)
    assert(key(back) == parquetSide && parquetSide.nonEmpty,
      "staging over JDBC diverges from staging over parquet")
    // the engine's operators run unchanged on the JDBC-sourced relation:
    // weekly volatility over either source is identical (S8 stays lazy —
    // the aggregation happens in Spark, only the scan is remote)
    val factOf = (src: org.apache.spark.sql.DataFrame) =>
      Analytics.weeklyVolatility(MarketView.withPctChange(src))
        .select(col("symbol"), col("semana"), graft.functions.Fx.rd(col("vol"), 6).as("vol"))
        .as[(String, String, Option[Double])].collect().toSet
    assert(factOf(back) == factOf(staged),
      "weekly volatility over JDBC staging diverges from the parquet path")
  }

  test("range-partitioned JDBC read equals the single-connection read (the at-scale path)") {
    val staged = MarketView.dailyBars(spark, sf)
      .select(col("date"), col("symbol"), col("open"), col("high"),
        col("low"), col("close"), col("volume"))
    Tables.writeJdbc(staged, url, "staging_part")
    val lo = staged.agg(min("volume")).head().getLong(0)
    val hi = staged.agg(max("volume")).head().getLong(0) + 1
    val sliced = Tables.readStagingJdbc(spark, url, "staging_part",
      partitioning = Some(("volume", lo, hi, 4)))
    assert(sliced.rdd.getNumPartitions == 4,
      "partitioned JDBC read must fan out to the requested slice count")
    val plain = Tables.readStagingJdbc(spark, url, "staging_part")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("symbol"), col("date").cast("string"), col("volume"))
      .as[(String, String, Long)].collect().toSet
    assert(key(sliced) == key(plain) && key(plain).nonEmpty,
      "range-sliced parallel read lost or duplicated rows")
  }

  test("overwrite mode is truncate-and-reload at the JDBC boundary (S3)") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val b = Seq((3L, "z")).toDF("id", "v")
    Tables.writeJdbc(a, url, "reload_t")
    Tables.writeJdbc(b, url, "reload_t")
    val back = Tables.readJdbc(spark, url, "reload_t")
      .as[(Long, String)].collect().toSet
    assert(back == Set((3L, "z")), "second overwrite load must fully replace the first")
  }
}
