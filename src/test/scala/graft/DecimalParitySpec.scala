package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Exact-NUMERIC parity mode (reference `sql/setup_staging.sql:7-10` stores
  * prices as Postgres NUMERIC). The engine default is DoubleType; this spec
  * pins the opt-in DecimalType(38,6) ingest path: values that are not
  * binary-FP-representable survive exactly, and distributed sums are exact
  * (no accumulation-order drift) by construction.
  */
class DecimalParitySpec extends SparkSpecBase {

  private lazy val csv = {
    val dir = tempDir("graft_decimal")
    // 0.1 and 0.3 are classic non-representable doubles; 10k of them exposes
    // FP accumulation drift immediately
    val rows = (1 to 10000).map(i => s"2024-01-01,AAA,0.1,0.3,0.1,0.1,$i")
    java.nio.file.Files.writeString(dir.resolve("q.csv"),
      "date,symbol,open,high,low,close,volume\n" + rows.mkString("\n"))
    dir.toString
  }

  test("decimal schema swaps only the NUMERIC columns") {
    val s = Tables.stagingSchemaDecimal
    assert(s("close").dataType == DecimalType(38, 6))
    assert(s("open").dataType == DecimalType(38, 6))
    assert(s("volume").dataType == LongType)
  }

  test("decimal ingest sums exactly: 10000 x 0.1 == 1000.000000") {
    val df = Tables.readStagingCsvDecimal(spark, csv)
    val total = df.agg(sum(col("close"))).head().getDecimal(0)
    assert(total.compareTo(new java.math.BigDecimal("1000.000000")) == 0,
      s"decimal sum drifted: $total")
    // the shuffled (multi-partition) sum is identical — order-independent
    val shuffled = df.repartition(7).agg(sum(col("close"))).head().getDecimal(0)
    assert(shuffled.compareTo(total) == 0)
  }

  test("decimal values round-trip with no FP representation error") {
    val v = Tables.readStagingCsvDecimal(spark, csv)
      .select(col("close")).distinct().collect()
    assert(v.length == 1)
    assert(v.head.getDecimal(0).compareTo(new java.math.BigDecimal("0.100000")) == 0)
  }
}
