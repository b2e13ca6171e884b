package graft

import java.nio.file.Files

import graft.sources.{Formats, Tables}
import org.apache.spark.sql.functions._

/** ORC/JSONL format boundary: row-for-row fidelity, escaping-hostile
  * strings, declared-schema discipline, fingerprint reuse.
  */
class FormatsSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft_fmt_spec").toString

  test("ORC round-trip is row-for-row lossless on orders") {
    val src = Tables.orders(spark, sf)
    Formats.ordersViaOrcAndJsonl(spark, sf)
    val orc = Tables.publishedMvPath(java.nio.file.Paths.get(sf, "orders.parquet"),
      "fmt_orders_orc").getOrElse(fail("fmt_orders_orc is not stored"))
    val back = spark.read.schema(src.schema).orc(orc.toString)
    assert(back.schema == src.schema)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("JSONL round-trip is lossless on orders (timestamps included)") {
    val src = Tables.orders(spark, sf)
    val back = Formats.ordersViaOrcAndJsonl(spark, sf)
    assert(back.schema == src.schema)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("JSONL survives escaping-hostile strings and nulls") {
    val hostile = Seq(
      (1L, Option("""he said "hi" \ and left"""), Option(1.5)),
      (2L, Option("line\nbreak\ttab"), None),
      (3L, Option("unicode: café ハロ"), Option(-0.0)),
      (4L, None, Option(2.0)),
      (5L, Option(""), Option(3.0))
    ).toDF("id", "s", "v")
    val path = s"${tmp()}/hostile"
    Tables.writeJsonl(hostile, path)
    val back = spark.read.schema(hostile.schema).json(path)
    assert(back.exceptAll(hostile).isEmpty && hostile.exceptAll(back).isEmpty)
  }

  test("roundtrip gate materializes once per fingerprint and is reused") {
    val first = Formats.ordersViaOrcAndJsonl(spark, sf)
    val n1 = first.count()
    // the second call must read the stored entries, not rebuild them
    def entries() = storedEntries(java.nio.file.Paths.get(sf, "orders.parquet"),
      "fmt_orders_orc", "fmt_orders_jsonl")
    val before = entries()
    val second = Formats.ordersViaOrcAndJsonl(spark, sf)
    assert(second.count() == n1)
    assert(entries() == before)
  }

  test("schema evolution: merged read = union schema, old rows NULL, no row lost") {
    import org.apache.spark.sql.functions._
    val merged = Formats.ordersTwoGenerations(spark, sf)
    val orders = graft.sources.Tables.orders(spark, sf)
    assert(merged.columns.toSet ==
      Set("o_orderkey", "o_orderstatus", "o_totalprice", "o_priority_class"))
    assert(merged.count() == orders.count())
    // exactly the pre-column generation carries NULL
    val nulls = merged.filter(col("o_priority_class").isNull)
    assert(nulls.count() == orders.filter(col("o_orderkey") % 2 === 0).count())
    assert(nulls.filter(col("o_orderkey") % 2 =!= 0).isEmpty)
    // and the new generation's derived values are the stated CASE
    assert(merged.filter(col("o_priority_class") === "high"
      && col("o_totalprice") < 200000.0).isEmpty)
  }
}
