package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Columnar/interchange format boundary beyond parquet: ORC (the other
  * splittable columnar format large warehouses standardize on) and JSONL
  * (the interchange format training-data pipelines actually exchange).
  *
  * The contract mirrors the engine's parquet rules at 100 TB: schemas are
  * DECLARED on read (never inferred — an inference pass over a corpus is a
  * full extra scan), writes are partitioned and executor-parallel, and
  * the read path stays splittable (ORC stripes; JSONL lines).
  *
  * `ordersViaOrcAndJsonl` materializes parquet → ORC → JSONL once per
  * source fingerprint (in the [[Tables.materializedPath]] store, so a
  * rebuilt corpus re-materializes), letting the q135 gate hash-prove both
  * hops lossless: its aggregate runs over the JSONL end of the chain
  * while the oracle reads the original parquet.
  */
object Formats {

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => Files.deleteIfExists(q))
      finally walk.close()
    }

  /** The orders relation after parquet → ORC → JSONL, each hop stored once
    * per source fingerprint (entries `fmt_orders_orc`, `fmt_orders_jsonl`).
    */
  def ordersViaOrcAndJsonl(spark: SparkSession, dir: String): DataFrame = {
    val src = Paths.get(dir, "orders.parquet")
    val orders = Tables.orders(spark, dir)
    val orc = Tables.materializedPath(src, "fmt_orders_orc")(tmp =>
      orders.write.orc(tmp.toString))
    val jsonl = Tables.materializedPath(src, "fmt_orders_jsonl")(tmp =>
      spark.read.schema(orders.schema).orc(orc.toString).write.json(tmp.toString))
    spark.read.schema(orders.schema).json(jsonl.toString)
  }

  /** SCHEMA EVOLUTION boundary (q156): two parquet generations of the
    * orders relation — gen1 written BEFORE a column existed, gen2 with the
    * new `o_priority_class` column — read back as ONE relation via
    * `mergeSchema`, the old generation's rows carrying NULL for the new
    * column. This is the 100 TB reality of any long-lived table: schemas
    * change mid-corpus and a full rewrite of petabytes to backfill a
    * column is not an option; the read-side union schema is.
    *
    * The split predicate and the derived column are stated identically in
    * the oracle, which replays the evolution as a UNION ALL over the source
    * relation — hash equality proves the merged read is exactly that union.
    */
  def ordersTwoGenerations(spark: SparkSession, dir: String): DataFrame = {
    val src = Paths.get(dir, "orders.parquet")
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val gen1 = Tables.materializedPath(src, "evolve_orders_gen1")(tmp => orders
      .filter(col("o_orderkey") % 2 === 0)
      .write.parquet(tmp.toString))
    val gen2 = Tables.materializedPath(src, "evolve_orders_gen2")(tmp => orders
      .filter(col("o_orderkey") % 2 =!= 0)
      .withColumn("o_priority_class",
        when(col("o_totalprice") >= 200000.0, lit("high")).otherwise(lit("std")))
      .write.parquet(tmp.toString))
    spark.read.option("mergeSchema", "true").parquet(gen1.toString, gen2.toString)
  }

  /** Registered query (q135): the aggregate runs on the JSONL end of the
    * two-hop chain; the oracle computes the same aggregate on the ORIGINAL
    * parquet — hash equality proves both hops preserved every value
    * (decimal-exact price sums, microsecond timestamps, statuses).
    */
  def roundtripGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Fx._
    ordersViaOrcAndJsonl(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        rd(exactSum(col("o_totalprice")), 4).as("total_price"),
        min(dateStr(col("o_orderdate"))).as("first_date"),
        max(dateStr(col("o_orderdate"))).as("last_date"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy("o_orderstatus")
  }
}
