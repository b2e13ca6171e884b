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
  * `roundtripDir` materializes parquet → ORC → JSONL once per source
  * fingerprint (the [[graft.operators.GraphOps]] MV device: size+mtime
  * fingerprint key + `_SUCCESS` marker, so a rebuilt corpus re-materializes
  * and a partial write is overwritten), letting the q135 gate hash-prove
  * both hops lossless: its aggregate runs over the JSONL end of the chain
  * while the oracle reads the original parquet.
  */
object Formats {

  /** Fingerprint of a source parquet table (same device as the graph MV).
    * Shared with [[graft.operators.Layout]]'s compaction gate.
    */
  private[graft] def fingerprintOf(dir: String, table: String): String = {
    val src = Paths.get(dir, s"$table.parquet")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(src.toString.getBytes("UTF-8"))
    val walk = Files.walk(src)
    try walk.filter(p => Files.isRegularFile(p))
      .sorted(java.util.Comparator.comparing[java.nio.file.Path, String](_.toString))
      .forEach { p =>
        md.update(s"${p.getFileName}|${Files.size(p)}|${Files.getLastModifiedTime(p).toMillis}\n"
          .getBytes("UTF-8"))
      }
    finally walk.close()
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => Files.deleteIfExists(q))
      finally walk.close()
    }

  /** Publish a shared materialization atomically: build into a
    * per-process tmp sibling, then a single directory rename. A second JVM
    * (bench alongside tests) racing the same fingerprinted path either wins
    * the rename or observes the winner's complete directory — never a
    * half-overwritten one; the loser's tmp dir is discarded. The in-JVM
    * `synchronized` callers keep handling the single-process case.
    */
  private[graft] def materializeAtomic(path: String)(write: String => Unit): Unit = {
    val dst = Paths.get(path)
    if (Files.exists(dst.resolve("_SUCCESS"))) return
    val tmp = Paths.get(path + s".tmp.${ProcessHandle.current().pid()}")
    deleteRecursively(tmp)
    write(tmp.toString)
    try Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileSystemException =>
        // Lost the cross-JVM race: the winner's dir is complete (its rename
        // was atomic), so drop ours; anything else is a real failure.
        if (Files.exists(dst.resolve("_SUCCESS"))) deleteRecursively(tmp)
        else throw e
    }
  }

  /** ORC round-trip of a DataFrame through `path` (write once, read back
    * with the source's declared schema).
    */
  def viaOrc(df: DataFrame, path: String): DataFrame = {
    materializeAtomic(path)(tmp => df.write.mode("overwrite").orc(tmp))
    df.sparkSession.read.schema(df.schema).orc(path)
  }

  /** JSONL round-trip. Timestamps survive because write format and declared
    * read schema agree; ints stay ints because the schema is DECLARED (JSON
    * inference would widen/narrow by content).
    */
  def viaJsonl(df: DataFrame, path: String): DataFrame = {
    materializeAtomic(path)(tmp => df.write.mode("overwrite").json(tmp))
    df.sparkSession.read.schema(df.schema).json(path)
  }

  /** The orders relation after parquet → ORC → JSONL, materialized once per
    * source fingerprint under java.io.tmpdir.
    */
  def ordersViaOrcAndJsonl(spark: SparkSession, dir: String): DataFrame =
    synchronized {
      val fp = fingerprintOf(dir, "orders")
      val base = Paths.get(System.getProperty("java.io.tmpdir"), "graft_fmt", fp)
      Files.createDirectories(base)
      val orc = viaOrc(Tables.orders(spark, dir), base.resolve("orders_orc").toString)
      viaJsonl(orc, base.resolve("orders_jsonl").toString)
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
  def ordersTwoGenerations(spark: SparkSession, dir: String): DataFrame =
    synchronized {
      val fp = fingerprintOf(dir, "orders")
      val base = Paths.get(System.getProperty("java.io.tmpdir"), "graft_evolve", fp)
      val gen1 = base.resolve("gen1").toString
      val gen2 = base.resolve("gen2").toString
      val orders = Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      materializeAtomic(gen1)(tmp => orders
        .filter(col("o_orderkey") % 2 === 0)
        .write.mode("overwrite").parquet(tmp))
      materializeAtomic(gen2)(tmp => orders
        .filter(col("o_orderkey") % 2 =!= 0)
        .withColumn("o_priority_class",
          when(col("o_totalprice") >= 200000.0, lit("high")).otherwise(lit("std")))
        .write.mode("overwrite").parquet(tmp))
      spark.read.option("mergeSchema", "true").parquet(gen1, gen2)
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
