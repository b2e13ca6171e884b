package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering.
  *
  * At 100 TB the scan cost of a selective 2-D predicate is decided by the
  * LAYOUT, not the query plan: parquet row-group min/max stats prune files
  * only when rows that are close in (x, y) are close in file order. A
  * single-column sort gives perfect pruning on that column and none on the
  * other; interleaving the bits of both keys (Morton 1966; the technique
  * behind Delta/Iceberg OPTIMIZE ZORDER) bounds the min/max envelope of
  * every file in BOTH dimensions.
  *
  * The z-value here is a pure integer expression — a fixed unrolled chain of
  * shift/mask/or terms that stays inside whole-stage codegen (no UDF), and
  * the identical arithmetic is stated in the DuckDB oracle, so the gate is
  * hash-exact. Writing the layout is one range-partitioned sort by z
  * (`repartitionByRange` + `sortWithinPartitions`) — the standard
  * distributed total-order write; LayoutSpec measures the pruning claim
  * directly by replaying a box query against per-file min/max stats on both
  * layouts.
  */
object Layout {

  /** Morton z-value: interleave the low `bits` bits of x (even positions)
    * and y (odd positions). Inputs must be non-negative and < 2^bits;
    * callers clamp/bucket first. Unrolled fold — one codegen'd expression.
    */
  def zValue(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }

  /** The gate relation: events keyed by (user_id, minute-of-day) — two
    * independent dimensions a real workload filters on together — with
    * their z-value and the coarse z-cell (top `cellBits` bits), profiled
    * per cell. The cell profile makes locality visible as data: every
    * cell's (x, y) envelope is a bounded quadrant, which is exactly the
    * property file-level min/max pruning exploits.
    */
  def zorderProfile(spark: SparkSession, dir: String, bits: Int = 11,
                    cellBits: Int = 8): DataFrame = {
    val e = Tables.events(spark, dir)
    val x = col("user_id")
    // minute of day: 0..1439 < 2^11
    val y = (hour(col("ts")) * 60 + minute(col("ts"))).cast("long")
    e.select(x.as("x"), y.as("y"), zValue(x, y, bits).as("z"))
      .withColumn("cell", shiftright(col("z"), 2 * bits - cellBits))
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
      .orderBy("cell")
  }

  /** Write `df` z-clustered on (xCol, yCol): range-partition by z, sort
    * within partitions — every output file covers one contiguous z-range,
    * i.e. a bounded rectangle union in (x, y). Returns the written path.
    */
  def writeZOrdered(df: DataFrame, xCol: String, yCol: String, path: String,
                    bits: Int = 11, partitions: Int = 8): String = {
    df.withColumn("__z", zValue(col(xCol), col(yCol), bits))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    path
  }

  /** Per-file (x, y) min/max stats of a written layout — the information a
    * format-level pruner (parquet footer, Delta file stats) keys on. Used
    * by LayoutSpec to score layouts; input_file_name() groups by physical
    * file without touching the format's metadata API.
    */
  def fileStats(spark: SparkSession, path: String, xCol: String,
                yCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(
        count(lit(1)).as("n"),
        min(xCol).as("min_x"), max(xCol).as("max_x"),
        min(yCol).as("min_y"), max(yCol).as("max_y"))

  /** Fraction of files a box query [x0,x1]×[y0,y1] cannot prune, given the
    * per-file stats — the metric that decides scan cost under a selective
    * 2-D predicate.
    */
  def unprunedFraction(stats: DataFrame, x0: Long, x1: Long, y0: Long,
                       y1: Long): Double = {
    val total = stats.count().toDouble
    val hit = stats.filter(
      col("max_x") >= x0 && col("min_x") <= x1 &&
      col("max_y") >= y0 && col("min_y") <= y1).count().toDouble
    if (total == 0) 0.0 else hit / total
  }

  // -------------------------------------------------------------------------
  // Small-file compaction
  // -------------------------------------------------------------------------

  /** Compact a fragmented parquet layout by SPLIT-PACKING, not shuffling:
    * the read is planned with `spark.sql.files.maxPartitionBytes` =
    * targetBytes and `openCostInBytes` = 0, so Spark's file-split planner
    * bin-packs the small files into ~target-sized read splits (first-fit
    * over size-sorted files — the same packing Delta/Iceberg OPTIMIZE
    * performs), and each split is written back as exactly one file.
    *
    * Why this shape at 100 TB: the streaming-ingest small-file problem
    * (every micro-batch emits a file per partition) degrades scan planning
    * and NameNode/listing pressure long before it degrades bytes. This
    * rewrite is a zero-shuffle, executor-parallel IO pass — cost = one
    * read + one write of the data, no sort, no exchange, no driver-side
    * file list beyond what planning already does.
    */
  def compactSmallFiles(spark: SparkSession, src: String, dst: String,
                        targetBytes: Long): Unit = {
    // A CLONED session shares the SparkContext and catalog but has its own
    // runtime SQLConf, so the split-planning overrides below are invisible
    // to queries planned concurrently on the caller's session (mutating the
    // shared conf would silently change their file-split planning).
    val iso = spark.newSession()
    iso.conf.set("spark.sql.files.maxPartitionBytes", targetBytes.toString)
    iso.conf.set("spark.sql.files.openCostInBytes", "0")
    iso.read.parquet(src).write.mode("overwrite").parquet(dst)
  }

  /** Registered query (q136): fragment the events relation into 48 tiny
    * files (the streaming-ingest pathology), compact it, and aggregate the
    * COMPACTED copy (both stored once per source fingerprint); the oracle
    * aggregates the original — hash equality proves the rewrite
    * preserved every row and value. File-count mechanics are pinned in
    * LayoutSpec (they are filesystem facts, not SQL).
    */
  def compactionGate(spark: SparkSession, dir: String): DataFrame = {
    val src = java.nio.file.Paths.get(dir, "events.parquet")
    val frag = Tables.materializedPath(src, "compact_events_fragmented")(tmp =>
      Tables.events(spark, dir).repartition(48).write.parquet(tmp.toString))
    val compacted = Tables.materializedPath(src, "compact_events_compacted")(tmp =>
      compactSmallFiles(spark, frag.toString, tmp.toString, 32L * 1024 * 1024))
    import graft.functions.Fx._
    spark.read.parquet(compacted.toString)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        rd(exactSum(col("value")), 4).as("sum_value"))
      .orderBy("event_type")
  }
}
