package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpecBase {
  import spark.implicits._

  test("zValue interleaves bits (known Morton pairs)") {
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (7L, 0L), (0L, 7L),
        (5L, 3L), (1023L, 1023L))
      .toDF("x", "y")
      .select(col("x"), col("y"), Layout.zValue(col("x"), col("y"), 16).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def morton(x: Long, y: Long): Long =
      (0 until 16).foldLeft(0L)((a, i) =>
        a | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
    assert(out((0L, 0L)) == 0L)
    assert(out((1L, 0L)) == 1L)
    assert(out((0L, 1L)) == 2L)
    assert(out((1L, 1L)) == 3L)
    out.foreach { case ((x, y), z) => assert(z == morton(x, y)) }
  }

  test("z-order is locality-preserving: cell envelopes are bounded quadrants") {
    val prof = Layout.zorderProfile(spark, "/root/testdata/sf0.001").collect()
    assert(prof.nonEmpty)
    // with cellBits=8 over 11-bit keys, 14 interleaved bits sit below the
    // cut: 7 of x and 7 of y — every cell envelope is bounded by 2^7 on
    // BOTH axes
    assert(prof.length > 3)
    prof.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) < (1L << 7), s"x envelope too wide: $r")
      assert(r.getLong(5) - r.getLong(4) < (1L << 7), s"y envelope too wide: $r")
    }
  }

  test("z-ordered files prune a 2-D box query that a 1-D sort cannot") {
    // synthetic uniform grid: both dimensions independent, 64k rows
    val n = 1 << 16
    val df = spark.range(n.toLong)
      .select(
        (col("id") * 2654435761L % 2048).as("x"),
        (col("id") * 40503L % 2048).as("y"))
    val base = tempDir("graft_layout").toString
    val zPath = Layout.writeZOrdered(df, "x", "y", s"$base/z", bits = 11, partitions = 64)
    // the 1-D baseline: same file count, total order on x alone
    df.repartitionByRange(64, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$base/linear")

    val zStats = Layout.fileStats(spark, zPath, "x", "y")
    val lStats = Layout.fileStats(spark, s"$base/linear", "x", "y")
    // a selective box in BOTH dimensions: 1/8 of each axis
    val zFrac = Layout.unprunedFraction(zStats, 256, 511, 1024, 1279)
    val lFrac = Layout.unprunedFraction(lStats, 256, 511, 1024, 1279)
    // x-sorted layout prunes on x only: every file containing x∈[256,511]
    // spans all y, so ~1/8 of files survive; z-order bounds both axes and
    // must do strictly better — and the x-restriction alone caps z too
    assert(zFrac < lFrac, s"z=$zFrac linear=$lFrac")
    assert(zFrac <= 0.25, s"z-order pruned too little: $zFrac")
  }

  test("writeZOrdered round-trips the data unchanged") {
    val df = spark.range(1000)
      .select((col("id") % 100).as("x"), (col("id") % 37).as("y"), col("id"))
    val p = tempDir("graft_zrt").toString + "/d"
    Layout.writeZOrdered(df, "x", "y", p, bits = 7, partitions = 4)
    val back = spark.read.parquet(p)
    assert(back.count() == 1000)
    assert(back.columns.sorted.toSeq == Seq("id", "x", "y"))
    assert(back.agg(sum("id")).head.getLong(0) == (0L until 1000L).sum)
  }

  private def parquetFiles(p: String): Array[java.io.File] =
    new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))

  test("compaction packs many small files into few, losslessly") {
    val tmp = tempDir("graft_cpt").toString
    val src = spark.range(50000)
      .select(col("id"), (col("id") % 97).as("k"), rand(7).as("v"))
    src.repartition(40).write.parquet(s"$tmp/frag")
    assert(parquetFiles(s"$tmp/frag").length == 40)
    Layout.compactSmallFiles(spark, s"$tmp/frag", s"$tmp/out", 512L * 1024 * 1024)
    val outFiles = parquetFiles(s"$tmp/out")
    assert(outFiles.length < 40, s"still ${outFiles.length} files")
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("compaction respects the target size: big data stays multi-file") {
    val tmp = tempDir("graft_cpt2").toString
    // ~40 input files; a target well below the total must keep >1 output
    val src = spark.range(200000)
      .select(col("id"), concat(lit("payload-"), col("id")).as("s"), rand(11).as("v"))
    src.repartition(40).write.parquet(s"$tmp/frag")
    val totalBytes = parquetFiles(s"$tmp/frag").map(_.length()).sum
    Layout.compactSmallFiles(spark, s"$tmp/frag", s"$tmp/out", totalBytes / 4)
    val n = parquetFiles(s"$tmp/out").length
    assert(n > 1 && n < 40, s"expected 1 < n < 40 files at target total/4, got $n")
    assert(spark.read.parquet(s"$tmp/out").count() == 200000)
  }

  test("compaction gate reuses the fingerprinted materialization") {
    val out1 = Layout.compactionGate(spark, sf).collect()
    def entries() = storedEntries(java.nio.file.Paths.get(sf, "events.parquet"),
      "compact_events_fragmented", "compact_events_compacted")
    val before = entries()
    val out2 = Layout.compactionGate(spark, sf).collect()
    assert(entries() == before, "the second call must build nothing")
    assert(out1.toSeq == out2.toSeq)
    val n = graft.sources.Tables.events(spark, sf).count()
    assert(out1.map(_.getLong(1)).sum == n)
  }
}
