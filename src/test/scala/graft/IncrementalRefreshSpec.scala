package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Refresh semantics of the written tables: a static overwrite truncates
  * every partition, and the maintenance chains tolerate replayed batches.
  */
class IncrementalRefreshSpec extends SparkSpecBase {
  import spark.implicits._

  test("static overwrite (the non-incremental path) truncates everything") {
    val out = tempDir("graft_incr2").toString + "/t"
    Tables.overwrite(Seq((2023, 1L)).toDF("ano", "v"), out, Seq("ano"))
    Tables.overwrite(Seq((2024, 2L)).toDF("ano", "v"), out, Seq("ano"))
    assert(spark.read.parquet(out).select("ano").distinct().count() == 1)
  }

  // --- q236 maintenance-chain replay idempotence (round-16, VERDICT r15
  // item 1): foreachBatch is at-least-once, so the per-batch merge body must
  // tolerate REPLAYED batchIds without double-applying the delta. The spec
  // drives the factored body directly through every replay window the
  // verdict names: replay before offset commit, and replay AFTER retention
  // has dropped the predecessor publish (the window where only the
  // published-skip path can save the chain).

  test("sym-merge chain: replayed batches skip the merge — final MV == full rebuild") {
    import graft.operators.GraphOps
    import graft.streaming.StreamingOps
    val srcPath = java.nio.file.Paths.get(sf, "lineitem.parquet")
    val baseName = "test_replay_base"
    val chain = "test_replay_chain"
    val bkt = Seq("u", "v")
    def li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    Tables.dropBucketedMv(spark, srcPath, baseName)
    Tables.resetChain(spark, srcPath, chain)
    try {
      Tables.bucketedMv(spark, srcPath, baseName, 32, bkt, bkt)(
        GraphOps.symmetrizeWithDegrees(
          GraphOps.copurchaseEdgesOf(li.filter(col("ok") % 10 =!= 0)))): Unit
      val b0 = li.filter(col("ok") % 20 === 0)
      val b1 = li.filter(col("ok") % 10 === 0 && col("ok") % 20 =!= 0)
      def snap(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
        df.select(col("u").cast("long"), col("v").cast("long"),
            col("w").cast("long"), col("deg_u").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSeq.sorted
      // retain = 1: the single-reader configuration, so the test reaches
      // the replay-after-retention-drop crash window below
      StreamingOps.applySymMergeBatch(spark, srcPath, baseName, chain, 0L, b0,
        retain = 1)
      val afterFirst = snap(Tables.chainLatest(spark, srcPath, chain, 32, bkt, bkt).get)
      // replay of batch 0: failure landed between republish and offset commit
      StreamingOps.applySymMergeBatch(spark, srcPath, baseName, chain, 0L, b0,
        retain = 1)
      assert(snap(Tables.chainLatest(spark, srcPath, chain, 32, bkt, bkt).get) == afterFirst,
        "replayed batch 0 double-applied its delta")
      StreamingOps.applySymMergeBatch(spark, srcPath, baseName, chain, 1L, b1,
        retain = 1)
      // retention has now dropped step 0 — replay batch 1 into that window
      assert(Tables.chainPublishedIds(srcPath, chain) == Seq(1L),
        "retention should keep exactly the newest publish")
      StreamingOps.applySymMergeBatch(spark, srcPath, baseName, chain, 1L, b1,
        retain = 1)
      val got = snap(Tables.chainLatest(spark, srcPath, chain, 32, bkt, bkt).get)
      val want = snap(GraphOps.symmetrizeWithDegrees(GraphOps.copurchaseEdgesOf(li)))
      assert(got == want, "chain after replays != full rebuild")
      assert(Tables.chainPublishedIds(srcPath, chain) == Seq(1L))
    } finally {
      Tables.resetChain(spark, srcPath, chain)
      Tables.dropBucketedMv(spark, srcPath, baseName)
    }
  }

  test("chainStep: batchId gaps (skipped empty batches) resolve the predecessor from the durable listing") {
    import spark.implicits._
    val srcPath = java.nio.file.Paths.get(sf, "part.parquet")
    val chain = "test_gap_chain"
    val bkt = Seq("k")
    val srt = Seq("k", "v")
    Tables.resetChain(spark, srcPath, chain)
    try {
      // batch 0 publishes; batch 1 was EMPTY and never stepped; batch 2
      // must merge against b0 (greatest published id < 2), not a
      // nonexistent b1
      Tables.chainStep(spark, srcPath, chain, 0L, 4, bkt, srt, retain = 1) { prev =>
        assert(prev.isEmpty, "first step must see no predecessor")
        Seq((1L, 10L)).toDF("k", "v")
      }
      Tables.chainStep(spark, srcPath, chain, 2L, 4, bkt, srt, retain = 1) { prev =>
        assert(prev.isDefined, "gap step must find the b0 publish")
        prev.get.union(Seq((2L, 20L)).toDF("k", "v"))
      }
      assert(Tables.chainPublishedIds(srcPath, chain) == Seq(2L),
        "retention should drop b0 once b2 is durable")
      val rows = Tables.chainLatest(spark, srcPath, chain, 4, bkt, srt).get
        .select("k", "v").as[(Long, Long)].collect().toSet
      assert(rows == Set((1L, 10L), (2L, 20L)))
      // replay of the gap step after retention: published-skip, no rebuild
      Tables.chainStep(spark, srcPath, chain, 2L, 4, bkt, srt, retain = 1) { _ =>
        fail("replayed step must not rebuild"); null
      }
    } finally Tables.resetChain(spark, srcPath, chain)
  }

  // --- chainStep retention knob (round-17, VERDICT r16 item 3): the
  // default retain = 2 keeps the predecessor publish intact through a
  // republish, so a reader that resolved the previous step just before the
  // writer's chainStep still scans a live directory.
  test("chainStep retain=2: predecessor survives a republish and a held reader path still scans") {
    import spark.implicits._
    val srcPath = java.nio.file.Paths.get(sf, "part.parquet")
    val chain = "test_retain_chain"
    val bkt = Seq("k")
    val srt = Seq("k", "v")
    Tables.resetChain(spark, srcPath, chain)
    try {
      Tables.chainStep(spark, srcPath, chain, 0L, 4, bkt, srt)(_ =>
        Seq((1L, 10L)).toDF("k", "v"))
      // a concurrent reader resolves the CURRENT latest publish (b0)...
      val readerPath = Tables.publishedMvPath(srcPath, s"${chain}_b0").get
      Tables.chainStep(spark, srcPath, chain, 1L, 4, bkt, srt)(p =>
        p.get.union(Seq((2L, 20L)).toDF("k", "v")))
      // ...the writer republished (b1), and the reader's held path still
      // scans: retention kept the predecessor
      assert(Tables.chainPublishedIds(srcPath, chain) == Seq(0L, 1L),
        "retain=2 must keep the newest publish plus its predecessor")
      val held = spark.read.parquet(readerPath.toString)
        .select("k", "v").as[(Long, Long)].collect().toSet
      assert(held == Set((1L, 10L)), "reader holding the superseded publish lost data")
      // the NEXT step vacuums b0: live publishes stay pinned at retain
      Tables.chainStep(spark, srcPath, chain, 2L, 4, bkt, srt)(p =>
        p.get.union(Seq((3L, 30L)).toDF("k", "v")))
      assert(Tables.chainPublishedIds(srcPath, chain) == Seq(1L, 2L),
        "retention beyond retain=2 must vacuum the oldest publish")
      val rows = Tables.chainLatest(spark, srcPath, chain, 4, bkt, srt).get
        .select("k", "v").as[(Long, Long)].collect().toSet
      assert(rows == Set((1L, 10L), (2L, 20L), (3L, 30L)))
    } finally Tables.resetChain(spark, srcPath, chain)
  }
}
