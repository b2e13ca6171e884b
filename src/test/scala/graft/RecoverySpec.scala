package graft

import java.nio.file.Files

import graft.sources.Tables
import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Checkpoint-restart recovery: a streaming query stopped and relaunched
  * from the same checkpoint must (1) resume from the recorded OFFSETS —
  * never reprocessing already-committed input files — and (2) restore its
  * aggregation STATE, so running totals continue rather than restart from
  * zero. This is the failure-recovery contract a 1000-executor streaming
  * job actually lives by: drivers get preempted mid-run, and correctness
  * comes from the checkpoint, not from never crashing.
  */
class RecoverySpec extends SparkSpecBase {

  private lazy val events = Tables.events(spark, sf)

  /** Land a relation as ONE flat parquet file inside the watched dir (the
    * file source lists plain files, not subdirectories).
    */
  private def stage(df: DataFrame, inDir: String, name: String): Unit = {
    val staging = tempDir("graft_stage").toString
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = Files.list(java.nio.file.Paths.get(staging)).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).head
    Files.move(java.nio.file.Paths.get(part),
      java.nio.file.Paths.get(s"$inDir/$name"))
  }

  /** Running per-type counts over a file-source stream, upserted through
    * the engine's parquetSink, one AvailableNow lifecycle.
    */
  private def runOnce(inDir: String, out: String, ckpt: String): Unit = {
    val stream = spark.readStream.schema(events.schema).parquet(inDir)
    val agg = stream.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(pmod(col("ts_ns"), lit(1000000007L))).as("ns_sum"))
    val q = StreamingOps.parquetSink(agg, out, ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def snapshot(out: String): Map[String, (Long, Long)] =
    StreamingOps.latestSnapshot(spark.read.parquet(out), Seq("event_type"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("restart from checkpoint resumes offsets AND state") {
    val root = tempDir("graft_recovery").toString
    val inDir = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(inDir).mkdirs()

    val half1 = events.filter(col("event_id") % 2 === 0)
    val half2 = events.filter(col("event_id") % 2 === 1)
    stage(half1, inDir, "h1.parquet")

    runOnce(inDir, out, ckpt) // lifecycle 1: sees only h1, then terminates

    val afterFirst = snapshot(out)
    val expectHalf1 = half1.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(pmod(col("ts_ns"), lit(1000000007L))).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(afterFirst == expectHalf1)

    stage(half2, inDir, "h2.parquet")

    runOnce(inDir, out, ckpt) // lifecycle 2: SAME checkpoint, new process

    val finalSnap = snapshot(out)
    val expectAll = events.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(pmod(col("ts_ns"), lit(1000000007L))).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    // State recovered: totals continue from lifecycle 1 (a state loss would
    // leave only half2's counts); offsets recovered: h1 not re-added (a
    // replay would double-count half1 on top).
    assert(finalSnap == expectAll,
      s"recovered totals wrong:\n got $finalSnap\n want $expectAll")
  }

  test("maxFilesPerTrigger bounds micro-batches without changing results") {
    val root = tempDir("graft_rate").toString
    val inDir = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(inDir).mkdirs()
    (0 until 3).foreach(i =>
      stage(events.filter(col("event_id") % 3 === i), inDir, s"p$i.parquet"))
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val agg = stream.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(pmod(col("ts_ns"), lit(1000000007L))).as("ns_sum"))
    val q = StreamingOps.parquetSink(agg, out, ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // rate limit produced one micro-batch per file
    val batches = spark.read.parquet(out).select("_batch_id").distinct().count()
    assert(batches >= 3, s"expected >=3 rate-limited batches, got $batches")
    val expect = events.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(pmod(col("ts_ns"), lit(1000000007L))).as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(snapshot(out) == expect)
  }

  test("a replayed lifecycle with no new data changes nothing") {
    val root = tempDir("graft_recovery2").toString
    val inDir = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    new java.io.File(inDir).mkdirs()
    stage(events.limit(1000), inDir, "d.parquet")
    runOnce(inDir, out, ckpt)
    val first = snapshot(out)
    runOnce(inDir, out, ckpt) // no new files: must be a no-op
    assert(snapshot(out) == first)
  }
}
