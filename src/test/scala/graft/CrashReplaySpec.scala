package graft

import java.nio.file.Files

import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** CRASH-INJECTION replay proofs through Spark's REAL commit machinery
  * (round-18 — VERDICT r17 item 1): the round-17 idempotence specs invoke a
  * gate body twice at the same batchId, which proves the GUARD's logic but
  * not the actual offset-log/commit-log replay path. Here the foreachBatch
  * body THROWS after the idempotent sink / chain landing of batch k — the
  * exact at-least-once window (work durable, micro-batch commit missing) —
  * the query dies mid-lifecycle, and a SECOND query restarted from the SAME
  * checkpoint must leave the final emitted relation byte-identical to an
  * uninterrupted run: Spark's MicroBatchExecution re-runs the uncommitted
  * batch with the SAME batchId and the SAME recorded file offsets, and the
  * guard absorbs the duplicate landing.
  *
  * One spec per guard family: a cleaner-gate body (q220's span-cut
  * cleaner via [[StreamingOps.idempotentBatchSink]]) and a chain gate (q244's
  * [[graft.operators.Similarity.applySemDedupBatch]] via
  * [[graft.sources.Tables.chainStep]]).
  */
class CrashReplaySpec extends SparkSpecBase {
  import spark.implicits._

  /** Marker for the injected mid-lifecycle crash — its distinct type is
    * asserted on so a genuine failure cannot masquerade as the injection. */
  private final class InjectedCrash extends RuntimeException("injected crash")

  /** Run one AvailableNow lifecycle over `split` (one file per trigger —
    * the gate grain), applying `body` per non-empty micro-batch; when
    * `crashAfter` names a batchId, throw AFTER body returns for that batch
    * — the landing is durable, the commit-log entry is not. Returns true
    * if the lifecycle completed, false if it died on the injection. */
  private def lifecycle(split: String, ckpt: String,
                        crashAfter: Option[Long])
                       (body: (DataFrame, Long) => Unit): Boolean = {
    var injected = false
    val q = StreamingOps.splitStream(spark, split)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (!b.isEmpty) {
          body(b, id)
          if (crashAfter.contains(id)) { injected = true; throw new InjectedCrash }
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    try { q.awaitTermination(); true }
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        // only the injected crash is an expected death
        def isInjected(t: Throwable): Boolean =
          t != null && (t.isInstanceOf[InjectedCrash] || isInjected(t.getCause))
        assert(injected && isInjected(e), s"unexpected query failure: $e")
        false
    } finally q.stop()
  }

  /** Two parquet files so AvailableNow + maxFilesPerTrigger=1 yields two
    * real micro-batches with durable offsets. */
  private def stageSplit(df: DataFrame, rangeCol: String): String = {
    val dir = tempDir("graft_crash_split").toString
    df.repartitionByRange(2, col(rangeCol)).write.mode("overwrite").parquet(dir)
    dir
  }

  test("cleaner gate: crash after the sink landing of batch k, restart from the SAME checkpoint — emitted relation identical to an uninterrupted run") {
    import graft.operators.TextOps
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").localCheckpoint(true)
    val dup = TextOps.dupShinglesFrom(docs).localCheckpoint(true)
    val split = stageSplit(docs, "doc_id")

    def body(out: String)(b: DataFrame, id: Long): Unit =
      StreamingOps.idempotentBatchSink(TextOps.spanCutCleanAgainst(b, dup), id, out)
    def landed(out: String): Seq[(Long, Long, Long, Long, String)] =
      spark.read.parquet(out).drop("_batch_id")
        .select("doc_id", "n_tokens", "n_removed", "n_kept", "kept_digest")
        .as[(Long, Long, Long, Long, String)].collect().sorted.toSeq
    def batchIds(out: String): Set[Long] =
      spark.read.parquet(out).select("_batch_id").distinct()
        .as[Long].collect().toSet

    val root = tempDir("graft_crash_cleaner")
    val (outC, ckptC) = (s"$root/out_c", s"$root/ckpt_c")
    val (outU, ckptU) = (s"$root/out_u", s"$root/ckpt_u")

    // crashed lifecycle: batch 1's sink landing is durable, its commit is not
    assert(!lifecycle(split, ckptC, crashAfter = Some(1L))(body(outC)),
      "lifecycle should have died on the injected crash")
    assert(batchIds(outC) == Set(0L, 1L),
      "the crash window requires batch 1's landing to be durable BEFORE the death")

    // restart from the SAME checkpoint: Spark replays batch 1 (offset log
    // has it, commit log does not) into the already-landed partition
    assert(lifecycle(split, ckptC, crashAfter = None)(body(outC)))

    // uninterrupted reference over the same split
    assert(lifecycle(split, ckptU, crashAfter = None)(body(outU)))

    assert(batchIds(outC) == batchIds(outU),
      "replay must reuse the crashed batch's id, not append a new one")
    val (crashed, clean) = (landed(outC), landed(outU))
    assert(crashed == clean,
      s"replayed lifecycle diverged from the uninterrupted run:\n$crashed\nvs\n$clean")
    // and both match the batch cleaner — the gate's standing contract
    val batchTwin = TextOps.spanCutCleanAgainst(docs, dup)
      .select("doc_id", "n_tokens", "n_removed", "n_kept", "kept_digest")
      .as[(Long, Long, Long, Long, String)].collect().sorted.toSeq
    assert(crashed == batchTwin, "streamed emission != batch cleaner")
  }

  test("chain gate: crash after the chain landing of batch k, restart from the SAME checkpoint — census and chainPublishedIds identical to an uninterrupted run") {
    import graft.operators.Similarity
    import graft.sources.Tables
    val src = java.nio.file.Paths.get(sf, "embeddings.parquet")
    val delta = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
    val split = stageSplit(delta, "vec_id")
    val inputs = Similarity.semDedupChainInputs(spark, sf)

    def body(chain: String)(b: DataFrame, id: Long): Unit =
      Similarity.applySemDedupBatch(b.sparkSession, sf, chain, id,
        b.select(col("vec_id"), col("embedding").cast("array<double>").as("e")),
        inputs)
    def census(chain: String): Seq[(Long, Long, Long, Long)] =
      Similarity.semDedupCensusOf(Tables.chainLatest(spark, src, chain,
          Similarity.IvfNCells, Seq("cell"), Seq("cell", "vec_id"))
        .getOrElse(sys.error(s"chain $chain published nothing")))
        .as[(Long, Long, Long, Long)].collect().toSeq

    val chainC = "semdedup_crash_replay"
    val chainU = "semdedup_crash_uninterrupted"
    Tables.resetChain(spark, src, chainC)
    Tables.resetChain(spark, src, chainU)
    val root = tempDir("graft_crash_chain")
    try {
      // crashed lifecycle: batch 1's chain publish is durable, commit is not
      assert(!lifecycle(split, s"$root/ckpt_c", Some(1L))(body(chainC)),
        "lifecycle should have died on the injected crash")
      assert(Tables.chainPublishedIds(src, chainC) == Seq(0L, 1L),
        "the crash window requires batch 1's publish to be durable BEFORE the death")
      // restart from the SAME checkpoint: batch 1 replays, chainStep's
      // batchId guard finds its own publish and skips the merge
      assert(lifecycle(split, s"$root/ckpt_c", None)(body(chainC)))
      // uninterrupted reference
      assert(lifecycle(split, s"$root/ckpt_u", None)(body(chainU)))

      assert(Tables.chainPublishedIds(src, chainC) ==
        Tables.chainPublishedIds(src, chainU),
        "replayed chain's published ids diverged from the uninterrupted run")
      val (crashed, clean) = (census(chainC), census(chainU))
      assert(crashed.nonEmpty && crashed == clean,
        s"replayed chain census diverged:\n$crashed\nvs\n$clean")
      // and the durable state matches the batch gate — the shared oracle
      val gate = Similarity.semanticDedupDurable(spark, sf)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(crashed == gate, "crash-replayed chain != batch q242 gate census")
    } finally {
      Tables.resetChain(spark, src, chainC)
      Tables.resetChain(spark, src, chainU)
    }
  }

  test("PQ chain gate (q248): crash after the code-table landing of batch k, restart from the SAME checkpoint — ADC probe and chainPublishedIds identical to an uninterrupted run") {
    import graft.operators.Similarity
    import graft.sources.Tables
    val src = java.nio.file.Paths.get(sf, "embeddings.parquet")
    val delta = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"))
    val split = stageSplit(delta, "vec_id")
    val inputs = Similarity.pqChainInputs(spark, sf)

    def body(chain: String)(b: DataFrame, id: Long): Unit =
      Similarity.applyPqBatch(b.sparkSession, sf, chain, id,
        b.select(col("vec_id"), col("embedding").cast("array<double>").as("e")),
        inputs)
    def probe(chain: String): Seq[(Long, Long, Long, Double)] =
      Similarity.pqChainProbe(spark, sf, chain)
        .as[(Long, Long, Long, Double)].collect().toSeq

    val chainC = "pq_crash_replay"
    val chainU = "pq_crash_uninterrupted"
    Tables.resetChain(spark, src, chainC)
    Tables.resetChain(spark, src, chainU)
    val root = tempDir("graft_crash_pq")
    try {
      // crashed lifecycle: batch 1's code-table publish is durable, the
      // micro-batch commit is not — the exact at-least-once window
      assert(!lifecycle(split, s"$root/ckpt_c", Some(1L))(body(chainC)),
        "lifecycle should have died on the injected crash")
      assert(Tables.chainPublishedIds(src, chainC) == Seq(0L, 1L),
        "the crash window requires batch 1's publish to be durable BEFORE the death")
      // restart from the SAME checkpoint: batch 1 replays, chainStep's
      // batchId guard finds its own publish and skips the re-encode —
      // a double landing would duplicate code rows and shift ADC ranks
      assert(lifecycle(split, s"$root/ckpt_c", None)(body(chainC)))
      // uninterrupted reference
      assert(lifecycle(split, s"$root/ckpt_u", None)(body(chainU)))

      assert(Tables.chainPublishedIds(src, chainC) ==
        Tables.chainPublishedIds(src, chainU),
        "replayed chain's published ids diverged from the uninterrupted run")
      val (crashed, clean) = (probe(chainC), probe(chainU))
      assert(crashed.nonEmpty && crashed == clean,
        s"replayed PQ chain probe diverged:\n$crashed\nvs\n$clean")
      // and the durable state matches the batch gate — the shared oracle
      val gate = Similarity.pqDurableRefresh(spark, sf)
        .as[(Long, Long, Long, Double)].collect().toSeq
      assert(crashed == gate, "crash-replayed PQ chain != batch q245 gate probe")
    } finally {
      Tables.resetChain(spark, src, chainC)
      Tables.resetChain(spark, src, chainU)
    }
  }
}
