package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import graft.pipeline.CorpusPipeline
import graft.sources.Tables
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** `Tables.observedCount`: a row count that rides on another action, and
  * whose reader fails loudly when read before that action ran.
  */
class ObservedCountSpec extends SparkSpecBase {

  test("reading a count no action has run throws instead of blocking") {
    val (df, n) = Tables.observedCount(spark.range(10).toDF())
    // a blocking read would time the Await out instead of returning a failure
    val read = Await.result(Future(Try(n()))(ExecutionContext.global), 60.seconds)
    assert(read.failed.get.isInstanceOf[IllegalStateException])
    df.collect()
    assert(n().getLong(0) == 10L)
  }

  test("an empty relation reads 0") {
    val (df, n) = Tables.observedCount(spark.range(0).toDF())
    df.localCheckpoint()
    assert(n().getLong(0) == 0L)
  }

  test("a relation read through a join with an empty side still reads its own count") {
    // adaptive execution may drop the join, observed side included, once it
    // sees the empty side; the count must not read 0 then
    val (df, n) = Tables.observedCount(spark.range(10).toDF())
    assert(df.join(spark.range(20).filter("id > 100").toDF(), "id").collect().isEmpty)
    assert(n().getLong(0) == 10L)
  }

  test("a count observed on a cached relation is taken by the action that fills the cache") {
    val (df, n) = Tables.observedCount(spark.range(100).toDF())
    val cached = df.cache()
    try {
      assert(cached.filter("id % 2 = 0").count() == 50L)
      assert(n().getLong(0) == 100L)
    } finally cached.unpersist()
  }

  /** The WARN messages `Tables` logs while `f` runs. */
  private def tablesWarnings(f: => Unit): Seq[String] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("observed-count-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN) got.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LoggerContext.getContext(false).getLogger(Tables.getClass.getName)
    logger.addAppender(appender)
    try f finally { logger.removeAppender(appender); appender.stop() }
    got.toArray(Array.empty[String]).toSeq
  }

  test("an empty corpus reads 0 at every stage, and the recomputed observation logs a WARN naming it") {
    import spark.implicits._
    val dir = tempDir("graft_observed_empty").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(dir + "/documents.parquet")
    var counts = Seq.empty[Long]
    val warned = tablesWarnings {
      val r = CorpusPipeline.run(spark, dir)
      counts = Seq(r.nRaw, r.nQuality, r.nExactDeduped, r.nFinal)
    }
    assert(counts == Seq(0L, 0L, 0L, 0L))
    info(warned.mkString("\n"))
    assert(warned.nonEmpty && warned.forall(w =>
      w.startsWith("observedCount: observation ") && w.contains("count(1) AS n")), warned)
  }
}
