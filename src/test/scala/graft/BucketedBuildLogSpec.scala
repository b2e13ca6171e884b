package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.sources.Tables
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** A bucketed store build writes through `saveAsTable`, which resolves its
  * output as a relation right after the write: the temp it writes to must
  * not be a name Spark skips as hidden.
  */
class BucketedBuildLogSpec extends SparkSpecBase {

  /** The WARN messages logged while `f` runs. */
  private def warnings(f: => Unit): Seq[String] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("bucketed-build-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN) got.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LoggerContext.getContext(false).getRootLogger
    logger.addAppender(appender)
    try f finally { logger.removeAppender(appender); appender.stop() }
    got.toArray(Array.empty[String]).toSeq
  }

  test("a bucketed build logs no `All paths were ignored` WARN and leaves no staging behind") {
    import spark.implicits._
    val name = "bkt_spec_quiet_build"
    val src = java.nio.file.Paths.get(sf, "orders.parquet")
    val logged = warnings {
      Tables.bucketedMvPath(spark, src, name, 4, Seq("k"), Seq("k"), refresh = true) {
        Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      }
    }
    assert(!logged.exists(_.contains("All paths were ignored")), logged.mkString("\n"))
    assert(Tables.bucketedMv(spark, src, name, 4, Seq("k"), Seq("k")) {
      sys.error("must not rebuild on a published MV")
    }.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    val l = Files.list(Tables.mvRoot())
    val staging = try l.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(s".${name}_")).toList finally l.close()
    assert(staging.isEmpty, s"staging left behind: $staging")
  }
}
