package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs. One JVM-wide session (getOrCreate) so
  * the suite doesn't pay session startup per spec class. It installs
  * [[graft.GraftExtensions]] the way a deployment does, so the engine's SQL
  * names resolve in every spec.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  lazy val sf: String = "/root/testdata/sf0.001"

  protected def tempDir(prefix: String): java.nio.file.Path = SparkSpecBase.tempDir(prefix)

  /** Jobs the calling thread submits while `f` runs. */
  protected def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val (key, tag) = ("graft.spec.jobCount", s"run-${System.nanoTime()}")
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try f
    finally {
      sc.setLocalProperty(key, null)
      TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** Directory, file names and marker mtime of each published store entry
    * `names` of `src` — a rebuild lands new part files (new write-job ids)
    * and a new marker, so two equal snapshots mean nothing was rebuilt. */
  protected def storedEntries(src: java.nio.file.Path, names: String*) =
    names.map { n =>
      import java.nio.file.Files
      val dir = graft.sources.Tables.publishedMvPath(src, n)
        .getOrElse(fail(s"$n is not stored"))
      val l = Files.list(dir)
      val files = try l.toArray.map(_.toString).filterNot(_.endsWith("_SUPERSEDED")).toSet
        finally l.close()
      (dir, files, Files.getLastModifiedTime(dir.resolve("_SUCCESS")).toMillis)
    }
}

object SparkSpecBase {
  private val scratch = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val deleteScratchOnExit: Unit = sys.addShutdownHook(
    scratch.forEach(d => scala.util.Try(graft.sources.Formats.deleteRecursively(d))))

  /** A new directory under `java.io.tmpdir`, deleted with its contents when
    * the JVM exits: every spec's scratch space comes from here. */
  def tempDir(prefix: String): java.nio.file.Path = {
    deleteScratchOnExit
    val d = java.nio.file.Files.createTempDirectory(prefix)
    scratch.add(d)
    d
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
