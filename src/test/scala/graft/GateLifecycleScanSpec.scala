package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The streaming gate lifecycle lives in one function,
  * `StreamingOps.runGate`: in `src/main` the AvailableNow trigger and the
  * state-store unload appear only there, and StreamingOps makes scratch
  * dirs only there. A hand-copied lifecycle drifts from it: of the copies it
  * replaced, one skipped the memory-sink drop when the query failed.
  */
class GateLifecycleScanSpec extends AnyFunSuite {

  private val main = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  private def scalaFiles(d: Path): Seq[Path] = {
    val walk = Files.walk(d)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** (file, 0-based line) of every code line (comment-only lines skipped)
    * containing `token`. */
  private def hits(token: String, files: Seq[Path]): Seq[(Path, Int)] =
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")) && line.contains(token)
    } yield (f, i)

  test("one gate lifecycle: AvailableNow, the state-store unload and StreamingOps' scratch dirs appear only in runGate") {
    val files = scalaFiles(main)
    assert(files.size >= 10, s"source scan found too few files under $main")
    val ops = files.find(_.getFileName.toString == "StreamingOps.scala")
      .getOrElse(fail("StreamingOps.scala not found"))
    val lines = Files.readAllLines(ops).asScala
    val start = lines.indexWhere(_.contains("def runGate["))
    assert(start >= 0, "StreamingOps.runGate not found")
    // runGate's body ends at the next member at the object's indentation
    val end = lines.indexWhere(_.matches("  \\S.*"), start + 1)
    def inRunGate(h: (Path, Int)) = h._1 == ops && h._2 > start && (end < 0 || h._2 < end)

    val trigger = hits("Trigger.AvailableNow()", files)
    assert(trigger.size == 1 && trigger.forall(inRunGate), s"Trigger.AvailableNow() at $trigger")
    val unload = hits("unloadAllStateStores()",
      files.filterNot(_.getFileName.toString == "SqlShim.scala"))
    assert(unload.size == 1 && unload.forall(inRunGate), s"unloadAllStateStores() at $unload")
    val scratch = hits("createTempDirectory", Seq(ops))
    assert(scratch.nonEmpty && scratch.forall(inRunGate),
      s"StreamingOps.createTempDirectory outside runGate at ${scratch.filterNot(inRunGate)}")
  }
}
