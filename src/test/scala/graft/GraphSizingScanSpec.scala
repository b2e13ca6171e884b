package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The graph operators size their rounds by one rule,
  * `GraphOps.broadcastFits`: in `src/main` `BroadcastNodeLimit` is compared
  * only inside it, and `GraphOps` declares no `Option[Boolean]` parameter.
  * A per-operator override that no caller passes leaves a second way to
  * pick a branch, and a count job to feed the default.
  */
class GraphSizingScanSpec extends AnyFunSuite {

  private val main = Paths.get(sys.props("user.dir"), "src", "main", "scala")

  private def scalaFiles(d: Path): Seq[Path] = {
    val walk = Files.walk(d)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** (file, 0-based line) of every code line (comment-only lines skipped)
    * matching `re`. */
  private def hits(re: scala.util.matching.Regex, files: Seq[Path]): Seq[(Path, Int)] =
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")) &&
        re.findFirstIn(line).isDefined
    } yield (f, i)

  test("one sizing rule: BroadcastNodeLimit is compared only in broadcastFits, and GraphOps declares no Option[Boolean] parameter") {
    val files = scalaFiles(main)
    assert(files.size >= 10, s"source scan found too few files under $main")
    val ops = files.find(_.getFileName.toString == "GraphOps.scala")
      .getOrElse(fail("GraphOps.scala not found"))
    val lines = Files.readAllLines(ops).asScala
    val start = lines.indexWhere(_.contains("def broadcastFits("))
    assert(start >= 0, "GraphOps.broadcastFits not found")
    // the rule's body ends at the next member at the object's indentation
    val end = lines.indexWhere(_.matches("  \\S.*"), start + 1)
    def inRule(h: (Path, Int)) = h._1 == ops && h._2 > start && (end < 0 || h._2 < end)

    val compared = hits("""[<>]=?\s*BroadcastNodeLimit|BroadcastNodeLimit\s*[<>]""".r, files)
    assert(compared.size == 1 && compared.forall(inRule),
      s"BroadcastNodeLimit compared at $compared")
    val overrides = hits("""Option\[Boolean\]""".r, Seq(ops))
    assert(overrides.isEmpty, s"Option[Boolean] in GraphOps at lines ${overrides.map(_._2 + 1)}")
  }
}
