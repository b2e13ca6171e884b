package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Operators, streaming and the pipeline runners take every setting as a
  * call parameter: no code under those packages may switch behaviour on a
  * `graft.*` session conf or a `SPARK_GRAFT_*` environment variable, which no
  * caller can see in a signature and no benchmark would select.
  */
class NoHiddenKnobSpec extends AnyFunSuite {

  private def dirs(names: String*): Seq[Path] =
    names.map(d => Paths.get(sys.props("user.dir"), "src", "main", "scala", "graft", d))

  private val confRead = """conf\b[^\n]*"graft\.""".r
  private val envRead = """"SPARK_GRAFT_\w*"""".r

  private def scalaFiles(d: Path): Seq[Path] = {
    val walk = Files.walk(d)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def hiddenKnobs(files: Seq[Path]): Seq[String] =
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if confRead.findFirstIn(line).isDefined || envRead.findFirstIn(line).isDefined
    } yield s"${f.getFileName}:${i + 1}: ${line.trim}"

  test("operators and streaming read no graft.* conf and no SPARK_GRAFT_* env var") {
    val scanned = dirs("operators", "streaming")
    val files = scanned.flatMap(scalaFiles)
    assert(files.size >= 10, s"source scan found too few files under $scanned")
    val hits = hiddenKnobs(files)
    assert(hits.isEmpty, hits.mkString("hidden knobs found:\n", "\n", ""))
  }

  test("pipeline runners read no graft.* conf and no SPARK_GRAFT_* env var") {
    val scanned = dirs("pipeline")
    val files = scanned.flatMap(scalaFiles)
    assert(files.size >= 2, s"source scan found too few files under $scanned")
    val hits = hiddenKnobs(files)
    assert(hits.isEmpty, hits.mkString("hidden knobs found:\n", "\n", ""))
  }
}
