package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every non-private, non-override member `def` in `src/main` is called
  * from `src/main`, `perfbench/src` or `tools/`, or is kept below with its
  * reason. A def that only specs call reproduces nothing: it is code the
  * engine must keep compiling and correct without any query, pipeline or
  * tool using it.
  *
  * A call is a mention on a code line (comment-only lines skipped) other
  * than the def's own line: in the def's own file, or in any file for a
  * class member, by name; elsewhere, for an object member, as
  * `Owner.name`, or by name in a file that imports `Owner._` or names it
  * in an `Owner.{…}` import. JVM entry points (`main(args: Array[String])`)
  * are called by the launcher.
  */
class LibrarySurfaceScanSpec extends AnyFunSuite {

  /** `Owner.name` → why it stays although nothing in the tree calls it. */
  private val keep: Map[String, String] = Map(
    "SparkEntry.entry" -> "the engine's entry contract: an external harness calls it by name",
    "Tables.readStagingJdbc" -> "the reference's Postgres boundary (COVERAGE S9)",
    "Tables.writeJdbc" -> "the reference's Postgres boundary (COVERAGE S9)",
    "Tables.writeJsonl" -> "the JSONL export half of the interchange boundary (COVERAGE S9)",
    "Tables.readStagingCsvDecimal" -> "the reference's NUMERIC staging read (COVERAGE S9)",
    "Report.writeTo" -> "the reference's report file boundary (COVERAGE S9)",
    "StreamingOps.parquetSink" -> "RecoverySpec's recovery contract: a durable caller-owned sink",
    "StreamingOps.latestSnapshot" -> "RecoverySpec's recovery contract: the parquetSink reader",
    "TextOps.lshCandidateQuality" -> "measurement probe behind DEDUP_QUALITY.md",
    "TextOps.lshMissedPairs" -> "measurement probe behind DEDUP_QUALITY.md",
    "TextOps.bloomPrefilterProfile" -> "pruning census of the Bloom prefilter, pinned by TextOpsSpec invariants",
    "TextOps.minHashSignatures" -> "per-row reference the MinHash signature forms are checked against",
    "Similarity.semanticAssignment" -> "SemDeDupMissSpec's probe curve",
    "Similarity.semanticAssignmentMulti" -> "SemDeDupMissSpec's probe curve",
    "Similarity.semanticAssignmentMargin" -> "SemDeDupMissSpec's probe curve",
    "Similarity.multiProbeDropped" -> "SemDeDupMissSpec's probe curve",
    "Similarity.pqCodebookDrift" -> "measurement probe behind the fixed-books PQ policy",
    "Layout.writeZOrdered" -> "LayoutSpec's z-order vs linear file-pruning measurement",
    "Layout.fileStats" -> "LayoutSpec's z-order vs linear file-pruning measurement",
    "Layout.unprunedFraction" -> "LayoutSpec's z-order vs linear file-pruning measurement",
    "TextFunctions.nfd" -> "the four-form contract of UnicodeNormalize",
    "TextFunctions.nfkc" -> "the four-form contract of UnicodeNormalize",
    "TextFunctions.nfkd" -> "the four-form contract of UnicodeNormalize")

  private val root = Paths.get(sys.props("user.dir"))

  private def scalaFiles(d: Path): Seq[Path] =
    if (!Files.isDirectory(d)) Nil
    else {
      val walk = Files.walk(d)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }

  private val ident = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val qualifiedRe = """([A-Za-z_][A-Za-z0-9_]*)(?=\s*\.\s*([A-Za-z_][A-Za-z0-9_]*))""".r
  private val wildcardRe = """import\s+[\w.]*?\b(\w+)\._""".r
  private val selectorRe = """import\s+[\w.]*?\b(\w+)\.\{([^}]*)\}""".r
  private val ownerRe =
    """^(\s*)(?:(?:private|protected|final|sealed|abstract|implicit|case)(?:\[\w+\])?\s+)*(object|class|trait)\s+(\w+).*""".r
  private val defRe =
    """^(\s*)((?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|implicit\s+|override\s+|@\w+\s+)*)def\s+([A-Za-z_][A-Za-z0-9_]*).*""".r

  private def isCode(line: String): Boolean = {
    val t = line.trim
    !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
  }

  /** One scanned file's code lines, reduced to what a call can look like. */
  private final class Src(val path: Path) {
    val lines: IndexedSeq[String] = Files.readAllLines(path).asScala.toIndexedSeq
    private val code = lines.filter(isCode)
    val tokens: Map[String, Int] =
      code.flatMap(ident.findAllIn(_)).groupBy(identity).map { case (k, v) => k -> v.size }
    val qualified: Set[(String, String)] =
      code.flatMap(l => qualifiedRe.findAllMatchIn(l).map(m => (m.group(1), m.group(2)))).toSet
    val wildcards: Set[String] = code.flatMap(l => wildcardRe.findAllMatchIn(l).map(_.group(1))).toSet
    val selectors: Set[(String, String)] = code.flatMap { l =>
      selectorRe.findAllMatchIn(l).flatMap { m =>
        m.group(2).split(",").map(_.trim.split("\\s")(0)).map(m.group(1) -> _)
      }
    }.toSet
  }

  private final case class Member(src: Src, line: Int, kind: String, owner: String, name: String) {
    def key = s"$owner.$name"
    def where = s"$key (${root.relativize(src.path)}:${line + 1})"
  }

  private lazy val (mainSrcs, callerSrcs) = {
    val main = scalaFiles(root.resolve("src/main/scala")).map(new Src(_))
    val others = Seq("perfbench/src", "tools").flatMap(d => scalaFiles(root.resolve(d))).map(new Src(_))
    (main, main ++ others)
  }

  /** Every def declared directly in an object, class or trait body (not a
    * local def), with the modifiers on its line. */
  private lazy val members: Seq[(Member, String)] = mainSrcs.flatMap { src =>
    var owners = List.empty[(Int, String, String)] // (indent, kind, name), innermost first
    src.lines.zipWithIndex.flatMap { case (l, i) =>
      l match {
        case ownerRe(ind, kind, name) =>
          owners = (ind.length, kind, name) :: owners.filter(_._1 < ind.length)
          None
        case defRe(ind, mods, name) =>
          owners.find(_._1 < ind.length).filter(_._1 + 2 == ind.length)
            .map { case (_, kind, owner) => (Member(src, i, kind, owner, name), mods) }
        case _ => None
      }
    }
  }

  private def called(m: Member): Boolean = callerSrcs.exists { s =>
    val n = s.tokens.getOrElse(m.name, 0)
    if (s eq m.src)
      n > ident.findAllIn(s.lines(m.line)).count(_ == m.name)
    else if (m.kind != "object") n > 0
    else s.qualified((m.owner, m.name)) ||
      (n > 0 && (s.wildcards(m.owner) || s.selectors((m.owner, m.name))))
  }

  private lazy val surface: Seq[Member] = members.collect {
    case (m, mods) if !("""\bprivate\b(?!\[)""".r.findFirstIn(mods).isDefined ||
      mods.contains("override") ||
      (m.name == "main" && m.src.lines(m.line).contains("Array[String]"))) => m
  }

  test("every public def in src/main is called from src/main, perfbench/src or tools/, or kept with a reason") {
    assert(mainSrcs.size >= 40, s"source scan found too few files under $root/src/main/scala")
    assert(surface.size >= 500, s"source scan found too few defs: ${surface.size}")
    val uncalled = surface.filterNot(m => keep.contains(m.key) || called(m))
    if (uncalled.nonEmpty) fail(uncalled.map(_.where)
      .mkString("defs no code in the tree calls (call, delete or keep with a reason):\n", "\n", ""))
  }

  test("the keep-list names only existing defs that nothing calls") {
    val byKey = surface.groupBy(_.key)
    val missing = keep.keySet.filterNot(byKey.contains)
    assert(missing.isEmpty, s"keep-list names no def in src/main: $missing")
    val nowCalled = keep.keySet.filter(k => byKey(k).exists(called))
    assert(nowCalled.isEmpty, s"kept defs are called now, drop them from the keep-list: $nowCalled")
  }
}
