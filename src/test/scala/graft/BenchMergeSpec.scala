package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench2 merge-eligibility contract (ADVICE r8): an external
  * merged file only folds into Bench's min when source AND data fingerprints
  * match and the external run was clean — a query that threw in a bench2
  * pass records a fast-failure wall time that must never win a published
  * minimum. Pure-function tests over [[Bench.parseBenchLine]] and
  * [[Bench.dataSha]]; the fold predicate itself is exercised through the
  * same parsed fields Bench.main matches on.
  */
class BenchMergeSpec extends AnyFunSuite {

  private val clean =
    """{"metric":"total","value":3.5,"unit":"sec","queries":{"q1":1.5,"q2":2.0},"errors":{},"sf":"/d/sf0.1","protocol":"p","runs":2,"src_sha":"ab12","data_sha":"cd34"}"""

  test("parseBenchLine extracts queries, fingerprints, runs, and an empty errors map") {
    val line = Bench.parseBenchLine(clean).get
    assert(line.queries == Map("q1" -> 1.5, "q2" -> 2.0))
    assert(line.errorKeys.isEmpty)
    assert(line.sf == "/d/sf0.1" && line.srcSha == "ab12" && line.dataSha == "cd34" && line.runs == 2)
  }

  test("an errored query in the external file is surfaced, disqualifying the merge") {
    val errored = clean.replace(""""errors":{}""",
      """"errors":{"q2":"java.lang.RuntimeException: boom"}""")
    val line = Bench.parseBenchLine(errored).get
    // q2's fast-failure 2.0s is still parsed, but its presence in errorKeys
    // is what Bench.main's merge guard rejects on
    assert(line.errorKeys == Set("q2") && line.queries.contains("q2"))
  }

  test("round-12 provenance fields (host_canary_sec, filter) do not disturb the parser") {
    val r12 = clean.replace(""","src_sha"""",
      ""","host_canary_sec":0.592,"filter":"none","src_sha"""")
    val line = Bench.parseBenchLine(r12).get
    assert(line.queries == Map("q1" -> 1.5, "q2" -> 2.0))
    assert(line.srcSha == "ab12" && line.dataSha == "cd34" && line.runs == 2,
      "new top-level fields must not break merge-eligibility parsing")
  }

  test("a pre-data_sha merged file parses with an empty data fingerprint (never merge-eligible)") {
    val legacy = clean.replace(""","data_sha":"cd34"""", "")
    val line = Bench.parseBenchLine(legacy).get
    assert(line.dataSha == "")
  }

  test("dataSha flips when a file's size or mtime changes, and is stable otherwise") {
    val dir = SparkSpecBase.tempDir("graft_datasha")
    val f = dir.resolve("t.parquet")
    java.nio.file.Files.writeString(f, "aaaa")
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L))
    val a = Bench.dataSha(dir.toString)
    val b = Bench.dataSha(dir.toString)
    assert(a == b && a != "unknown")
    // same byte length, different mtime — the replica-rebuild-at-same-path case
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(1700000001000L))
    val c = Bench.dataSha(dir.toString)
    assert(c != a)
    java.nio.file.Files.writeString(f, "aaaaaa")
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(1700000001000L))
    assert(Bench.dataSha(dir.toString) != c)
    assert(Bench.dataSha(dir.resolve("missing").toString) == "unknown")
  }
}
