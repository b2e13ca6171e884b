package graft

import java.nio.file.Files

import graft.queries.{NoOracle, QuerySpec, Sink, Sql}

/** Driver-contract integrity: the oracle map must reference real queries and
  * every query must at least pass analysis (schema resolution) — catches
  * renamed keys and unresolved-column typos without running the jobs. The
  * registry the contract is derived from keeps its declared shape, and the
  * mains' subset filter and dump loop fail loudly.
  */
class SparkEntrySpec extends SparkSpecBase {

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
  }

  test("every query analyzes against the testdata (schema resolves)") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { require(fn(spark, sf).schema.nonEmpty); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("entry returns at least one row (driver smoke contract)") {
    assert(SparkEntry.entry(spark).collect().nonEmpty)
  }

  test("query names are unique and stable-format qNN_*") {
    assert(SparkEntry.queries.keys.forall(_.matches("q\\d{2,3}_[a-z0-9_]+")))
  }

  test("the family lists declare 248 distinct names; 245 carry SQL oracles") {
    val names = Registry.specs.map(_.name)
    assert(names.size == 248 && names.distinct.size == 248)
    assert(SparkEntry.queries.size == 248 && SparkEntry.oracleSql.size == 245)
  }

  test("exactly the three sketch and xxhash64 queries carry NoOracle, each with a reason") {
    val noOracle = Registry.specs.collect { case QuerySpec(n, _, NoOracle(r), _) => n -> r }.toMap
    assert(noOracle.keySet == Set("q28_minhash_lsh", "q29_simhash", "q53_approx_stats"))
    assert(noOracle.values.forall(_.trim.nonEmpty))
  }

  test("the bench times exactly the eight cleaner queries to a parquet sink") {
    assert(Registry.specs.filter(_.measure == Sink).map(_.name).toSet == Set(
      "q214_span_cut", "q220_stream_span_cut", "q222_benchmark_decontam",
      "q226_chunk_dedup_clean", "q228_novelty_curve", "q230_stream_decontam",
      "q235_multibench_decontam", "q239_stream_multibench_decontam"))
  }

  test("SPARK_GRAFT_ONLY selects by name and throws, listing them, on names no query carries") {
    assert(Registry.only(Map.empty).isEmpty)
    val only = Registry.only(Map("SPARK_GRAFT_ONLY" -> "q02_pct_change, q01_daily_bars"))
    assert(Registry.selected(only).map(_.name) == Seq("q01_daily_bars", "q02_pct_change"))
    val typo = intercept[IllegalArgumentException](
      Registry.only(Map("SPARK_GRAFT_ONLY" -> "q01_daily_bars,q01_daly_bars,q999_none")))
    assert(typo.getMessage.contains("q01_daly_bars, q999_none"), typo.getMessage)
    intercept[IllegalArgumentException](Registry.only(Map("SPARK_GRAFT_ONLY" -> " , ")))
  }

  test("Verify.dump names each throwing query in failures.json and still dumps the rest") {
    val out = tempDir("graft_verify_dump")
    val ok = QuerySpec("q901_ok", (s, _) => s.range(3).toDF(), Sql("SELECT 1"))
    val atBuild = QuerySpec("q902_build_throws",
      (_, _) => throw new IllegalStateException("planted at build\nsecond line"), Sql("SELECT 2"))
    val atRun = QuerySpec("q903_run_throws",
      (s, _) => s.range(1).selectExpr("raise_error('planted at run') AS x"), NoOracle("planted"))
    val failures = Verify.dump(spark, Seq(ok, atBuild, atRun), sf, out.toString)
    assert(failures.keySet == Set("q902_build_throws", "q903_run_throws"))
    assert(failures("q902_build_throws") == "java.lang.IllegalStateException: planted at build")
    assert(failures("q903_run_throws").contains("planted at run"))
    val json = Files.readString(out.resolve("failures.json"))
    assert(json.startsWith("""{"q902_build_throws": "java.lang.IllegalStateException: planted at build","""), json)
    assert(json.contains("\"q903_run_throws\": ") && !json.contains("q901_ok"), json)
    assert(Files.exists(out.resolve("q901_ok").resolve("_SUCCESS")))
    assert(Files.readString(out.resolve("oracle_sql.json")) ==
      """{"q901_ok": "SELECT 1","q902_build_throws": "SELECT 2"}""")
  }
}
