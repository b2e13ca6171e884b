package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Expectation-style data-quality checks (the reference's
  * `run_data_quality_checks` task and the `sql/quality_checks.sql` its README
  * promises but does not contain — reference `dags/financial_pipeline.py:126-136`,
  * `README.md:183`).
  *
  * Every check is ONE aggregation returning (check, passed, observed) rows —
  * fail-fast friendly (collect a handful of rows, `require` on them) and
  * scan-efficient: `checkAll` unions the row-level predicates into a single
  * pass over the table instead of one job per check.
  */
object Quality {

  final case class CheckResult(check: String, passed: Boolean, observed: Long)

  /** Staging expectation: the fields every downstream task keys or averages
    * on are present. The quality gate's `null_criticals` counts its violations.
    */
  val criticalNotNull: Column = col("close").isNotNull && col("date").isNotNull

  /** Staging expectation: the close lies inside the day's low–high range. */
  val ohlcBounds: Column =
    col("low") <= col("high") && col("close") >= col("low") && col("close") <= col("high")

  /** Aggregate counting the rows where `pred` does not hold; a NULL
    * predicate counts as a violation.
    */
  def violations(pred: Column): Column =
    sum(when(!coalesce(pred, lit(false)), 1L).otherwise(0L))

  /** The result of a check that `violations` rows failed. */
  def result(check: String, violations: Long): CheckResult =
    CheckResult(check, violations == 0L, violations)

  /** Row-level predicate checks evaluated in ONE scan: each entry is
    * (name, predicate that must hold for every row).
    */
  def checkAll(df: DataFrame, checks: Seq[(String, Column)]): Seq[CheckResult] = {
    val aggs = checks.map { case (name, pred) => violations(pred).as(name) }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    checks.zipWithIndex.map { case ((name, _), i) => result(name, row.getLong(i)) }
  }

  /** Exact row count (reference's COUNT(*) = 750000 gate). */
  def rowCount(df: DataFrame, expected: Long): CheckResult = {
    val n = df.count()
    CheckResult(s"row_count=$expected", n == expected, n)
  }

  /** Key uniqueness at the declared grain. */
  def uniqueKey(df: DataFrame, keyCols: Seq[String]): CheckResult = {
    val dups = df.groupBy(keyCols.map(col): _*).count()
      .filter(col("count") > 1).count()
    CheckResult(s"unique_key(${keyCols.mkString(",")})", dups == 0L, dups)
  }

  /** Referential integrity: every fact key resolves in the dimension
    * (left_anti count must be 0 — the FK declarations at reference
    * `dags/financial_pipeline.py:172-173` made Postgres enforce this).
    */
  def referentialIntegrity(fact: DataFrame, factKey: String,
                           dim: DataFrame, dimKey: String): CheckResult = {
    val orphans = fact.select(col(factKey))
      .join(broadcast(dim.select(col(dimKey))), col(factKey) === col(dimKey), "left_anti")
      .count()
    CheckResult(s"ref_integrity($factKey->$dimKey)", orphans == 0L, orphans)
  }

  /** Fail-fast runner: raises with every failed check listed. */
  def enforce(results: Seq[CheckResult]): Unit = {
    val failed = results.filterNot(_.passed)
    require(failed.isEmpty,
      "quality checks failed: " +
        failed.map(r => s"${r.check} (observed=${r.observed})").mkString("; "))
  }

  /** Deterministic corrupt-input fixture corpus for the quarantine gate:
    * a lenient-CSV load (5 clean rows, 2 with untypeable cells), a JSONL
    * corpus (4 clean lines, 3 broken), and a video dir (the 2 real AVI/MP4
    * containers beside 2 payloads with no recognizable container magic).
    * Same idempotent atomic-write contract as `Multimodal.ensureMediaFixtures`.
    */
  private[graft] def ensureQuarantineFixtures(): String = synchronized {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), "graft_quarantine_fixtures_v1")
    Files.createDirectories(dir)
    def place(name: String)(bytes: Array[Byte]): Unit = {
      val target = dir.resolve(name)
      if (!Files.exists(target)) {
        val tmp = dir.resolve(s".$name.tmp${System.nanoTime()}")
        Files.write(tmp, bytes)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      }
    }
    place("staging.csv")((
      "date,symbol,open,high,low,close,volume\n" +
      "2024-01-01,AAA,1.0,2.0,0.5,1.5,100\n" +
      "2024-01-02,AAA,1.5,2.5,1.0,2.0,200\n" +
      "2024-01-03,BBB,3.0,4.0,2.5,3.5,300\n" +
      "not-a-date,BBB,3.5,4.5,3.0,4.0,400\n" +      // untypeable date → quarantine
      "2024-01-04,CCC,5.0,6.0,4.5,5.5,five-hundred\n" + // untypeable volume → quarantine
      "2024-01-05,CCC,5.5,6.5,5.0,6.0,600\n" +
      "2024-01-06,DDD,7.0,8.0,6.5,7.5,700\n").getBytes("UTF-8"))
    place("docs.jsonl")((
      """{"doc_id": 1, "text": "alpha", "lang": "en", "source": "web", "n_chars": 5}""" + "\n" +
      """{"doc_id": 2, "text": "beta", "lang": "en", "source": "web", "n_chars": 4}""" + "\n" +
      """{"doc_id": 3, "text":""" + "\n" +                 // truncated object
      "this line is not json at all\n" +
      """{"doc_id": 4, "text": "gamma", "lang": "pt", "source": "book", "n_chars": 5}""" + "\n" +
      """{"doc_id": 5 "text": "missing comma"}""" + "\n" + // syntax error
      """{"doc_id": 6, "text": "delta", "lang": "pt", "source": "book", "n_chars": 5}""" + "\n").getBytes("UTF-8"))
    place("vid_ok.avi")(Multimodal.mkAviFixture(320, 240, usPerFrame = 40000, frames = 250))
    place("vid_ok.mp4")(Multimodal.mkMp4Fixture(640, 360, timescale = 600, duration = 1200, frames = 300))
    place("garbage.avi")(Array.tabulate[Byte](256)(i => ((i * 37 + 11) & 0xff).toByte))
    place("truncated.mp4")("RIFF????".getBytes("UTF-8")) // RIFF magic, no parseable header
    dir.toString
  }

  /** Corrupt-input quarantine profile (registered as q86): one row per
    * ingest surface with (clean, quarantined) counts over the deterministic
    * fixture corpus — the quarantine contract (malformed inputs are COUNTED,
    * never silently dropped and never job-fatal) as a hash-exact driver row.
    * Counts stay as Spark aggregations (one tiny scan per surface); expected
    * values are closed-form constants the DuckDB oracle states as literals,
    * the q80/q81 technique.
    */
  def quarantineProfile(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import graft.sources.Tables
    val dir = ensureQuarantineFixtures()
    val csv = Tables.readStagingCsvLenient(spark, s"$dir/staging.csv").cache()
    val csvRow = csv.agg(
      sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_clean"),
      sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_quarantined"))
      .select(lit("csv").as("source"), col("n_clean"), col("n_quarantined"))
    val (cleanJ, quarJ) = Tables.readDocumentsJsonl(spark, s"$dir/docs.jsonl")
    val jsonlRow = cleanJ.agg(count(lit(1)).as("n_clean"))
      .crossJoin(quarJ.agg(count(lit(1)).as("n_quarantined")))
      .select(lit("jsonl").as("source"), col("n_clean"), col("n_quarantined"))
    val videoRow = Multimodal.videoFeatures(spark, dir).agg(count(lit(1)).as("n_clean"))
      .crossJoin(Multimodal.videoQuarantine(spark, dir).agg(count(lit(1)).as("n_quarantined")))
      .select(lit("video").as("source"), col("n_clean"), col("n_quarantined"))
    csvRow.unionAll(jsonlRow).unionAll(videoRow).orderBy("source")
  }

  /** Generic one-pass column profiler (q192) — the Deequ/dbt-style table
    * summary: per column the row count, null count, EXACT distinct count,
    * and canonical min/max representations. Works on any DataFrame; the
    * gate profiles `orders`.
    *
    * Representations are made engine-canonical BY TYPE (raw double/
    * timestamp → string formatting differs between engines): doubles print
    * through round-at-6 DECIMAL(24,6) (fixed scale both sides), timestamps
    * through an explicit micro-second pattern, everything else through the
    * plain string cast that integers/varchars share.
    *
    * Scale shape: ONE aggregate over one scan. The multiple exact
    * count-distincts plan as a single Expand (one extra scan-width per
    * column) — the exactness trade-off the profiler wants at audit time;
    * continuous monitoring at 100 TB swaps in approx_count_distinct per
    * the q53 sketch contract without touching the shape.
    */
  def columnProfile(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val fields = df.schema.fields
    def repr(c: Column, dt: DataType): Column = dt match {
      case DoubleType | FloatType =>
        round(c.cast("double"), 6).cast(DecimalType(24, 6)).cast("string")
      // parquet micros may read as NTZ (inferTimestampNTZ) — same canonical
      // pattern either way, and the profile labels both "timestamp"
      case TimestampType | TimestampNTZType =>
        date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
      case DateType => date_format(c, "yyyy-MM-dd")
      case _ => c.cast("string")
    }
    def typeLabel(dt: DataType): String = dt match {
      case TimestampType | TimestampNTZType => "timestamp"
      case other => other.simpleString
    }
    val aggs = fields.flatMap { f =>
      Seq(count(col(f.name)).as(s"c_${f.name}"),
        countDistinct(col(f.name)).as(s"d_${f.name}"),
        min(col(f.name)).as(s"mn_${f.name}"),
        max(col(f.name)).as(s"mx_${f.name}"))
    } :+ count(lit(1)).as("n_rows")
    val g = df.agg(aggs.head, aggs.tail: _*)
    g.select(col("n_rows"), explode(array(fields.map(f => struct(
        lit(f.name).as("column_name"),
        lit(typeLabel(f.dataType)).as("data_type"),
        col(s"c_${f.name}").as("n_non_null"),
        col(s"d_${f.name}").as("n_distinct"),
        repr(col(s"mn_${f.name}"), f.dataType).as("min_repr"),
        repr(col(s"mx_${f.name}"), f.dataType).as("max_repr"))): _*)).as("e"))
      .select(col("e.column_name").as("column_name"),
        col("e.data_type").as("data_type"), col("n_rows"),
        (col("n_rows") - col("e.n_non_null")).as("n_nulls"),
        col("e.n_distinct").as("n_distinct"),
        col("e.min_repr").as("min_repr"), col("e.max_repr").as("max_repr"))
      .orderBy("column_name")
  }

  /** The q192 oracle over `orders`: the same single-pass profile with the
    * per-type canonical formatting stated literally per column.
    */
  def columnProfileOracleSql: String = {
    case class C(name: String, tpe: String, mn: String => String)
    val ident = (x: String) => s"CAST($x AS VARCHAR)"
    val dbl = (x: String) => s"CAST(CAST(round($x, 6) AS DECIMAL(24,6)) AS VARCHAR)"
    val tsf = (x: String) => s"strftime($x, '%Y-%m-%d %H:%M:%S.%f')"
    val cols = Seq(
      C("o_orderkey", "bigint", ident), C("o_custkey", "bigint", ident),
      C("o_orderstatus", "string", ident), C("o_totalprice", "double", dbl),
      C("o_orderdate", "timestamp", tsf), C("o_orderpriority", "string", ident))
    val arms = cols.map { c =>
      s"""SELECT '${c.name}' AS column_name, '${c.tpe}' AS data_type,
       n_rows, n_rows - c_${c.name} AS n_nulls,
       CAST(d_${c.name} AS BIGINT) AS n_distinct,
       ${c.mn(s"mn_${c.name}")} AS min_repr, ${c.mn(s"mx_${c.name}")} AS max_repr
FROM g"""
    }.mkString("\nUNION ALL\n")
    val aggs = cols.map(c =>
      s"count(${c.name}) AS c_${c.name}, count(DISTINCT ${c.name}) AS d_${c.name}, " +
        s"min(${c.name}) AS mn_${c.name}, max(${c.name}) AS mx_${c.name}")
      .mkString(",\n         ")
    s"""WITH g AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         $aggs
  FROM orders
)
$arms
ORDER BY column_name"""
  }

  /** Referential-integrity audit (q193): every FK edge of the star schema
    * checked in one relation — child cardinality, orphan rows (no parent),
    * and distinct orphan keys. NULL FKs are not orphans (SQL FK
    * semantics); parents are broadcast where dimension-sized, and each
    * edge is one anti-join-shaped aggregate, never a row-level report.
    */
  def referentialIntegrity(spark: org.apache.spark.sql.SparkSession,
                           dir: String): DataFrame = {
    import graft.sources.Tables
    def edge(child: DataFrame, childName: String, fk: String,
             parent: DataFrame, pk: String): DataFrame = {
      val orphans = child.select(col(fk)).filter(col(fk).isNotNull)
        .join(broadcast(parent.select(col(pk))), col(fk) === col(pk), "left_anti")
      val base = child.agg(count(lit(1)).as("n_child"),
        count(col(fk)).as("n_fk_non_null"))
      val o = orphans.agg(count(lit(1)).as("n_orphans"),
        countDistinct(col(fk)).as("n_orphan_keys"))
      base.crossJoin(o).select(
        lit(childName).as("child_table"), lit(fk).as("fk_column"),
        col("n_child"), col("n_fk_non_null"), col("n_orphans"),
        col("n_orphan_keys"))
    }
    val li = Tables.lineitem(spark, dir); val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir); val nat = Tables.nation(spark, dir)
    Seq(
      edge(li, "lineitem", "l_orderkey", ord, "o_orderkey"),
      edge(li, "lineitem", "l_partkey", Tables.part(spark, dir), "p_partkey"),
      edge(li, "lineitem", "l_suppkey", Tables.supplier(spark, dir), "s_suppkey"),
      edge(ord, "orders", "o_custkey", cust, "c_custkey"),
      edge(cust, "customer", "c_nationkey", nat, "n_nationkey"),
      edge(Tables.supplier(spark, dir), "supplier", "s_nationkey", nat, "n_nationkey"),
      edge(nat, "nation", "n_regionkey", Tables.region(spark, dir), "r_regionkey"))
      .reduce(_ unionAll _)
      .orderBy("child_table", "fk_column")
  }

  /** The q193 oracle: the same seven anti-join audits. */
  def referentialIntegrityOracleSql: String = {
    def arm(child: String, fk: String, parent: String, pk: String): String =
      s"""SELECT '$child' AS child_table, '$fk' AS fk_column,
       (SELECT count(*) FROM $child) AS n_child,
       (SELECT count($fk) FROM $child) AS n_fk_non_null,
       count(*) FILTER (WHERE c.$fk IS NOT NULL) AS n_orphans,
       count(DISTINCT c.$fk) AS n_orphan_keys
FROM (SELECT $fk FROM $child WHERE $fk IS NOT NULL
      AND $fk NOT IN (SELECT $pk FROM $parent)) c"""
    val arms = Seq(
      arm("lineitem", "l_orderkey", "orders", "o_orderkey"),
      arm("lineitem", "l_partkey", "part", "p_partkey"),
      arm("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      arm("orders", "o_custkey", "customer", "c_custkey"),
      arm("customer", "c_nationkey", "nation", "n_nationkey"),
      arm("supplier", "s_nationkey", "nation", "n_nationkey"),
      arm("nation", "n_regionkey", "region", "r_regionkey"))
    arms.map(a => s"SELECT CAST(n_child AS BIGINT) AS n_child, " +
      "CAST(n_fk_non_null AS BIGINT) AS n_fk_non_null, " +
      "CAST(n_orphans AS BIGINT) AS n_orphans, " +
      "CAST(n_orphan_keys AS BIGINT) AS n_orphan_keys, child_table, fk_column " +
      s"FROM ($a)").mkString("\nUNION ALL\n") +
      "\nORDER BY child_table, fk_column"
  }

  /** l-diversity profile (q199) — the privacy audit one step past q168's
    * k-anonymity: a quasi-identifier group with many rows (high k) is still
    * disclosive if its SENSITIVE attribute is uniform (l = 1, everyone in
    * the group shares the value). Quasi-identifiers here are
    * (lang, length-bucket); the sensitive attribute is `source`.
    *
    * Per group: l = distinct sensitive values, plus the Shannon entropy of
    * the sensitive distribution (entropy l-diversity, Machanavajjhala et
    * al., ICDE 2006). Counting is exact; entropy terms ride the q82 ln
    * round-6 contract folded through round-9 decimals, so the published
    * minima are cross-engine identical.
    *
    * Scale shape: one hash aggregate on (QI, sensitive), windows keyed by
    * the QI group, then a per-language rollup — every shuffle is keyed,
    * nothing is corpus-global.
    */
  def lDiversity(documents: DataFrame): DataFrame = {
    import graft.functions.Fx._
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    val cells = documents
      .groupBy(col("lang"), expr("n_chars div 100").as("len_bucket"), col("source"))
      .agg(count(lit(1)).as("c"))
    val wG = Window.partitionBy("lang", "len_bucket")
    val g = cells
      .withColumn("k", sum(col("c")).over(wG))
      .withColumn("l", count(lit(1)).over(wG))
      .withColumn("term",
        round((col("c").cast("double") / col("k"))
          * rd(log(col("c").cast("double") / col("k")), 6), 9).cast(dec))
    val groups = g.groupBy("lang", "len_bucket")
      .agg(max(col("k")).as("k"), max(col("l")).as("l"),
        (-sum(col("term"))).as("ent"))
    groups.groupBy("lang")
      .agg(count(lit(1)).as("n_groups"),
        min(col("l")).as("min_l"),
        sum(when(col("l") < 3, 1L).otherwise(0L)).as("groups_below_3"),
        sum(when(col("l") < 3, col("k")).otherwise(0L)).as("rows_below_3"),
        sum(col("k")).as("n_rows"),
        rd(min(col("ent")).cast("double"), 6).as("min_entropy"))
      .withColumn("pct_at_risk",
        rd(col("rows_below_3").cast("double") / col("n_rows") * 100, 4))
      .select(col("lang"), col("n_groups"), col("min_l"), col("groups_below_3"),
        col("rows_below_3"), col("n_rows"), col("pct_at_risk"), col("min_entropy"))
      .orderBy("lang")
  }

  /** The q199 oracle: identical group windows + ln/fold contracts. */
  def lDiversityOracleSql: String = """
WITH cells AS (
  SELECT lang, n_chars // 100 AS len_bucket, source, count(*) AS c
  FROM documents GROUP BY 1, 2, 3
), g AS (
  SELECT lang, len_bucket, c,
         sum(c) OVER (PARTITION BY lang, len_bucket) AS k,
         count(*) OVER (PARTITION BY lang, len_bucket) AS l
  FROM cells
), t AS (
  SELECT lang, len_bucket, max(k) AS k, max(l) AS l,
         -sum(CAST(round((CAST(c AS DOUBLE) / k)
             * (round(ln(CAST(c AS DOUBLE) / k), 6) + 0), 9)
           AS DECIMAL(30,12))) AS ent
  FROM g GROUP BY 1, 2
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(l) AS BIGINT) AS min_l,
       CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_3,
       CAST(sum(CASE WHEN l < 3 THEN k ELSE 0 END) AS BIGINT) AS rows_below_3,
       CAST(sum(k) AS BIGINT) AS n_rows,
       round(CAST(sum(CASE WHEN l < 3 THEN k ELSE 0 END) AS DOUBLE)
           / CAST(sum(k) AS DOUBLE) * 100, 4) + 0 AS pct_at_risk,
       round(CAST(min(ent) AS DOUBLE), 6) + 0 AS min_entropy
FROM t GROUP BY lang ORDER BY lang"""
}
