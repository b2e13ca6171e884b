package graft

import graft.queries.{QuerySpec, Sql}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each selected query's rows → parquet, plus
  * `oracle_sql.json` for the driver's DuckDB compare and `failures.json`
  * naming every query that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val specs = Registry.selected(Registry.only())
    val spark = Registry.session()
    try dump(spark, specs, sfDir, outDir) finally spark.stop()
  }

  /** Writes each spec's rows to `outDir/<name>`, the oracle SQL of `specs`
    * to `oracle_sql.json`, and `failures.json`: each query that threw,
    * mapped to the first line of its exception. Returns that map.
    */
  def dump(spark: SparkSession, specs: Seq[QuerySpec], sfDir: String,
           outDir: String): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failures = specs.flatMap { spec =>
      try {
        spec.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${spec.name}")
        None
      } catch { case e: Throwable =>
        val msg = String.valueOf(e).linesIterator.nextOption().getOrElse("")
        System.err.println(s"[verify] ${spec.name} failed: $msg")
        Some(spec.name -> msg)
      }
    }
    val oracles = specs.collect { case QuerySpec(name, _, Sql(text), _) => name -> text }
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), jsonObject(oracles))
    Files.writeString(Paths.get(outDir, "failures.json"), jsonObject(failures))
    failures.toMap
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in oracle SQL or an exception message would otherwise
  // make a strict JSON reader reject the whole file.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jsonObject(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}
