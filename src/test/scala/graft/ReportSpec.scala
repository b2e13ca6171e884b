package graft

import graft.pipeline.Report

class ReportSpec extends SparkSpecBase {

  test("executive report: all five sections, 5-entry rankings, period bounds") {
    val r = Report.executiveReport(spark, sf)
    assert(r.contains("RELATÓRIO EXECUTIVO"))
    for (s <- Seq("1. RESUMO GERAL", "2. TOP 5 MAIOR VOLATILIDADE",
      "3. TOP 5 MELHOR PERFORMANCE", "4. TOP 5 MAIOR LIQUIDEZ",
      "5. PERFIS DE INVESTIDOR"))
      assert(r.contains(s), s"missing section: $s")
    // five ranked entries in each ranking section
    assert("(?m)^5\\. [A-Za-z]".r.findAllIn(r).size >= 2)
    assert(r.contains("PERÍODO ANALISADO: "))
    // deterministic: no timestamps
    assert(Report.executiveReport(spark, sf) == r)
  }

  test("generatedAt stamps the header; default stays deterministic") {
    val i = java.time.Instant.parse("2024-02-03T14:30:00Z")
    val stamped = Report.executiveReport(spark, sf, Some(i))
    assert(stamped.contains("Gerado em: 03/02/2024 14:30"))
    assert(!Report.executiveReport(spark, sf).contains("Gerado em"))
  }

  test("writeTo persists the report file") {
    val out = tempDir("graft_report")
      .resolve("outputs/relatorio_completo.txt").toString
    val r = Report.writeTo(spark, sf, out)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(out)) == r)
  }
}
