package graft.pipeline

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import graft.io.TableIo
import graft.pipeline.PayrollFixtures._

/** Byte-compares the fixture pipelines' CSV output against checked-in
  * goldens (SURVEY.md §5.2.3) — catches silent drift in row order, column
  * order, quoting, timestamp rendering, or null conventions. Regenerate
  * intentionally with `sbt "runMain graft.tools.GenGolden"`. */
class PipelineGoldenSpec extends SparkSpec {

  private def golden(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(s"src/test/resources/golden/$name"))

  test("PUA pipeline output bytes match the golden CSV") {
    val out = PuaPipeline.run(PuaPipeline.Inputs(
      df(spark, PuaColumns, PuaRows), df(spark, TsOrgColumns, TsOrgRows),
      df(spark, TsDeptColumns, TsDeptRows),
      df(spark, OvertimeColumns, OvertimeRows), df(spark, TeMColumns, TeMRows)))
    assert(TableIo.csvBytes(out).sameElements(golden("pua_output.csv")))
  }

  test("PUA pipeline keeps the first of two case-variant ADJ headers, as pandas does") {
    // `ADj Reason Code` is renamed to `ADJ Reason Code`; the second
    // spelling stays and must not make P1's select ambiguous
    val columns = PuaColumns.map(c => if (c == "ADJ Reason Code") "ADj Reason Code" else c) :+
      "Adj Reason Code"
    val out = PuaPipeline.run(PuaPipeline.Inputs(
      df(spark, columns, PuaRows.map(_ :+ Some("SECOND"))),
      df(spark, TsOrgColumns, TsOrgRows), df(spark, TsDeptColumns, TsDeptRows),
      df(spark, OvertimeColumns, OvertimeRows), df(spark, TeMColumns, TeMRows)))
    val bytes = TableIo.csvBytes(out)
    assert(!new String(bytes, "UTF-8").contains("SECOND"))
    assert(bytes.sameElements(golden("pua_output.csv")))
  }

  test("CPA pipeline output bytes match the golden CSV") {
    val out = CpaPipeline.run(CpaPipeline.Inputs(
      df(spark, CertColumns, CertBwRows), df(spark, CertColumns, CertMnRows),
      df(spark, TsOrgColumns, TsOrgRows), df(spark, TsDeptColumns, TsDeptRows),
      df(spark, OvertimeColumns, OvertimeRows), df(spark, TeMColumns, TeMRows)),
      FixedClock)
    assert(TableIo.csvBytes(out).sameElements(golden("cpa_output.csv")))
  }
}
