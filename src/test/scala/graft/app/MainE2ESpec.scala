package graft.app

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._
import graft.SparkSpec
import graft.io.{TableIo, Xlsx}
import graft.pipeline.PayrollFixtures._
import graft.storage.LocalFsStorage

/** End-to-end: fixture files on disk → catalog discovery → XLSX/CSV loads
  * → both pipelines → date-stamped CSV+XLSX sinks, with a pinned clock. */
class MainE2ESpec extends SparkSpec with TimeLimits {

  // interrupt a run that blocks (on an observation that never fires)
  implicit val signaler: Signaler = ThreadSignaler

  private def csvBytes(cols: Seq[String], rows: Seq[Seq[Option[String]]]): Array[Byte] = {
    def cell(v: Option[String]) = v.map { s =>
      if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }.getOrElse("")
    (cols.mkString(",") + "\n" +
      rows.map(_.map(cell).mkString(",")).mkString("\n")).getBytes("UTF-8")
  }

  /** Fixture files on disk; returns (inputs, lookups, output) folders.
    * `pua` and `certs` drop the PUA workbook or both cert CSVs; `ytd` adds
    * a three-row YTD workbook that no pipeline reads. */
  private def writeFixtures(pua: Boolean = true, certs: Boolean = true,
                            ytd: Boolean = false): (Path, Path, Path) = {
    val root = Files.createTempDirectory("graft_e2e")
    val inDir = root.resolve("inputs"); val lkDir = root.resolve("lookups")
    Files.createDirectories(inDir); Files.createDirectories(lkDir)

    // primary PUA extract as a real XLSX produced by our own codec
    if (pua)
      Files.write(inDir.resolve("Monthly PUA Extract.xlsx"),
        Xlsx.write(PuaColumns, PuaRows))
    // lookups + certs as CSVs with the reference's exact names/patterns
    Files.write(lkDir.resolve("TS_Org.csv"), csvBytes(TsOrgColumns, TsOrgRows))
    Files.write(lkDir.resolve("TS_Dept.csv"), csvBytes(TsDeptColumns, TsDeptRows))
    Files.write(lkDir.resolve("Overtime_E_Class.csv"),
      csvBytes(OvertimeColumns, OvertimeRows))
    Files.write(lkDir.resolve("TE_M.csv"), csvBytes(TeMColumns, TeMRows))
    Files.write(lkDir.resolve("Feeder_List.csv"),
      "col1\nv1\n".getBytes("UTF-8"))
    if (certs) {
      Files.write(lkDir.resolve("Cert BW extract.csv"),
        csvBytes(CertColumns, CertBwRows))
      Files.write(lkDir.resolve("Cert MN extract.csv"),
        csvBytes(CertColumns, CertMnRows))
    }
    if (ytd)
      Files.write(lkDir.resolve("YTD Summary.xlsx"), Xlsx.write(Seq("UIN", "YTD"),
        Seq(Seq(Some("u1"), Some("10")), Seq(Some("u2"), None), Seq(Some("u3"), Some("7")))))
    (inDir, lkDir, root.resolve("out"))
  }

  /** Main.run on the given fixtures: the files it wrote and the
    * `[graft] load` lines it printed. */
  private def runMain(dirs: (Path, Path, Path)): (Seq[String], String) = {
    val (inDir, lkDir, outDir) = dirs
    val out = new ByteArrayOutputStream
    val written = Console.withOut(out) {
      Main.run(spark, new LocalFsStorage, inDir.toString, lkDir.toString,
        outDir.toString, FixedClock)
    }
    (written, new String(out.toByteArray, "UTF-8").linesIterator
      .filter(_.startsWith("[graft] load ")).mkString("", "\n", "\n"))
  }

  private val LookupLoadLines =
    """[graft] load Feeder_List.csv: found=true rows=1
      |[graft] load TS_Org.csv: found=true rows=4
      |[graft] load TS_Dept.csv: found=true rows=3
      |[graft] load Overtime_E_Class.csv: found=true rows=4
      |[graft] load TE_M.csv: found=true rows=7
      |""".stripMargin
  private val CertLoadLines =
    """[graft] load *BW*: found=true rows=4
      |[graft] load *MN*: found=true rows=4
      |""".stripMargin
  private val NoCpaXlsx = "[graft] load *CPA*.xlsx (unused): found=false rows=0\n"

  test("load summary without the PUA workbook: the CPA pipeline's scans report the lookups") {
    failAfter(180.seconds) {
      assert(runMain(writeFixtures(pua = false))._2 ==
        NoCpaXlsx + LookupLoadLines + CertLoadLines)
    }
  }

  test("load summary without the cert CSVs: the PUA pipeline's scans report the lookups") {
    failAfter(180.seconds) {
      assert(runMain(writeFixtures(certs = false))._2 ==
        NoCpaXlsx + LookupLoadLines +
          "[graft] load *BW*: found=false rows=0\n[graft] load *MN*: found=false rows=0\n")
    }
  }

  test("load summary with a YTD workbook: its decoded rows are counted") {
    failAfter(180.seconds) {
      assert(runMain(writeFixtures(ytd = true))._2 == NoCpaXlsx +
        "[graft] load YTD Summary.xlsx (unused): found=true rows=3\n" +
        LookupLoadLines + CertLoadLines)
    }
  }

  test("full payroll run: discovery, loads, pipelines, stamped sinks") {
    val storage = new LocalFsStorage
    spark.catalog.clearCache() // known-clean baseline for the scope check
    val (written, loads) = runMain(writeFixtures())

    // the load summary, byte for byte (ref 179-194)
    assert(loads == NoCpaXlsx + LookupLoadLines + CertLoadLines)

    // Main.run persists nothing: each pipeline result is collected once
    // for both sinks — a long-lived session must not accumulate pinned
    // executor memory
    assert(spark.sharedState.cacheManager.isEmpty,
      "Main.run left a cached frame behind")

    assert(written.size == 4, s"expected 4 outputs, got $written")
    // stamped names from the pinned clock: MMddyyyy_HHmm of 2025-03-15T12:00Z
    assert(written.exists(_.endsWith("PUA_Data_Transformed_03152025_1200.csv")))
    assert(written.exists(_.endsWith("CPA_Data_Transformed_03152025_1200.xlsx")))

    // PUA CSV golden properties: 6 surviving rows, 26 columns, dedup winner
    val puaCsv = new String(Files.readAllBytes(
      java.nio.file.Paths.get(
        written.find(p => p.endsWith(".csv") && p.contains("PUA")).get)), "UTF-8")
    val lines = puaCsv.trim.split("\n").toSeq
    assert(lines.head.split(",", -1).length == 26)
    assert(lines.size == 7) // header + 6 rows
    assert(lines.exists(l => l.contains("u1") && l.contains("RGS")))
    assert(!lines.exists(_.contains("OVT"))) // dedup dropped the second u1 row

    // CPA outputs: 3 rows × 20 cols
    val cpaCsv = new String(Files.readAllBytes(
      java.nio.file.Paths.get(
        written.find(p => p.endsWith(".csv") && p.contains("CPA")).get)), "UTF-8")
    val cpaLines = cpaCsv.trim.split("\n").toSeq
    assert(cpaLines.head.split(",", -1).length == 20)
    assert(cpaLines.size == 4)
    assert(cpaLines.exists(_.contains("u2-nan") == false)) // UIN Job not in output

    // XLSX sink round-trips through our own reader
    val (h, rows) = Xlsx.readTable(storage.readBytes(
      written.find(_.endsWith("PUA_Data_Transformed_03152025_1200.xlsx")).get))
    assert(h.length == 26 && rows.size == 6)
  }

  test("both sinks of a pipeline read one materialization; XLSX cells equal CSV fields") {
    val (inDir, lkDir, outDir) = writeFixtures()
    val storage = new LocalFsStorage
    spark.catalog.clearCache()
    val (written, jobs) = countingJobs(Main.run(spark, storage, inDir.toString,
      lkDir.toString, outDir.toString, FixedClock))

    // Measured on these fixtures: 79 jobs when each sink re-ran its
    // pipeline behind a global orderBy; 50 with one cached result per
    // pipeline ordered on the driver; 31 with the CSV headers named on the
    // driver and the load summary taken from observations; 27 with one
    // collect per pipeline feeding both sinks and no cache (the pipelines'
    // own jobs plus Feeder_List's count). A second execution of either
    // pipeline, or a load-summary count of a frame a pipeline scanned,
    // adds more jobs than this budget leaves room for.
    assert(jobs <= 27,
      s"Main.run took $jobs Spark jobs — a pipeline runs more than once, " +
        "or the load summary scans an input a pipeline already read")

    // the XLSX sink writes the CSV sink's rows, in the same order; Calc
    // Date renders differently by design (date-only CSV vs ISO cells)
    val csvPath = written.find(p => p.contains("PUA") && p.endsWith(".csv")).get
    val xlsxPath = written.find(p => p.contains("PUA") && p.endsWith(".xlsx")).get
    val csv = spark.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"").csv(csvPath)
    val csvRows = csv.collect().toSeq.map(_.toSeq.map(v => Option(v).fold("")(_.toString)))
    val (h, xlsxRows) = Xlsx.readTable(storage.readBytes(xlsxPath))
    assert(h == csv.columns.toSeq)
    assert(xlsxRows.size == csvRows.size && csvRows.size == 6)
    val compared = h.indices.filter(h(_) != "Calc Date")
    assert(compared.size == 25)
    xlsxRows.zip(csvRows).zipWithIndex.foreach { case ((x, c), i) =>
      compared.foreach { j =>
        assert(x(j).getOrElse("") == c(j), s"row $i column ${h(j)}")
      }
    }
  }

  test("main rejects a wrong argument count with the usage line, before Spark starts") {
    for (args <- Seq(Array.empty[String], Array("in", "lookups"),
                     Array("in", "lookups", "out", "extra"))) {
      val e = intercept[IllegalArgumentException](Main.main(args))
      assert(e.getMessage.contains(s"got ${args.length}"))
      assert(e.getMessage.contains(Main.Usage))
    }
  }
}
