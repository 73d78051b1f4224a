package graft.app

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.SparkSpec
import graft.io.{TableIo, Xlsx}
import graft.pipeline.PayrollFixtures._
import graft.storage.LocalFsStorage

/** End-to-end: fixture files on disk → catalog discovery → XLSX/CSV loads
  * → both pipelines → date-stamped CSV+XLSX sinks, with a pinned clock. */
class MainE2ESpec extends SparkSpec {

  private def csvBytes(cols: Seq[String], rows: Seq[Seq[Option[String]]]): Array[Byte] = {
    def cell(v: Option[String]) = v.map { s =>
      if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }.getOrElse("")
    (cols.mkString(",") + "\n" +
      rows.map(_.map(cell).mkString(",")).mkString("\n")).getBytes("UTF-8")
  }

  /** Fixture files on disk; returns (inputs, lookups, output) folders. */
  private def writeFixtures(): (Path, Path, Path) = {
    val root = Files.createTempDirectory("graft_e2e")
    val inDir = root.resolve("inputs"); val lkDir = root.resolve("lookups")
    Files.createDirectories(inDir); Files.createDirectories(lkDir)

    // primary PUA extract as a real XLSX produced by our own codec
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
    Files.write(lkDir.resolve("Cert BW extract.csv"),
      csvBytes(CertColumns, CertBwRows))
    Files.write(lkDir.resolve("Cert MN extract.csv"),
      csvBytes(CertColumns, CertMnRows))
    (inDir, lkDir, root.resolve("out"))
  }

  test("full payroll run: discovery, loads, pipelines, stamped sinks") {
    val (inDir, lkDir, outDir) = writeFixtures()
    val storage = new LocalFsStorage

    spark.catalog.clearCache() // known-clean baseline for the scope check
    val written = Main.run(spark, storage, inDir.toString, lkDir.toString,
      outDir.toString, FixedClock)

    // Main wraps each pipeline unit in CacheScope.using: every
    // operator-internal persist must be freed by the time run returns —
    // a long-lived session must not accumulate pinned executor memory
    assert(spark.sharedState.cacheManager.isEmpty,
      "pipeline-internal caches survived Main.run")

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
    val sc = spark.sparkContext
    val barrier = "graft.test.barrier"
    val jobs = new AtomicInteger
    val barriers = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty(barrier) != null))
          barriers.incrementAndGet(): Unit
        else jobs.incrementAndGet(): Unit
    }
    spark.catalog.clearCache()
    sc.addSparkListener(l)
    val written =
      try {
        val w = Main.run(spark, storage, inDir.toString, lkDir.toString,
          outDir.toString, FixedClock)
        // the listener bus is async: a tagged one-task job is delivered
        // after every job event queued before it
        sc.setLocalProperty(barrier, "1")
        try sc.parallelize(Seq(1), 1).count()
        finally sc.setLocalProperty(barrier, null)
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (barriers.get() == 0 && System.nanoTime() < deadline) Thread.sleep(5)
        assert(barriers.get() == 1, "listener bus did not drain in 30 s")
        w
      } finally sc.removeSparkListener(l)

    // Measured on these fixtures: 79 jobs when each sink re-ran its
    // pipeline behind a global orderBy; 50 with one cached result per
    // pipeline ordered on the driver. A second full execution of either
    // pipeline adds more jobs than this budget leaves room for.
    assert(jobs.get() <= 50,
      s"Main.run took ${jobs.get()} Spark jobs — a sink recomputes its pipeline")

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
