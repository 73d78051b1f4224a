package graft.app

import java.time.Clock
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Sessions
import graft.io.TableIo
import graft.ops.DateOps
import graft.pipeline.{CpaPipeline, PuaPipeline}
import graft.storage.{Catalog, LocalFsStorage, StorageClient}

/** End-to-end payroll ETL driver — the engine's equivalent of running the
  * reference script (/root/reference/etl_payroll_pipeline.py:11-640):
  * storage auth boundary → recursive catalog → pattern-based input
  * detection → loads → PUA + CPA pipelines → date-stamped CSV/XLSX sinks.
  *
  * Usage: graft.app.Main <inputRoot> <lookupRoot> <outputFolder>
  * Inputs are discovered by the reference's own rules: PUA file by
  * substring "PUA" + Excel extension, lookups by exact name, BW/MN
  * certification CSVs by substring.
  */
object Main {

  final case class LoadSummary(name: String, found: Boolean, rows: Long)

  val Usage = "usage: graft.app.Main <inputRoot> <lookupRoot> <outputFolder>"

  def main(args: Array[String]): Unit = {
    val (inputRoot, lookupRoot, outFolder) = args match {
      case Array(in, lookups, out) => (in, lookups, out)
      case _ => throw new IllegalArgumentException(
        s"expected 3 arguments, got ${args.length}; $Usage")
    }
    val spark = Sessions.local()
    val storage = new LocalFsStorage
    val clock = Clock.systemUTC()
    run(spark, storage, inputRoot, lookupRoot, outFolder, clock)
    spark.stop()
  }

  def run(spark: SparkSession, storage: StorageClient, inputRoot: String,
          lookupRoot: String, outFolder: String, clock: Clock): Seq[String] = {
    val catalog = Catalog.build(spark, storage, inputRoot)
    val lookupCatalog = Catalog.build(spark, storage, lookupRoot)
    val summaries = scala.collection.mutable.ArrayBuffer.empty[LoadSummary]

    def loadCsvByName(name: String, trimHeaders: Boolean = false): Option[DataFrame] = {
      val m = Catalog.firstMatch(lookupCatalog, Catalog.nameEquals(name))
      val df = m.map(f => TableIo.readCsv(spark, f.file_path, trimHeaders))
      summaries += LoadSummary(name, df.isDefined, df.map(_.count()).getOrElse(0L))
      if (df.isEmpty) System.err.println(s"[graft] WARN: input '$name' not found — skipping")
      df
    }
    def loadCsvContaining(sub: String): Option[DataFrame] = {
      val m = Catalog.firstMatch(lookupCatalog,
        Catalog.nameContains(sub) && Catalog.hasExtension(".csv"))
      val df = m.map(f => TableIo.readCsv(spark, f.file_path))
      summaries += LoadSummary(s"*$sub*", df.isDefined, df.map(_.count()).getOrElse(0L))
      df
    }

    // primary PUA extract: substring "PUA" + Excel extension (ref 67-70)
    val puaFile = Catalog.firstMatch(catalog,
      Catalog.nameContains("PUA") && Catalog.hasExtension(".xlsx", ".xls"))
    val pua = puaFile.map(f => TableIo.readXlsx(spark, storage, f.file_path))
    // the CPA Excel and YTD/Feeder_List inputs are loaded for load-summary
    // parity but never consumed (SURVEY.md §0 dead inputs)
    val cpaDead = Catalog.firstMatch(catalog,
      Catalog.nameMatchesBounded("CPA") && Catalog.hasExtension(".xlsx", ".xls"))
    summaries += LoadSummary("*CPA*.xlsx (unused)", cpaDead.isDefined, 0L)
    val ytdDead = Catalog.firstMatch(lookupCatalog,
      Catalog.nameContains("YTD") && Catalog.hasExtension(".xlsx", ".xls"))
    ytdDead.foreach { f => // loaded-but-never-consumed, like the reference
      val df = TableIo.readXlsx(spark, storage, f.file_path)
      summaries += LoadSummary(f.file_name + " (unused)", found = true, df.count())
    }
    loadCsvByName("Feeder_List.csv")

    val tsOrg = loadCsvByName("TS_Org.csv")
    val tsDept = loadCsvByName("TS_Dept.csv")
    val overtime = loadCsvByName("Overtime_E_Class.csv")
    val teM = loadCsvByName("TE_M.csv")
    val certBw = loadCsvContaining("BW")
    val certMn = loadCsvContaining("MN")

    val written = scala.collection.mutable.ArrayBuffer.empty[String]

    // each pipeline's build→materialize→write unit runs under a tracking
    // CacheScope: the pipeline's persisted result, which both sinks read,
    // and any operator-internal persist made while the pipeline builds
    // are freed when its writes complete — the bounded-lifetime
    // contract on the PRODUCTION path, not just in tests. Pinned executor
    // memory across pipeline units is the long-lived-session failure mode
    // this closes (the sinks inside the scope are the materialization).
    for (p <- pua; o <- tsOrg; d <- tsDept; ot <- overtime; te <- teM)
      graft.ops.CacheScope.using { implicit scope =>
        val out = PuaPipeline.run(PuaPipeline.Inputs(p, o, d, ot, te))
        written += TableIo.writeCsv(out, storage, outFolder,
          DateOps.stampedName("PUA", ".csv", clock))
        written += TableIo.writeXlsx(out, storage, outFolder,
          DateOps.stampedName("PUA", ".xlsx", clock))
      }
    for (bw <- certBw; mn <- certMn; o <- tsOrg; d <- tsDept;
         ot <- overtime; te <- teM)
      graft.ops.CacheScope.using { implicit scope =>
        val out = CpaPipeline.run(
          CpaPipeline.Inputs(bw, mn, o, d, ot, te), clock)
        written += TableIo.writeCsv(out, storage, outFolder,
          DateOps.stampedName("CPA", ".csv", clock))
        written += TableIo.writeXlsx(out, storage, outFolder,
          DateOps.stampedName("CPA", ".xlsx", clock))
      }

    summaries.foreach(s =>
      println(s"[graft] load ${s.name}: found=${s.found} rows=${s.rows}"))
    written.foreach(p => println(s"[graft] wrote $p"))
    written.toSeq
  }
}
