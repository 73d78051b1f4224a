package graft.app

import java.time.Clock
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
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

  /** How long the load summary waits for an observation that a completed
    * pipeline's scan reported. The listener bus delivers it
    * asynchronously, normally within milliseconds, but drops events when
    * its queue is full; the count is then taken with a job instead. */
  private val ObservationWait = 10.seconds

  /** A loaded CSV whose row count is observed by the first query that
    * scans it: the load summary reads the count of a frame a completed
    * pipeline consumed from that observation, at no Spark job of its own,
    * and counts only a frame no pipeline read, whose observation cannot
    * fire. */
  private final class ObservedCsv(loaded: DataFrame, label: String) {
    private val observation = Observation(s"load $label")
    val df: DataFrame = loaded.observe(observation, count(lit(1)))
    /** set once a pipeline that read `df` has written its sinks */
    var consumed = false

    def rows: Long =
      if (!consumed) df.count()
      else Try(Await.result(observation.future, ObservationWait)) match {
        case Success(metrics) => metrics.getLong(0)
        case Failure(_) =>
          System.err.println(
            s"[graft] WARN: no row-count observation for '$label' — counting")
          df.count()
      }
  }

  def run(spark: SparkSession, storage: StorageClient, inputRoot: String,
          lookupRoot: String, outFolder: String, clock: Clock): Seq[String] = {
    val catalog = Catalog.build(spark, storage, inputRoot)
    val lookupCatalog = Catalog.build(spark, storage, lookupRoot)
    // the load summary (ref 179-194), one line per input in load order:
    // its row count, or None when the input was not found. The lines print
    // after the sinks, when the pipelines' scans have observed the counts.
    val summaries = ArrayBuffer.empty[(String, Option[() => Long])]

    def loadCsv(label: String, pred: Column): Option[ObservedCsv] = {
      val csv = Catalog.firstMatch(lookupCatalog, pred)
        .map(f => new ObservedCsv(TableIo.readCsv(spark, f.file_path), label))
      summaries += label -> csv.map(c => () => c.rows)
      csv
    }
    def loadCsvByName(name: String): Option[ObservedCsv] = {
      val csv = loadCsv(name, Catalog.nameEquals(name))
      if (csv.isEmpty) System.err.println(s"[graft] WARN: input '$name' not found — skipping")
      csv
    }
    def loadCsvContaining(sub: String): Option[ObservedCsv] =
      loadCsv(s"*$sub*", Catalog.nameContains(sub) && Catalog.hasExtension(".csv"))

    // primary PUA extract: substring "PUA" + Excel extension (ref 67-70)
    val puaFile = Catalog.firstMatch(catalog,
      Catalog.nameContains("PUA") && Catalog.hasExtension(".xlsx", ".xls"))
    val pua = puaFile.map(f => TableIo.readXlsx(spark, storage, f.file_path))
    // the CPA Excel and YTD/Feeder_List inputs are loaded for load-summary
    // parity but never consumed (SURVEY.md §0 dead inputs)
    val cpaDead = Catalog.firstMatch(catalog,
      Catalog.nameMatchesBounded("CPA") && Catalog.hasExtension(".xlsx", ".xls"))
    summaries += "*CPA*.xlsx (unused)" -> cpaDead.map(_ => () => 0L)
    val ytdDead = Catalog.firstMatch(lookupCatalog,
      Catalog.nameContains("YTD") && Catalog.hasExtension(".xlsx", ".xls"))
    ytdDead.foreach { f => // decoded like the reference, so a malformed
      // workbook still fails loudly; its row count needs no DataFrame
      val rows = TableIo.decodeXlsx(storage, f.file_path)._2.size.toLong
      summaries += s"${f.file_name} (unused)" -> Some(() => rows)
    }
    loadCsvByName("Feeder_List.csv")

    val tsOrg = loadCsvByName("TS_Org.csv")
    val tsDept = loadCsvByName("TS_Dept.csv")
    val overtime = loadCsvByName("Overtime_E_Class.csv")
    val teM = loadCsvByName("TE_M.csv")
    val certBw = loadCsvContaining("BW")
    val certMn = loadCsvContaining("MN")

    val written = ArrayBuffer.empty[String]

    // each pipeline result is collected once, and both sinks render from
    // those rows: the plan runs once and nothing is persisted
    for (p <- pua; o <- tsOrg; d <- tsDept; ot <- overtime; te <- teM) {
      val out = PuaPipeline.run(PuaPipeline.Inputs(p, o.df, d.df, ot.df, te.df))
      written ++= TableIo.writeCsvAndXlsx(out, storage, outFolder,
        DateOps.stampedName("PUA", ".csv", clock),
        DateOps.stampedName("PUA", ".xlsx", clock))
      Seq(o, d, ot, te).foreach(_.consumed = true)
    }
    for (bw <- certBw; mn <- certMn; o <- tsOrg; d <- tsDept;
         ot <- overtime; te <- teM) {
      val out = CpaPipeline.run(
        CpaPipeline.Inputs(bw.df, mn.df, o.df, d.df, ot.df, te.df), clock)
      written ++= TableIo.writeCsvAndXlsx(out, storage, outFolder,
        DateOps.stampedName("CPA", ".csv", clock),
        DateOps.stampedName("CPA", ".xlsx", clock))
      Seq(bw, mn, o, d, ot, te).foreach(_.consumed = true)
    }

    summaries.foreach { case (name, rows) =>
      println(s"[graft] load $name: found=${rows.isDefined} rows=${rows.fold(0L)(_())}")
    }
    written.foreach(p => println(s"[graft] wrote $p"))
    written.toSeq
  }
}
