package etlbench

import java.time.Clock
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.TableIo
import graft.ops.{CacheScope, DateOps}
import graft.pipeline.{CpaPipeline, PuaPipeline}
import graft.storage.{Catalog, FileMeta, StorageClient}

/** StorageClient wrapper that records one `storage` span per call, with
  * the bytes it moved. */
final class TracingStorage(inner: StorageClient, t: Tracer) extends StorageClient {
  override def listRecursive(root: String): Seq[FileMeta] =
    t.span("storage.list", "storage")(inner.listRecursive(root))

  override def readBytes(path: String): Array[Byte] =
    t.span("storage.read", "storage") {
      val b = inner.readBytes(path)
      t.current.foreach(_.count = b.length.toLong)
      b
    }

  override def writeBytes(folder: String, name: String, bytes: Array[Byte]): String =
    t.span("storage.write", "storage") {
      t.current.foreach(_.count = bytes.length.toLong)
      inner.writeBytes(folder, name, bytes)
    }
}

/** `graft.app.Main.run` replayed call for call through the same public
  * functions, with a span around each call into a layer. The sequence,
  * arguments and output files are Main.run's; the harness checks that the
  * replay writes the same output digests as Main.run before it reports
  * any traced figure. */
object Replay {

  def run(spark: SparkSession, storage: StorageClient, inputRoot: String,
          lookupRoot: String, outFolder: String, clock: Clock, t: Tracer): Seq[String] = {
    val catalog = t.span("Catalog.build", "storage")(Catalog.build(spark, storage, inputRoot))
    val lookupCatalog = t.span("Catalog.build", "storage")(Catalog.build(spark, storage, lookupRoot))
    def first(cat: DataFrame, pred: org.apache.spark.sql.Column): Option[FileMeta] =
      t.span("Catalog.firstMatch", "storage")(Catalog.firstMatch(cat, pred))
    def counted(df: DataFrame): Long =
      t.span("load.count", "app") {
        val n = df.count()
        t.current.foreach(_.count = n)
        n
      }
    def readCsv(path: String): DataFrame =
      t.span("TableIo.readCsv", "io")(TableIo.readCsv(spark, path))
    def readXlsx(path: String): DataFrame =
      t.span("TableIo.readXlsx", "io")(TableIo.readXlsx(spark, storage, path))

    def loadCsvByName(name: String): Option[DataFrame] = {
      val df = first(lookupCatalog, Catalog.nameEquals(name)).map(f => readCsv(f.file_path))
      df.foreach(counted)
      df
    }
    def loadCsvContaining(sub: String): Option[DataFrame] = {
      val df = first(lookupCatalog,
        Catalog.nameContains(sub) && Catalog.hasExtension(".csv")).map(f => readCsv(f.file_path))
      df.foreach(counted)
      df
    }

    val pua = first(catalog, Catalog.nameContains("PUA") && Catalog.hasExtension(".xlsx", ".xls"))
      .map(f => readXlsx(f.file_path))
    first(catalog, Catalog.nameMatchesBounded("CPA") && Catalog.hasExtension(".xlsx", ".xls"))
    first(lookupCatalog, Catalog.nameContains("YTD") && Catalog.hasExtension(".xlsx", ".xls"))
      .foreach(f => counted(readXlsx(f.file_path)))
    loadCsvByName("Feeder_List.csv")
    val tsOrg = loadCsvByName("TS_Org.csv")
    val tsDept = loadCsvByName("TS_Dept.csv")
    val overtime = loadCsvByName("Overtime_E_Class.csv")
    val teM = loadCsvByName("TE_M.csv")
    val certBw = loadCsvContaining("BW")
    val certMn = loadCsvContaining("MN")

    val written = scala.collection.mutable.ArrayBuffer.empty[String]
    def sinks(prefix: String, out: DataFrame): Unit = {
      written += t.span("TableIo.writeCsv", "io")(TableIo.writeCsv(out, storage, outFolder,
        DateOps.stampedName(prefix, ".csv", clock)))
      written += t.span("TableIo.writeXlsx", "io")(TableIo.writeXlsx(out, storage, outFolder,
        DateOps.stampedName(prefix, ".xlsx", clock)))
    }
    for (p <- pua; o <- tsOrg; d <- tsDept; ot <- overtime; te <- teM)
      CacheScope.using { implicit scope =>
        val out = t.span("PuaPipeline.run", "pipeline")(
          PuaPipeline.run(PuaPipeline.Inputs(p, o, d, ot, te)))
        sinks("PUA", out)
      }
    for (bw <- certBw; mn <- certMn; o <- tsOrg; d <- tsDept; ot <- overtime; te <- teM)
      CacheScope.using { implicit scope =>
        val out = t.span("CpaPipeline.run", "pipeline")(
          CpaPipeline.run(CpaPipeline.Inputs(bw, mn, o, d, ot, te), clock))
        sinks("CPA", out)
      }
    written.toSeq
  }
}
