package graft.io

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.time.{Instant, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}
import graft.ops.DedupOps
import graft.storage.StorageClient

/** Sources and sinks (SURVEY.md S4–S7).
  *
  * Ingest rule (SURVEY §1.3): every payroll column is read as StringType
  * (`inferSchema=false`) — this matches the reference's all-string output
  * and sidesteps the pandas float-artifact hazard H1. Every source attaches
  * the ingest ordinal `_ingest_ord` (H4) so keep-first dedup and
  * first-match selection stay deterministic after repartitioning.
  */
object TableIo {

  /** S5 — CSV source: header record, all columns string, headers trimmed
    * on request (P6 applies only to the CPA certs — ref 433-434). Quoted
    * fields may hold line breaks (`multiLine`), as the CSV sink writes
    * them and pandas `read_csv` reads them back (ref 113-139, 159-173). A
    * multiLine file reads as one split: fine for the small-by-contract
    * payroll lookups, whose ordinal then follows file order; the scale
    * path is [[readParquetOrdered]].
    *
    * No Spark job runs here. The header record is read on the driver
    * ([[headerRecord]]) and named by Spark's own header rules — an empty
    * cell becomes `_c<i>`, a duplicate name gets its index appended —
    * through `csv(Dataset[String])` over a one-row local relation. The file
    * is then read with that explicit all-string schema, so no inference
    * pass scans it; Spark skips the header record itself. */
  def readCsv(spark: SparkSession, path: String,
              trimHeaders: Boolean = false): DataFrame = {
    val options = Map(
      "header" -> "true",
      "inferSchema" -> "false",
      "multiLine" -> "true",
      "escape" -> "\"") // RFC-style doubled quotes (pandas default)
    val schema = spark.read.options(options)
      .csv(spark.createDataset(headerRecord(spark, path).toSeq)(Encoders.STRING))
      .schema
    val df = spark.read.options(options).schema(schema).csv(path)
    val named = if (trimHeaders) graft.ops.ReshapeOps.trimHeaders(df) else df
    DedupOps.withIngestOrdinal(named)
  }

  /** The first non-empty record of the CSV file at `path`, read through
    * the Hadoop FileSystem (decompressed by extension, as Spark reads it).
    * A quote opens a quoted field only at the field's start, and inside
    * one a doubled quote is an escaped quote; the record ends at the first
    * line break outside a quoted field, so it may span lines. `None` when
    * the file holds no record. */
  private def headerRecord(spark: SparkSession, path: String): Option[String] = {
    val file = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val raw = file.getFileSystem(conf).open(file)
    val in = Option(new CompressionCodecFactory(conf).getCodec(file))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    try {
      val record = new StringBuilder
      var fieldStart = true  // next char is the first of a field
      var quotedField = false
      var inQuotes = false
      def isBreak(c: Int) = c == '\n' || c == '\r'
      var c = reader.read()
      // a break outside quotes ends the record; leading empty lines are skipped
      while (c >= 0 && (inQuotes || !isBreak(c) || record.isEmpty)) {
        if (inQuotes || !isBreak(c)) record.append(c.toChar)
        if (c == '"' && (fieldStart || quotedField)) {
          quotedField = true
          inQuotes = !inQuotes
        }
        fieldStart = !inQuotes && (c == ',' || isBreak(c))
        if (fieldStart) quotedField = false
        c = reader.read()
      }
      Option(record.toString).filter(_.nonEmpty)
    } finally reader.close()
  }

  /** Parquet source with a SCALE-SAFE ingest ordinal (H4): ordinal =
    * (file index in path-sorted order) ≪ 40 | row position in file, built
    * from the hidden `_metadata` columns — stable under any partitioning
    * or task count, unlike monotonically_increasing_id. The file list
    * comes from the read's own inputFiles (names only, no data job).
    * Files are assumed < 2^40 rows each. */
  def readParquetOrdered(spark: SparkSession, path: String): DataFrame = {
    val base = spark.read.parquet(path)
    // _metadata.file_path renders "file:/x" while inputFiles gives
    // "file:///x" — normalize both before joining
    val withMeta = base.select(col("*"),
      regexp_replace(col("_metadata.file_path"), "^file:/+", "file:/").as("_fp"),
      col("_metadata.row_index").as("_ri"))
    val files = base.inputFiles
      .map(_.replaceFirst("^file:/+", "file:/")).sorted.zipWithIndex.toSeq
    val fileIdx = broadcast(
      spark.createDataFrame(files).toDF("_fp", "_fidx"))
    // LEFT join + fail-loud: if _metadata.file_path and inputFiles ever
    // disagree beyond the normalized prefix (URI escaping, scheme/authority
    // rendering), rows must not be silently dropped — raise instead.
    withMeta.join(fileIdx, Seq("_fp"), "left")
      .withColumn(DedupOps.OrdinalCol,
        when(col("_fidx").isNotNull,
          (col("_fidx").cast("long") * lit(1L << 40)) + col("_ri"))
        .otherwise(raise_error(concat(
          lit("readParquetOrdered: _metadata.file_path not found in inputFiles after normalization: "),
          col("_fp")))))
      .drop("_fp", "_ri", "_fidx")
  }

  /** Large-data sink: a columnar layout partitioned by a
    * (low-cardinality, derived) column — e.g. event date — so
    * downstream range scans prune whole directories instead of
    * filtering rows. The 100 TB twin of the collect-and-write payroll
    * sinks below. `format` is any columnar source Spark ships
    * ("parquet" default, "orc" — both give the same PartitionFilters /
    * PushedFilters pruning surface, pinned by PlanShapeSpec b03/x172). */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       format: String = "parquet"): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*)
      .format(format).save(path)

  /** Global-total-order sharded export: the corpus written as `shards`
    * parquet files such that reading them in file order replays one
    * deterministic global sort — the layout a training run consumes when
    * data ORDER is part of the recipe (curriculum schedules, x35-style
    * reproducible shuffles). `repartitionByRange` samples range bounds so
    * every shard is a contiguous slice of the sort order (shard i's rows
    * all precede shard i+1's) and `sortWithinPartitions` orders each
    * slice locally — N parallel bounded sorts, never a single-task global
    * sort. Part-file names are zero-padded, so lexicographic file order
    * IS the data order. Ties across shard boundaries are only
    * deterministic when `sortCols` is a total order — same contract as
    * any window the engine exposes. */
  def writeRangeSorted(df: DataFrame, path: String, shards: Int,
                       sortCols: Seq[String]): Unit = {
    require(shards >= 1, "writeRangeSorted needs at least one shard")
    require(sortCols.nonEmpty, "writeRangeSorted needs sort columns")
    val cols = sortCols.map(col)
    df.repartitionByRange(shards, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** SCHEMA-EVOLUTION READ beyond added columns: unify N generations of
    * a long-lived table whose column TYPES drifted (gen 1 wrote
    * l_quantity as int/float, gen 2 as long/double — the other drift
    * every warehouse table hits; plain `mergeSchema` refuses the read
    * with a merge conflict). Each generation is read with its own
    * schema, every column casts to the WIDEST type any generation
    * declares, and the frames union by name (a column missing from a
    * generation null-fills — the x175 semantic).
    *
    * Widening is LOSSLESS-ONLY, fail-loud otherwise (the narrowing
    * guard): integral↑integral (byte→short→int→long), fractional↑
    * fractional (float→double), byte/short/int↔float/double → double
    * (every such value embeds in a double exactly), equal-type pass-
    * through, and decimal precision/scale union bounded by the decimal
    * range. long↔fractional (a 2⁶³ long does not fit a double's 53-bit
    * mantissa), string↔numeric, date↔timestamp, and any nested-type
    * mismatch REFUSE with the column name and both types — a silent
    * best-effort cast is exactly the drift this reader exists to stop.
    *
    * Scale shape: one file-source scan per generation (pushdown/pruning
    * intact per scan), casts are map-side projections, unionByName adds
    * no exchange — the union's children stay independent scans. */
  def readUnified(spark: SparkSession, paths: Seq[String],
                  format: String = "parquet"): DataFrame = {
    import org.apache.spark.sql.types._
    require(paths.nonEmpty, "readUnified needs at least one generation")
    val gens = paths.map(p => spark.read.format(format).load(p))
    val integral: Seq[DataType] =
      Seq(ByteType, ShortType, IntegerType, LongType)
    val fractional: Seq[DataType] = Seq(FloatType, DoubleType)
    val smallIntegral = integral.dropRight(1) // byte/short/int: exact in double
    def widen(name: String, a: DataType, b: DataType): DataType =
      (a, b) match {
        case _ if a == b => a
        case (x: DecimalType, y: DecimalType) =>
          val s = math.max(x.scale, y.scale)
          val i = math.max(x.precision - x.scale, y.precision - y.scale)
          require(i + s <= DecimalType.MAX_PRECISION,
            s"column '$name': unified decimal($i + $s) exceeds the " +
              s"decimal range — ${x.simpleString} vs ${y.simpleString}")
          DecimalType(i + s, s)
        case _ if integral.contains(a) && integral.contains(b) =>
          if (integral.indexOf(a) >= integral.indexOf(b)) a else b
        case _ if fractional.contains(a) && fractional.contains(b) =>
          if (fractional.indexOf(a) >= fractional.indexOf(b)) a else b
        case _ if (smallIntegral.contains(a) && fractional.contains(b)) ||
                  (fractional.contains(a) && smallIntegral.contains(b)) =>
          DoubleType
        case _ => throw new IllegalArgumentException(
          s"column '$name': no lossless widening between " +
            s"${a.simpleString} and ${b.simpleString} — long↔fractional " +
            "drops mantissa bits and cross-family retypes change " +
            "semantics; fix the writing pipeline or cast explicitly " +
            "per generation")
      }
    val order = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    for (g <- gens; f <- g.schema.fields)
      order(f.name) = order.get(f.name)
        .map(widen(f.name, _, f.dataType)).getOrElse(f.dataType)
    gens.map { g =>
      val present = g.columns.toSet
      g.select(order.toSeq.map { case (n, t) =>
        (if (present(n)) col(n).cast(t) else lit(null).cast(t)).as(n)
      }: _*)
    }.reduce(_ unionByName _)
  }

  /** ORC source — Spark's second built-in columnar format (orc-core
    * ships with Spark; no extra dependency). Same distributed scan
    * surface as parquet: pushed filters, pruned columns, split files.
    * Fidelity is oracle-proven by x169 (a fact-table roundtrip audited
    * value-exact against the parquet original). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S4 — Excel source via the hand-rolled codecs: header row 0, all
    * values string (date-styled cells resolve to ISO strings through
    * the style table — [[ExcelDates]]). `sheetName = None` reads the
    * first sheet (the pandas `read_excel` default); `Some(name)` is the
    * `sheet_name=` analog on both formats. Driver-side parse (payroll
    * workbooks are small by contract — the distributed path is
    * CSV/parquet). Dispatches on the CONTENT's magic bytes, not the
    * extension: an OLE2 container reads through the BIFF8 [[Xls]]
    * reader, a zip through [[Xlsx]] — the reference's detection filter
    * accepts both extensions (etl_payroll_pipeline.py:69,74), and
    * mislabeled files are common. */
  def readXlsx(spark: SparkSession, storage: StorageClient,
               path: String, sheetName: Option[String] = None): DataFrame = {
    val (header, rows) = decodeXlsx(storage, path, sheetName)
    val schema = StructType(header.map(c => StructField(c, StringType, nullable = true)) :+
      StructField(DedupOps.OrdinalCol, org.apache.spark.sql.types.LongType, nullable = false))
    val data = rows.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.map(_.orNull) :+ i.toLong)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toSeq, 1), schema)
  }

  /** [[readXlsx]]'s driver-side decode alone: the (header, rows) of the
    * workbook at `path`, with no DataFrame built. A malformed workbook
    * fails here with the codec's named cause. */
  def decodeXlsx(storage: StorageClient, path: String,
                 sheetName: Option[String] = None)
      : (Seq[String], Seq[Seq[Option[String]]]) = {
    val bytes = storage.readBytes(path)
    if (Xls.isOle2(bytes)) Xls.readTable(bytes, sheetName)
    else Xlsx.readTable(bytes, sheetName)
  }

  /** S6 + S7 — both sinks of one pipeline result, from ONE collect: the
    * frame is collected once in ingest order ([[collectInIngestOrder]])
    * and the CSV and the XLSX are rendered on the driver from those rows,
    * so its plan is analysed, optimized and run once, with no cache.
    * Returns the CSV path, then the XLSX path. */
  def writeCsvAndXlsx(df: DataFrame, storage: StorageClient, folder: String,
                      csvName: String, xlsxName: String): Seq[String] = {
    val rows = collectInIngestOrder(df)
    Seq(storage.writeBytes(folder, csvName, renderCsv(rows)),
        storage.writeBytes(folder, xlsxName, renderXlsx(rows)))
  }

  /** S6 — CSV sink: ONE file, header, UTF-8, no index column, rows in
    * ingest order (ref 396-403, 606-613). Outputs are small by contract
    * (post-aggregation pipeline results), so the bytes are assembled
    * driver-side and written through the StorageClient — this is the
    * collect-and-write path the survey documents; large results would use
    * df.write.csv. Rows are ordered by `_ingest_ord` on the driver after
    * the collect. Timestamps are rendered ISO `yyyy-MM-dd HH:mm:ss`
    * (pandas default). A run writing both sinks uses [[writeCsvAndXlsx]]. */
  def writeCsv(df: DataFrame, storage: StorageClient, folder: String,
               name: String): String =
    storage.writeBytes(folder, name, csvBytes(df))

  /** CSV bytes matching pandas `to_csv` byte-for-byte (verified against
    * pandas 2.2 semantics): LF line endings on every line; a datetime
    * column whose non-null values are all midnight renders date-only
    * (`2024-07-01`), otherwise `yyyy-MM-dd HH:mm:ss[.ffffff]`; a null in a
    * datetime column (NaT) renders as a QUOTED empty field (`""`), while a
    * null in any other column renders as an unquoted empty field. */
  def csvBytes(df: DataFrame): Array[Byte] = renderCsv(collectInIngestOrder(df))

  /** S7 — XLSX sink, mirror of S4 (ref 410-417, 620-627), rows in ingest
    * order like S6. Every column renders to a string cell on the driver: a
    * timestamp as `yyyy-MM-dd HH:mm:ss` in the session time zone (what
    * `date_format` gives), any other value as the CSV sink renders it
    * unquoted; a null is an empty cell. The sheet streams into its zip
    * entry ([[Xlsx.write]]). */
  def writeXlsx(df: DataFrame, storage: StorageClient, folder: String,
                name: String): String =
    storage.writeBytes(folder, name, renderXlsx(collectInIngestOrder(df)))

  /** A collected sink frame: `rows` in ingest order, of which the columns
    * at `keep` (every column but the ordinal) are written, described by
    * `fields`. */
  private final case class Collected(fields: Array[StructField], keep: Array[Int],
                                     rows: Array[Row], zone: ZoneId)

  /** Collect a small-by-contract sink frame (post-aggregation pipeline
    * output) in ingest order. When `df` carries `_ingest_ord`, the rows
    * are sorted by it HERE, on the driver, and the ordinal is not written:
    * the sink collects every row anyway, so a global `orderBy` would only
    * add a range-partition sample job and a sort exchange. The sort is
    * stable and independent of the frame's partitioning. A frame without
    * the ordinal keeps its collect order. */
  private def collectInIngestOrder(df: DataFrame): Collected = {
    val all = df.schema.fields
    val ordIdx = all.indexWhere(_.name == DedupOps.OrdinalCol)
    val keep = all.indices.filter(_ != ordIdx).toArray
    val collected = df.collect()
    val rows = if (ordIdx < 0) collected else collected.sortBy(_.getLong(ordIdx))
    Collected(keep.map(all), keep, rows,
      DateTimeUtils.getZoneId(df.sparkSession.sessionState.conf.sessionLocalTimeZone))
  }

  private def instantAt(r: Row, i: Int): Instant = r.get(i) match {
    case t: java.sql.Timestamp => t.toInstant
    case t: Instant => t
    case other => throw new IllegalStateException(s"not a timestamp: $other")
  }

  private def renderCsv(c: Collected): Array[Byte] = {
    val isTs = c.fields.map(_.dataType == TimestampType)
    // pandas renders a datetime column date-only iff every non-null value
    // is exactly midnight (DatetimeIndex "dates only" formatting)
    val dateOnly = c.keep.indices.map { j =>
      isTs(j) && c.rows.forall { r =>
        r.isNullAt(c.keep(j)) || {
          val t = instantAt(r, c.keep(j))
          t.getEpochSecond % 86400 == 0 && t.getNano == 0
        }
      }
    }
    val fmtDate = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)
    val fmtSec = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
    val fmtMicro = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)
    val sb = new java.lang.StringBuilder
    def line(field: Int => Unit): Unit = {
      c.keep.indices.foreach { j =>
        if (j > 0) sb.append(',')
        field(j)
      }
      sb.append('\n')
    }
    line(j => appendCsv(sb, c.fields(j).name))
    c.rows.foreach { r =>
      line { j =>
        val i = c.keep(j)
        if (isTs(j)) {
          if (r.isNullAt(i)) sb.append("\"\"") // NaT → quoted empty field
          else {
            val t = instantAt(r, i)
            val fmt = if (dateOnly(j)) fmtDate else if (t.getNano == 0) fmtSec else fmtMicro
            fmt.formatTo(t, sb)
          }
        } else if (!r.isNullAt(i)) appendCsv(sb, r.get(i).toString)
      }
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  private def renderXlsx(c: Collected): Array[Byte] = {
    val fmtSec = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(c.zone)
    val isTs = c.fields.map(_.dataType == TimestampType)
    val cells = c.rows.view.map { r =>
      c.keep.indices.map { j =>
        val i = c.keep(j)
        if (r.isNullAt(i)) None
        else if (isTs(j)) Some(fmtSec.format(instantAt(r, i)))
        else Some(r.get(i).toString)
      }
    }
    Xlsx.write(c.fields.map(_.name).toSeq, cells)
  }

  // pandas' C writer (lineterminator '\n', QUOTE_MINIMAL) quotes a field
  // only when it contains the delimiter, the quote char, or the line
  // terminator — a bare '\r' ships UNQUOTED (verified against pandas 2.2.2,
  // pinned byte-for-byte in CsvRoundtripSpec). Do not "fix" this to quote
  // '\r': byte parity with the reference's to_csv output is the contract.
  private def appendCsv(sb: java.lang.StringBuilder, s: String): Unit =
    if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      sb.append('"').append(s.replace("\"", "\"\"")).append('"')
    else sb.append(s)
}
