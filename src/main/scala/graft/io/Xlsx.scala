package graft.io

import java.io.{BufferedWriter, ByteArrayInputStream, ByteArrayOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import scala.collection.mutable

/** Minimal XLSX codec (SURVEY.md S4/S7).
  *
  * The reference reads/writes Excel via pandas+openpyxl
  * (/root/reference/etl_payroll_pipeline.py:84,92,151,410-417,620-627); the
  * offline environment has no POI/spark-excel jar, so this is a hand-rolled
  * implementation of the subset the pipelines need: first worksheet, header
  * row 0, shared/inline strings and numeric cells — every value surfaced as
  * String (the engine's all-string ingest rule, SURVEY §1.3).
  *
  * An .xlsx file is a zip: `xl/worksheets/sheetN.xml` holds cells,
  * `xl/sharedStrings.xml` the string pool, `xl/styles.xml` the number
  * formats (date-styled cells resolve through it — [[ExcelDates]]),
  * `xl/workbook.xml` the sheet order + 1904-epoch flag. `.xls` (binary
  * BIFF) dispatches to [[Xls]] via TableIo's magic check.
  */
object Xlsx {

  /** Read one worksheet into rows of optional cell values.
    * Missing cells inside a row (gaps in cell references) become None.
    * `sheetName = None` reads the FIRST sheet in workbook order (the
    * pandas `read_excel` default); `Some(name)` selects by the workbook
    * sheet name (the `sheet_name=` analog) and fails loud when absent.
    *
    * Date-styled numeric cells (style numFmt builtin 14–22/27–36/45–47/
    * 50–58 or a date-like custom format, honoring the workbook 1904
    * epoch flag) surface as ISO-8601 strings via [[ExcelDates]] — the
    * value pandas' datetime64 would carry, so `try_to_timestamp`
    * downstream (D8) parses them. Elapsed-duration custom formats fail
    * loud ([[ExcelDates.isDateFormatCode]]).
    *
    * A binary `.xls` payload (OLE2/CFB container, magic D0 CF 11 E0 —
    * [MS-CFB] §2.2) fails loudly here instead of surfacing a raw
    * ZipException; [[Xls.read]] is the BIFF8 reader for that format
    * (TableIo.readXlsx dispatches on the magic automatically). */
  def read(bytes: Array[Byte],
           sheetName: Option[String] = None): Seq[Seq[Option[String]]] = {
    if (bytes.length >= 4 &&
        (bytes(0) & 0xFF) == 0xD0 && (bytes(1) & 0xFF) == 0xCF &&
        (bytes(2) & 0xFF) == 0x11 && (bytes(3) & 0xFF) == 0xE0)
      throw new IllegalArgumentException(
        "binary .xls (BIFF/OLE2) payload — use Xls.read (TableIo.readXlsx" +
          " dispatches on the magic automatically)")

    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val entries = mutable.Map.empty[String, Array[Byte]]
    var e = zin.getNextEntry
    while (e != null) {
      if (!e.isDirectory) entries(e.getName) = readAll(zin)
      e = zin.getNextEntry
    }
    zin.close()

    val shared = entries.get("xl/sharedStrings.xml")
      .map(parseSharedStrings).getOrElse(Vector.empty)
    val xfIsDate = entries.get("xl/styles.xml")
      .map(parseStyleDates).getOrElse(Vector.empty[() => Boolean])
    val (date1904, sheetsInOrder) = entries.get("xl/workbook.xml")
      .map(parseWorkbook).getOrElse((false, Vector.empty))
    val rels = entries.get("xl/_rels/workbook.xml.rels")
      .map(parseRels).getOrElse(Map.empty[String, String])

    // resolve the target sheet part: workbook order via rels when both
    // parts exist (the spec'd path — covers renamed/reordered sheets);
    // else fall back to the sheetN.xml filename convention.
    def partOf(rid: String): Option[String] = rels.get(rid).map { t =>
      val clean = t.stripPrefix("/").stripPrefix("xl/")
      s"xl/$clean"
    }
    val byConvention = entries.keys
      .filter(_.matches("xl/worksheets/sheet\\d+\\.xml"))
      .toSeq.sortBy(n => n.replaceAll("\\D", "").toInt)
    val part: Option[String] = sheetName match {
      case Some(want) =>
        val hit = sheetsInOrder.find(_._1 == want).getOrElse(
          throw new IllegalArgumentException(
            s"no sheet named '$want' — workbook has " +
              sheetsInOrder.map(_._1).mkString("[", ", ", "]")))
        partOf(hit._2).filter(entries.contains).orElse(
          throw new IllegalArgumentException(
            s"sheet '$want' (${hit._2}) has no resolvable worksheet part"))
      case None =>
        sheetsInOrder.headOption match {
          case Some((name, rid)) =>
            partOf(rid) match {
              case Some(target) =>
                // the workbook DECLARES a first sheet and rels resolves
                // it: the part must exist — a silent byConvention
                // fallback could read a DIFFERENT sheet than workbook
                // order (inconsistent with the Some(name) path, which
                // fails loud on an unresolvable part)
                if (entries.contains(target)) Some(target)
                else throw new IllegalArgumentException(
                  s"workbook-declared first sheet '$name' ($rid) " +
                    s"resolves to missing part '$target' — refusing " +
                    "to guess another sheet")
              case None =>
                // no rels metadata for the declared sheet (fixture-grade
                // workbooks omit rels entirely): the filename convention
                // is the only remaining order source
                byConvention.headOption
            }
          case None => // no workbook metadata at all: filename convention
            byConvention.headOption
        }
    }
    part.map(p => parseSheet(entries(p), shared, xfIsDate, date1904))
      .getOrElse(Seq.empty)
  }

  /** Read into (header, dataRows) where the header is row 0 trimmed, and
    * data cells are right-padded with None to the header width. */
  def readTable(bytes: Array[Byte], sheetName: Option[String] = None)
      : (Seq[String], Seq[Seq[Option[String]]]) = {
    val rows = read(bytes, sheetName)
    if (rows.isEmpty) (Seq.empty, Seq.empty)
    else {
      val header = rows.head.map(_.getOrElse(""))
      val width = header.length
      val data = rows.tail.map(r => r.padTo(width, None).take(width))
      (header, data)
    }
  }

  /** Write a single-sheet workbook: header + rows, all inline strings;
    * None → empty cell omitted. */
  def write(header: Seq[String], rows: Iterable[Seq[Option[String]]]): Array[Byte] =
    write(header, rows, Set.empty)

  /** Write with DATE-STYLED cells: a cell in a `dateCols` column whose
    * value is ISO-shaped ("yyyy-MM-dd[ HH:mm:ss[.ffffff]]") is written
    * as a NUMERIC cell (1900-system serial) styled with builtin datetime
    * numFmt 22 — what pandas `to_excel` produces for a datetime64
    * column. Non-ISO values (and dates inside the pre-1900-03-01
    * phantom window) stay plain string cells. Readback through [[read]]
    * reproduces the original ISO strings.
    *
    * The sheet XML streams through a buffered UTF-8 writer into its zip
    * entry as `rows` is traversed once: no whole-sheet string is built. */
  def write(header: Seq[String], rows: Iterable[Seq[Option[String]]],
            dateCols: Set[String]): Array[Byte] = {
    val dateIdx: Set[Int] =
      header.zipWithIndex.collect { case (h, i) if dateCols(h) => i }.toSet
    val withStyles = dateIdx.nonEmpty
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    val stylesOverride =
      if (withStyles)
        "\n<Override PartName=\"/xl/styles.xml\" ContentType=\"application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml\"/>"
      else ""
    put("[Content_Types].xml",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |<Default Extension="xml" ContentType="application/xml"/>
        |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
        |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>$stylesOverride
        |</Types>""".stripMargin)
    put("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin)
    put("xl/workbook.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
        |</workbook>""".stripMargin)
    val stylesRel =
      if (withStyles)
        "\n<Relationship Id=\"rId2\" Type=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles\" Target=\"styles.xml\"/>"
      else ""
    put("xl/_rels/workbook.xml.rels",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>$stylesRel
        |</Relationships>""".stripMargin)
    if (withStyles)
      // xf 0 = General (cells default here), xf 1 = builtin datetime 22
      put("xl/styles.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="22" applyNumberFormat="1"/></cellXfs>
          |</styleSheet>""".stripMargin)

    z.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
    // closing the writer would close the zip: flush it, then close the entry
    val w = new BufferedWriter(new OutputStreamWriter(z, StandardCharsets.UTF_8), 1 << 16)
    w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    val refs = mutable.ArrayBuffer.empty[String] // column letters, once each
    def rowXml(r: Int, cells: Seq[Option[String]], isHeader: Boolean): Unit = {
      val rowNum = Integer.toString(r + 1)
      w.write("<row r=\""); w.write(rowNum); w.write("\">")
      var c = 0
      cells.foreach { cell =>
        cell.foreach { v =>
          while (refs.size <= c) refs += colRef(refs.size)
          w.write("<c r=\""); w.write(refs(c)); w.write(rowNum)
          val serial =
            if (!isHeader && withStyles && dateIdx(c)) ExcelDates.isoToSerial(v) else None
          serial match {
            case Some(d) =>
              w.write("\" s=\"1\"><v>")
              w.write(if (d == math.rint(d)) d.toLong.toString else d.toString)
              w.write("</v></c>")
            case None =>
              w.write("\" t=\"inlineStr\"><is><t xml:space=\"preserve\">")
              writeEscaped(w, v)
              w.write("</t></is></c>")
          }
        } // None: empty cell omitted
        c += 1
      }
      w.write("</row>")
    }
    rowXml(0, header.map(Some(_)), isHeader = true)
    var r = 1
    rows.foreach { cells => rowXml(r, cells, isHeader = false); r += 1 }
    w.write("</sheetData></worksheet>")
    w.flush()
    z.closeEntry()
    z.close()
    bos.toByteArray
  }

  // --- internals -----------------------------------------------------------

  private def readAll(in: java.io.InputStream): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    var n = in.read(tmp)
    while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
    buf.toByteArray
  }

  private def parseSharedStrings(bytes: Array[Byte]): Vector[String] = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(new ByteArrayInputStream(bytes))
    val out = Vector.newBuilder[String]
    var current: StringBuilder = null
    var inT = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => current = new StringBuilder
            case "t" if current != null => inT = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS if inT =>
          current.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t" => inT = false
            case "si" => out += current.toString; current = null
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    out.result()
  }

  private def parseSheet(bytes: Array[Byte], shared: Vector[String],
                         xfIsDate: Vector[() => Boolean],
                         date1904: Boolean): Seq[Seq[Option[String]]] = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(new ByteArrayInputStream(bytes))
    val rows = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Option[String]]]
    var row: mutable.ArrayBuffer[Option[String]] = null
    var cellCol = -1
    var cellType = ""
    var cellStyle: Option[Int] = None
    var inV = false
    var inIsT = false
    var text = new StringBuilder
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" => row = mutable.ArrayBuffer.empty
            case "c" =>
              val ref = Option(r.getAttributeValue(null, "r"))
              cellCol = ref.map(colIndex).getOrElse(row.length)
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
              cellStyle = Option(r.getAttributeValue(null, "s"))
                .flatMap(_.toIntOption)
              text = new StringBuilder
            case "v" => inV = true
            case "t" => inIsT = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS if inV || inIsT =>
          text.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v" => inV = false
            case "t" => inIsT = false
            case "c" =>
              val raw = text.toString
              val value: Option[String] = cellType match {
                case "s" => raw.toIntOption.flatMap(shared.lift)
                case "" | "n" if raw.nonEmpty &&
                    cellStyle.flatMap(xfIsDate.lift).exists(_.apply()) =>
                  // date-styled numeric cell: serial → ISO (pandas parity)
                  Some(ExcelDates.serialToIso(raw.toDouble, date1904))
                case "inlineStr" | "str" | "" | "n" | "b" =>
                  if (raw.isEmpty && cellType != "inlineStr") None else Some(raw)
                case _ => if (raw.isEmpty) None else Some(raw)
              }
              while (row.length < cellCol) row += None
              row += value
            case "row" => rows += row; row = null
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    rows.map(_.toSeq).toSeq
  }

  /** `xl/styles.xml` → per-cellXf "is a date style" resolvers, in xf
    * order (a cell's `s` attribute indexes this). Builtin ids resolve
    * immediately; custom formatCodes resolve (and fail loud on
    * elapsed-duration codes) only when a cell actually uses them. */
  private def parseStyleDates(bytes: Array[Byte]): Vector[() => Boolean] = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(new ByteArrayInputStream(bytes))
    val custom = mutable.Map.empty[Int, String] // numFmtId -> formatCode
    val xfIds = Vector.newBuilder[Int]
    var inCellXfs = false
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "numFmt" =>
              for (id <- Option(r.getAttributeValue(null, "numFmtId"))
                     .flatMap(_.toIntOption);
                   code <- Option(r.getAttributeValue(null, "formatCode")))
                custom(id) = code
            case "cellXfs" => inCellXfs = true
            case "xf" if inCellXfs =>
              xfIds += Option(r.getAttributeValue(null, "numFmtId"))
                .flatMap(_.toIntOption).getOrElse(0)
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" =>
          inCellXfs = false
        case _ =>
      }
    }
    r.close()
    // custom codes classify LAZILY, on first CELL USE (matching the Xls
    // reader's per-cell resolution): an elapsed-duration style that no
    // numeric cell references must not fail a read pandas accepts
    xfIds.result().map { id =>
      custom.get(id) match {
        case Some(code) => () => ExcelDates.isDateFormatCode(code)
        case None =>
          val b = ExcelDates.isBuiltinDate(id); () => b
      }
    }
  }

  /** `xl/workbook.xml` → (date1904 flag, sheets in workbook order as
    * (name, relationship id)). */
  private def parseWorkbook(bytes: Array[Byte])
      : (Boolean, Vector[(String, String)]) = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(new ByteArrayInputStream(bytes))
    var date1904 = false
    val sheets = Vector.newBuilder[(String, String)]
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "workbookPr" =>
              date1904 = Option(r.getAttributeValue(null, "date1904"))
                .exists(v => v == "1" || v == "true")
            case "sheet" =>
              val name = Option(r.getAttributeValue(null, "name")).getOrElse("")
              // r:id lives in the relationships namespace; scan attrs by
              // local name so the prefix binding doesn't matter
              val rid = (0 until r.getAttributeCount)
                .find(i => r.getAttributeLocalName(i) == "id")
                .map(r.getAttributeValue).getOrElse("")
              sheets += ((name, rid))
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    (date1904, sheets.result())
  }

  /** `xl/_rels/workbook.xml.rels` → Relationship Id → Target part. */
  private def parseRels(bytes: Array[Byte]): Map[String, String] = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(new ByteArrayInputStream(bytes))
    val out = Map.newBuilder[String, String]
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT
            if r.getLocalName == "Relationship" =>
          for (id <- Option(r.getAttributeValue(null, "Id"));
               t <- Option(r.getAttributeValue(null, "Target")))
            out += id -> t
        case _ =>
      }
    }
    r.close()
    out.result()
  }

  /** "A"→0, "B"→1, …, "AA"→26 from a cell ref like "BC12". */
  private def colIndex(ref: String): Int = {
    var i = 0; var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
    }
    acc - 1
  }

  private def colRef(c: Int): String = {
    var n = c + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  /** `s` with `&`, `<` and `>` escaped, written without building a copy. */
  private def writeEscaped(w: Writer, s: String): Unit = {
    var start = 0
    var i = 0
    while (i < s.length) {
      val entity = s.charAt(i) match {
        case '&' => "&amp;"
        case '<' => "&lt;"
        case '>' => "&gt;"
        case _ => null
      }
      if (entity != null) {
        w.write(s, start, i - start)
        w.write(entity)
        start = i + 1
      }
      i += 1
    }
    w.write(s, start, s.length - start)
  }
}
