package graft.io

class XlsxSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("write → read roundtrip preserves header, values, nulls, specials") {
    val header = Seq("A Col", "B & <Col>", "C")
    val rows = Seq(
      Seq(Some("v1"), Some("2.0"), None),
      Seq(None, Some("x & <y>"), Some("  spaced  ")),
      Seq(Some("ok"), None, None))
    val bytes = Xlsx.write(header, rows)
    val (h2, r2) = Xlsx.readTable(bytes)
    assert(h2 == header)
    assert(r2 == rows)
  }

  test("reader pads short rows and handles cell-reference gaps") {
    // hand-build a sheet where row 2 skips column B entirely
    val bytes = Xlsx.write(Seq("A", "B", "C"),
      Seq(Seq(Some("1"), None, Some("3"))))
    val (_, rows) = Xlsx.readTable(bytes)
    assert(rows.head == Seq(Some("1"), None, Some("3")))
  }

  test("binary .xls (BIFF/OLE2 magic) fails loudly, not with a zip error") {
    // an OLE2 compound-file header: D0 CF 11 E0 A1 B1 1A E1 + padding
    val biff = Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1)
      .map(_.toByte) ++ Array.fill[Byte](504)(0)
    val ex = intercept[IllegalArgumentException](Xlsx.read(biff))
    assert(ex.getMessage.contains(".xls"))
    // the message now routes to the BIFF8 reader instead of demanding a
    // manual conversion (XlsSpec covers that path)
    assert(ex.getMessage.contains("Xls.read"))
  }

  test("shared-strings workbooks parse (synthetic sharedStrings.xml)") {
    val bytes = zipOf(
      "xl/sharedStrings.xml" ->
        """<?xml version="1.0"?><sst><si><t>H1</t></si><si><t>val one</t></si></sst>""",
      "xl/worksheets/sheet1.xml" ->
        """<?xml version="1.0"?><worksheet><sheetData>
          |<row r="1"><c r="A1" t="s"><v>0</v></c></row>
          |<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v>42.5</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    val (header, rows) = Xlsx.readTable(bytes)
    assert(header == Seq("H1"))
    assert(rows == Seq(Seq(Some("val one"))))         // padded to header width
    val full = Xlsx.read(bytes)
    assert(full(1) == Seq(Some("val one"), Some("42.5"))) // numeric as string
  }

  // --- date-styled cells + multi-sheet (round-14 S4 completion) -----------

  private def zipOf(parts: (String, String)*): Array[Byte] = {
    import java.io.ByteArrayOutputStream
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    parts.foreach { case (n, c) =>
      z.putNextEntry(new ZipEntry(n)); z.write(c.getBytes("UTF-8")); z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  // styles: xf 0 = General, xf 1 = builtin date 14, xf 2 = builtin 0.00,
  // xf 3 = custom yyyy-mm-dd hh:mm, xf 4 = custom plain number
  private val stylesXml =
    """<?xml version="1.0"?>
      |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
      |<numFmts count="2">
      |<numFmt numFmtId="164" formatCode="yyyy\-mm\-dd\ hh:mm"/>
      |<numFmt numFmtId="165" formatCode="#,##0.0"/>
      |</numFmts>
      |<cellStyleXfs count="1"><xf numFmtId="0"/></cellStyleXfs>
      |<cellXfs count="5">
      |<xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/>
      |<xf numFmtId="2"/><xf numFmtId="164" applyNumberFormat="1"/>
      |<xf numFmtId="165"/>
      |</cellXfs></styleSheet>""".stripMargin

  test("date-styled cells surface as ISO strings (builtin + custom fmt)") {
    val bytes = zipOf(
      "xl/styles.xml" -> stylesXml,
      "xl/worksheets/sheet1.xml" ->
        """<?xml version="1.0"?><worksheet><sheetData>
          |<row r="1"><c r="A1" t="inlineStr"><is><t>Calc Date</t></is></c>
          |<c r="B1" t="inlineStr"><is><t>Amt</t></is></c></row>
          |<row r="2"><c r="A2" s="1"><v>45000</v></c><c r="B2" s="2"><v>12.5</v></c></row>
          |<row r="3"><c r="A3" s="3"><v>45000.520833333336</v></c><c r="B3" s="4"><v>7</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    val (h, rows) = Xlsx.readTable(bytes)
    assert(h == Seq("Calc Date", "Amt"))
    // builtin 14 → date; builtin 2 / custom #,##0.0 stay raw numerics
    assert(rows == Seq(
      Seq(Some("2023-03-15"), Some("12.5")),
      Seq(Some("2023-03-15 12:30:00"), Some("7"))))
  }

  test("the workbook 1904-epoch flag shifts date cells") {
    val bytes = zipOf(
      "xl/workbook.xml" ->
        """<?xml version="1.0"?>
          |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |<workbookPr date1904="1"/>
          |<sheets><sheet name="S" sheetId="1"/></sheets></workbook>""".stripMargin,
      "xl/styles.xml" -> stylesXml,
      "xl/worksheets/sheet1.xml" ->
        """<?xml version="1.0"?><worksheet><sheetData>
          |<row r="1"><c r="A1" s="1"><v>0</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    assert(Xlsx.read(bytes) == Seq(Seq(Some("1904-01-01"))))
  }

  test("an UNUSED elapsed-duration style does not fail the read (lazy per-cell classification)") {
    val styles =
      """<?xml version="1.0"?><styleSheet>
        |<numFmts><numFmt numFmtId="164" formatCode="[h]:mm:ss"/></numFmts>
        |<cellXfs><xf numFmtId="0"/><xf numFmtId="164"/></cellXfs></styleSheet>""".stripMargin
    val bytes = zipOf(
      "xl/styles.xml" -> styles,
      "xl/worksheets/sheet1.xml" ->
        """<?xml version="1.0"?><worksheet><sheetData>
          |<row r="1"><c r="A1" s="0"><v>7</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    // the duration style exists but no cell uses it — pandas reads this
    // workbook fine, so must we
    assert(Xlsx.read(bytes) == Seq(Seq(Some("7"))))
  }

  test("elapsed-duration custom formats fail loud (ambiguous as datetime)") {
    val styles =
      """<?xml version="1.0"?><styleSheet>
        |<numFmts><numFmt numFmtId="164" formatCode="[h]:mm:ss"/></numFmts>
        |<cellXfs><xf numFmtId="164"/></cellXfs></styleSheet>""".stripMargin
    val bytes = zipOf(
      "xl/styles.xml" -> styles,
      "xl/worksheets/sheet1.xml" ->
        """<?xml version="1.0"?><worksheet><sheetData>
          |<row r="1"><c r="A1" s="0"><v>1.5</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    val e = intercept[IllegalArgumentException](Xlsx.read(bytes))
    assert(e.getMessage.contains("duration"))
  }

  private val twoSheetWb = zipOf(
    "xl/workbook.xml" ->
      """<?xml version="1.0"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="Summary" sheetId="1" r:id="rId1"/>
        |<sheet name="Detail" sheetId="2" r:id="rId2"/></sheets></workbook>""".stripMargin,
    "xl/_rels/workbook.xml.rels" ->
      """<?xml version="1.0"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin,
    "xl/worksheets/sheet1.xml" ->
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>first</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin,
    "xl/worksheets/sheet2.xml" ->
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>second</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin)

  test("date-celled writer roundtrips ISO strings through NUMERIC cells") {
    val header = Seq("UIN", "Calc Date")
    val rows = Seq(
      Seq(Some("u1"), Some("2025-01-15")),
      Seq(Some("u2"), Some("not-a-date")),           // stays a string cell
      Seq(Some("u3"), Some("2025-06-30 08:00:00")),
      Seq(Some("u4"), None))
    val bytes = Xlsx.write(header, rows, Set("Calc Date"))
    // the workbook genuinely contains numeric date cells, not strings
    val xml = {
      val zin = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(bytes))
      Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
        .collectFirst { case e if e.getName == "xl/worksheets/sheet1.xml" =>
          new String(zin.readAllBytes(), "UTF-8") }.get
    }
    assert(xml.contains("""s="1"><v>45672</v>"""))   // 2025-01-15 as serial
    val (h, back) = Xlsx.readTable(bytes)
    assert(h == header)
    assert(back == rows)
  }

  test("a sheet larger than the writer's buffer reads back cell for cell") {
    // ~3k rows of multi-byte UTF-8 (2-, 3- and 4-byte, the last a surrogate
    // pair) and XML specials: the sheet spans many buffer flushes
    val header = Seq("id", "text", "sparse")
    val rows = (0 until 3000).map { i =>
      Seq(Some(s"r$i"), Some(s"é漢\uD83D\uDE00 & <$i> ${"x" * (i % 7)}"),
          if (i % 3 == 0) None else Some(s"a>b&c<$i"))
    }
    val (h, back) = Xlsx.readTable(Xlsx.write(header, rows))
    assert(h == header)
    assert(back == rows)
  }

  test("default read fails loud when the declared first sheet's part is " +
       "missing — never silently reads a different sheet") {
    // twoSheetWb minus sheet1.xml: rels resolves rId1 → worksheets/
    // sheet1.xml, which is absent; the old byConvention fallback would
    // have read sheet2.xml ("second") — a different sheet than workbook
    // order
    val broken = zipOf(
      "xl/workbook.xml" ->
        """<?xml version="1.0"?>
          |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
          | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |<sheets><sheet name="Summary" sheetId="1" r:id="rId1"/>
          |<sheet name="Detail" sheetId="2" r:id="rId2"/></sheets></workbook>""".stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        """<?xml version="1.0"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
          |</Relationships>""".stripMargin,
      "xl/worksheets/sheet2.xml" ->
        """<?xml version="1.0"?><worksheet><sheetData>
          |<row r="1"><c r="A1" t="inlineStr"><is><t>second</t></is></c></row>
          |</sheetData></worksheet>""".stripMargin)
    val e = intercept[IllegalArgumentException](Xlsx.read(broken))
    assert(e.getMessage.contains("Summary"))
    assert(e.getMessage.contains("missing part"))
  }

  test("sheet selection: default first-in-workbook-order, by-name analog") {
    assert(Xlsx.read(twoSheetWb) == Seq(Seq(Some("first"))))
    assert(Xlsx.read(twoSheetWb, Some("Detail")) == Seq(Seq(Some("second"))))
    assert(Xlsx.read(twoSheetWb, Some("Summary")) == Seq(Seq(Some("first"))))
    val e = intercept[IllegalArgumentException](
      Xlsx.read(twoSheetWb, Some("Nope")))
    assert(e.getMessage.contains("Nope"))
    assert(e.getMessage.contains("Detail")) // lists what exists
  }
}
