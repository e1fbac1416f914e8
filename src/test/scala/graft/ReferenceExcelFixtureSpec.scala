package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Inspect, XlsxLite, XlsxSource}

/** Conformance over the reference's shipped EXCEL fixture
  * (`tests/test_data/excel/data.xlsx`) — the cases
  * `/root/reference/tests/source/test_excel.py:13-27` pins: 251 data
  * rows under a `series name`/`ts`/`value` header, and 252 rows named
  * "0"/"1"/"2" when `excel_header_row=False` — plus the OOXML cell
  * grammar the fixture is too simple to exercise (numerics, booleans,
  * date-styled serials, inline strings, sparse cells, rich-text
  * shared strings), pinned via workbooks written by [[XlsxLite.write]]
  * and hand-built XML.
  */
class ReferenceExcelFixtureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def Fixture = s"${ReferenceCheckout.root}/tests/test_data/excel/data.xlsx"
  private def fixtureBytes: Array[Byte] = Files.readAllBytes(java.nio.file.Paths.get(Fixture))

  // ---- the reference's own test cases -------------------------------

  test("test_excel: 251 rows with series name/ts/value header") {
    val df = XlsxSource.read(spark, Fixture, "data")
    assert(df.count() === 251L)
    assert(df.columns.toSeq === Seq("series name", "ts", "value"))
    // all-shared-string fixture: every column infers string
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    val first = df.limit(1).collect()(0)
    assert(first.getString(0) === "S01")
    assert(first.getString(1) === "2024-08-13T09:18:19Z")
    assert(first.getString(2) === "25.82")
  }

  test("test_excel_without_header_row: 252 rows named 0/1/2") {
    val df = XlsxSource.read(spark, Fixture, "data", headerRow = false)
    assert(df.count() === 252L)
    assert(df.columns.toSeq === Seq("0", "1", "2"))
    // the header row stays in the data
    assert(df.where(df("0") === "series name").count() === 1L)
  }

  test("list_sheets returns workbook order") {
    assert(XlsxLite.listSheets(fixtureBytes) === Seq("data"))
    assert(XlsxSource.listSheets(spark, Fixture) === Seq("data"))
  }

  test("unknown sheet fails with the available names") {
    val e = intercept[IllegalArgumentException](XlsxSource.read(spark, Fixture, "nope"))
    assert(e.getMessage.contains("data"))
  }

  // ---- inspect integration (kukur/inspect/arrow.py:33,133) ----------

  test("inspect of a workbook file lists worksheets as path@sheet") {
    val rows = Inspect.listPath(spark, Fixture).collect()
    assert(rows.length === 1)
    assert(rows(0).getString(0).endsWith("data.xlsx@data"))
    assert(rows(0).getString(1) === "excel-worksheet")
  }

  test("inspect folder listing marks workbooks excel-workbook") {
    val rows = Inspect.listPath(spark, s"${ReferenceCheckout.root}/tests/test_data/excel").collect()
    val wb = rows.find(_.getString(0).endsWith("data.xlsx"))
    assert(wb.exists(_.getString(1) === "excel-workbook"))
  }

  test("readDataset resolves @sheet refs and honors excelHeaderRow") {
    val df = Inspect.readDataset(spark, s"$Fixture@data")
    assert(df.count() === 251L)
    val noHeader = Inspect.readDataset(spark, s"$Fixture@data", Inspect.Options(excelHeaderRow = false))
    assert(noHeader.count() === 252L)
    val pruned = Inspect.readDataset(spark, s"$Fixture@data", Inspect.Options(columnNames = Seq("series name")))
    assert(pruned.columns.toSeq === Seq("series name"))
  }

  test("readDataset on a bare workbook points at the worksheets") {
    val e = intercept[IllegalArgumentException](Inspect.readDataset(spark, Fixture))
    assert(e.getMessage.contains("@<sheet>") && e.getMessage.contains("data"))
  }

  // ---- OOXML grammar beyond the fixture ------------------------------

  private def tempWorkbook(bytes: Array[Byte]): Path = {
    val f = Files.createTempFile("graft-xlsx", ".xlsx")
    Files.write(f, bytes)
    f
  }

  test("typed round-trip: longs stay long, doubles double, bools bool") {
    val bytes = XlsxLite.write(
      Seq("name", "n", "x", "ok"),
      Iterator(Seq("a", 1L, 1.5, true), Seq("b", 2L, -2.25, false), Seq("c", 3L, 0.1, true)),
    )
    val f = tempWorkbook(bytes)
    val df = XlsxSource.read(spark, f.toString, "data")
    assert(df.schema.map(f => (f.name, f.dataType.typeName)) ===
      Seq(("name", "string"), ("n", "long"), ("x", "double"), ("ok", "boolean")))
    val rows = df.orderBy("name").collect()
    assert(rows.map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L))
    assert(rows.map(_.getDouble(2)).toSeq === Seq(1.5, -2.25, 0.1))
    assert(rows.map(_.getBoolean(3)).toSeq === Seq(true, false, true))
  }

  test("numeric mix widens to double; string mix stringifies") {
    val bytes = XlsxLite.write(
      Seq("mix", "s"),
      // Seq[Any]: a bare Seq(2.5, 7L) would numerically widen 7L to 7.0
      Iterator(Seq[Any](1L, "x"), Seq[Any](2.5, 7L)),
    )
    val df = XlsxSource.read(spark, tempWorkbook(bytes).toString, "data")
    assert(df.schema.map(_.dataType.typeName) === Seq("double", "string"))
    assert(df.orderBy("mix").collect().map(_.getString(1)).toSeq === Seq("x", "7"))
  }

  test("date-styled serial cells decode as timestamps (1900 system)") {
    // hand-built sheet: numFmtId 14 (builtin date) on style 1; serial
    // 45000.5 = 2023-03-15T12:00:00Z in the 1899-12-30 system
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><t>ts</t></is></c></row>""" +
        """<row r="2"><c r="A2" s="1"><v>45000.5</v></c></row>""" +
        """</sheetData></worksheet>"""
    val styles =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        """<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14"/></cellXfs></styleSheet>"""
    val bytes = buildZip(Map("xl/worksheets/sheet1.xml" -> sheet, "xl/styles.xml" -> styles))
    val grid = XlsxLite.parseGrid(bytes, "data")
    assert(grid(1)(0) === XlsxLite.TsCell(java.time.Instant.parse("2023-03-15T12:00:00Z").toEpochMilli * 1000L))
    val df = XlsxSource.read(spark, tempWorkbook(bytes).toString, "data")
    assert(df.schema.head.dataType.typeName === "timestamp")
    assert(df.collect()(0).getTimestamp(0).toInstant === java.time.Instant.parse("2023-03-15T12:00:00Z"))
  }

  test("custom date format codes count; bracketed/quoted tokens do not") {
    val styles =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        """<numFmts count="2">""" +
        """<numFmt numFmtId="164" formatCode="yyyy-mm-dd"/>""" +
        """<numFmt numFmtId="165" formatCode="[Red]0.00&quot;my&quot;"/>""" +
        """</numFmts>""" +
        """<cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="164"/><xf numFmtId="165"/></cellXfs></styleSheet>"""
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" s="1"><v>45000</v></c><c r="B1" s="2"><v>45000</v></c></row>""" +
        """</sheetData></worksheet>"""
    val grid = XlsxLite.parseGrid(buildZip(Map("xl/worksheets/sheet1.xml" -> sheet, "xl/styles.xml" -> styles)), "data")
    assert(grid(0)(0).isInstanceOf[XlsxLite.TsCell])
    assert(grid(0)(1) === XlsxLite.NumCell("45000"))
  }

  test("sparse cells land in their ref column; rows pad to the widest") {
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="C1"><v>3</v></c></row>""" +
        """<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>2</v></c></row>""" +
        """</sheetData></worksheet>"""
    val grid = XlsxLite.parseGrid(buildZip(Map("xl/worksheets/sheet1.xml" -> sheet)), "data")
    assert(grid === Vector(
      Vector(XlsxLite.NullCell, XlsxLite.NullCell, XlsxLite.NumCell("3")),
      Vector(XlsxLite.NumCell("1"), XlsxLite.NumCell("2"), XlsxLite.NullCell),
    ))
  }

  test("omitted rows (gaps in r= numbering) yield empty padded rows") {
    // Excel-authored files omit entirely-empty rows; openpyxl's
    // worksheet.values still yields a None row for each
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1"><v>1</v></c></row>""" +
        """<row r="4"><c r="A4"><v>4</v></c></row>""" +
        """</sheetData></worksheet>"""
    val grid = XlsxLite.parseGrid(buildZip(Map("xl/worksheets/sheet1.xml" -> sheet)), "data")
    assert(grid === Vector(
      Vector(XlsxLite.NumCell("1")),
      Vector(XlsxLite.NullCell),
      Vector(XlsxLite.NullCell),
      Vector(XlsxLite.NumCell("4")),
    ))
  }

  test("rich-text shared strings concatenate their runs") {
    val sst =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="1" uniqueCount="1">""" +
        """<si><r><t>Hello </t></r><r><t>world</t></r></si></sst>"""
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="s"><v>0</v></c></row>""" +
        """</sheetData></worksheet>"""
    val grid = XlsxLite.parseGrid(buildZip(Map("xl/worksheets/sheet1.xml" -> sheet, "xl/sharedStrings.xml" -> sst)), "data")
    assert(grid === Vector(Vector(XlsxLite.StrCell("Hello world"))))
  }

  test("a directory of workbooks parses per file") {
    val dir = Files.createTempDirectory("graft-xlsx-dir")
    Files.write(dir.resolve("a.xlsx"), XlsxLite.write(Seq("k", "v"), Iterator(Seq("a", 1L))))
    Files.write(dir.resolve("b.xlsx"), XlsxLite.write(Seq("k", "v"), Iterator(Seq("b", 2L), Seq("c", 3L))))
    val df = XlsxSource.read(spark, dir.toString, "data")
    assert(df.count() === 3L)
    assert(df.orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a", 1L), ("b", 2L), ("c", 3L)))
  }

  test("legacy BIFF .xls is rejected loudly") {
    val f = Files.createTempFile("graft-legacy", ".xls")
    Files.write(f, Array[Byte](0xD0.toByte, 0xCF.toByte, 0x11, 0xE0.toByte))
    val e = intercept[Exception](XlsxSource.read(spark, f.toString, "data"))
    assert(e.getMessage != null)
  }

  /** Assemble a minimal workbook zip with overridable parts. */
  private def buildZip(parts: Map[String, String]): Array[Byte] = {
    val base = Map(
      "xl/workbook.xml" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
          """<sheets><sheet name="data" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" ->
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
          """</Relationships>"""),
    )
    val bos = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bos)
    (base ++ parts).foreach { case (name, content) =>
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      zip.closeEntry()
    }
    zip.close()
    bos.toByteArray
  }
}
