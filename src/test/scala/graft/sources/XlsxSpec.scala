package graft.sources

import java.io.FileOutputStream
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSuite
import graft.classify.HeaderSniffer
import graft.pipeline.Pipeline
import graft.schema.{ReportType, Schemas}

/** Builds a real (minimal, ECMA-376-conformant) xlsx in the test and
  * drives it through the reader and the pipeline.
  */
class XlsxSpec extends SparkSuite {
  import spark.implicits._

  /** Workbook of shared strings, inline strings, numerics, and
    * date-styled numeric cells: one sheet of `sheetRows`, then one more
    * sheet per entry of `moreSheets` (rels-less, parts in sheet order).
    */
  private def writeXlsx(path: String, sheetRows: Seq[Seq[(String, String)]],
      sharedStrings: Seq[String], date1904: Boolean = false,
      moreSheets: Seq[Seq[Seq[(String, String)]]] = Nil): Unit = {
    val zos = new ZipOutputStream(new FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    put("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    val sheets = sheetRows +: moreSheets
    val wbPr = if (date1904) """<workbookPr date1904="1"/>""" else ""
    val sheetList = sheets.indices.map(i =>
      s"""<sheet name="Report${i + 1}" sheetId="${i + 1}" r:id="rId${i + 1}" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"/>""").mkString
    put("xl/workbook.xml",
      s"""<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |$wbPr<sheets>$sheetList</sheets>
        |</workbook>""".stripMargin)
    put("xl/sharedStrings.xml",
      s"""<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${sharedStrings.size}" uniqueCount="${sharedStrings.size}">""" +
        sharedStrings.map(s => s"<si><t>${scala.xml.Utility.escape(s)}</t></si>").mkString + "</sst>")
    // style 0: general; style 1: built-in date format 22 (m/d/yy h:mm);
    // style 2: custom elapsed-time [h]:mm:ss (NOT a date — stays raw);
    // style 3: custom date yyyy-mm-dd (date-like → rendered)
    // style 4: locale-prefixed date (what Excel writes for Long Date) —
    // bracketed but NOT elapsed time, must still render as a date
    put("xl/styles.xml",
      """<?xml version="1.0"?><styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<numFmts count="3"><numFmt numFmtId="164" formatCode="[h]:mm:ss"/><numFmt numFmtId="165" formatCode="yyyy-mm-dd"/><numFmt numFmtId="166" formatCode="[$-409]m/d/yy h:mm"/></numFmts>
        |<cellXfs count="5"><xf numFmtId="0"/><xf numFmtId="22"/><xf numFmtId="164"/><xf numFmtId="165"/><xf numFmtId="166"/></cellXfs>
        |</styleSheet>""".stripMargin)
    sheets.zipWithIndex.foreach { case (rows, si) =>
      val body = rows.zipWithIndex.map { case (cells, ri) =>
        val cs = cells.zipWithIndex.collect { case ((t, v), ci) if v != null =>
          val ref = s"${('A' + ci).toChar}${ri + 1}"
          t match {
            case "s"   => s"""<c r="$ref" t="s"><v>$v</v></c>"""
            case "str" => s"""<c r="$ref" t="str"><v>${scala.xml.Utility.escape(v)}</v></c>"""
            case "d"   => s"""<c r="$ref" s="1"><v>$v</v></c>"""
            case "el"  => s"""<c r="$ref" s="2"><v>$v</v></c>"""
            case "cd"  => s"""<c r="$ref" s="3"><v>$v</v></c>"""
            case "ld"  => s"""<c r="$ref" s="4"><v>$v</v></c>"""
            case _     => s"""<c r="$ref"><v>$v</v></c>"""
          }
        }.mkString
        s"""<row r="${ri + 1}">$cs</row>"""
      }.mkString
      put(s"xl/worksheets/sheet${si + 1}.xml",
        s"""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$body</sheetData></worksheet>""")
    }
    zos.close()
  }

  test("xlsx: shared strings, inline values, numerics, date serials, sparse cells") {
    val dir = Files.createTempDirectory("graft-xlsx").toString
    val path = s"$dir/t.xlsx"
    writeXlsx(path,
      Seq(
        Seq(("s", "0"), ("s", "1")),
        // 45292.5 = 2024-01-01 12:00:00; column C skipped (sparse)
        Seq(("str", "hello"), ("d", "45292.5"), ("n", null), ("n", "42")),
        Seq(("n", "3.5"))),
      sharedStrings = Seq("colA", "colB"))
    val rows = Xlsx.readSheet(path, 0)
    assert(rows(0) === Seq("colA", "colB"))
    assert(rows(1) === Seq("hello", "2024-01-01 12:00:00", null, "42"))
    assert(rows(2) === Seq("3.5"))
    assert(Xlsx.sniffSheets(path).map(_.get) === Seq(rows))
  }

  test("xlsx: elapsed-time custom formats stay raw serials, custom date formats render") {
    val dir = Files.createTempDirectory("graft-xlsxfmt").toString
    val path = s"$dir/t.xlsx"
    writeXlsx(path, Seq(Seq(("el", "1.5"), ("cd", "45292.5"), ("ld", "45292.5"))), Nil)
    // [h]:mm:ss is a duration → raw serial; yyyy-mm-dd custom and the
    // locale-prefixed [$-409]m/d/yy (bracketed but not elapsed) → rendered
    assert(Xlsx.readSheet(path, 0) ===
      Seq(Seq("1.5", "2024-01-01 12:00:00", "2024-01-01 12:00:00")))
  }

  test("xlsx: date1904 workbooks shift the serial epoch to 1904-01-01") {
    val dir = Files.createTempDirectory("graft-xlsx1904").toString
    // serial 100.25 = epoch + 100 days 6 h in whichever date system
    val rows = Seq(Seq(("d", "100.25")))
    val p1900 = s"$dir/t1900.xlsx"; val p1904 = s"$dir/t1904.xlsx"
    writeXlsx(p1900, rows, Nil)
    writeXlsx(p1904, rows, Nil, date1904 = true)
    assert(Xlsx.readSheet(p1900, 0) === Seq(Seq("1900-04-09 06:00:00")))
    assert(Xlsx.readSheet(p1904, 0) === Seq(Seq("1904-04-10 06:00:00")))
  }

  test("xlsx: sheet order resolves through workbook rels, not part numbering") {
    val dir = Files.createTempDirectory("graft-xlsx-rels").toString
    val path = s"$dir/r.xlsx"
    val zos = new ZipOutputStream(new FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    // workbook order: [Late, Early]; rels point Late→sheet9.xml, Early→sheet2.xml
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="Late" sheetId="5" r:id="rId9"/><sheet name="Early" sheetId="1" r:id="rId2"/></sheets></workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId9" Target="worksheets/sheet9.xml"/>
        |<Relationship Id="rId2" Target="worksheets/sheet2.xml"/></Relationships>""".stripMargin)
    def sheetXml(v: String) =
      s"""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="str"><v>$v</v></c></row></sheetData></worksheet>"""
    put("xl/worksheets/sheet9.xml", sheetXml("from-late"))
    put("xl/worksheets/sheet2.xml", sheetXml("from-early"))
    zos.close()
    assert(Xlsx.sniffSheets(path).map(_.get) === Seq(Seq(Seq("from-late")), Seq(Seq("from-early"))))
    assert(Xlsx.readSheet(path, 0) === Seq(Seq("from-late")))
    assert(Xlsx.readSheet(path, 1) === Seq(Seq("from-early")))
  }

  test("xlsx: occupancy sheet classifies and runs through the full pipeline") {
    val in = Files.createTempDirectory("graft-xlsx-in").toString
    val out = Files.createTempDirectory("graft-xlsx-out").toString
    val header = Schemas.occupancy.header
    def dataRow(date: String, od: String): Seq[(String, String)] =
      (0 until 24).map { i =>
        val v = Map(0 -> date, 1 -> od, 5 -> "T1", 6 -> "C1", 14 -> "5", 8 -> "q")
          .getOrElse(i, "1")
        ("str", v)
      }
    writeXlsx(s"$in/report.xlsx",
      Seq(Seq(("str", "junk header above")), header.map(h => ("str", h)),
        dataRow("2024-01-01 00:00:00", "AB"),
        dataRow("2024-01-02 00:00:00", "CD")),
      sharedStrings = Seq.empty)
    val res = Pipeline.run(spark, in, out, "20240101T000000",
      spark.emptyDataFrame, spark.emptyDataFrame)
    assert(res.errors.isEmpty && res.unclassified.isEmpty)
    val occ = res.results.find(_.report == ReportType.Occupancy).get
    assert(occ.kept.count() === 2)
    assert(occ.kept.select("od").as[String].collect().toSet === Set("AB", "CD"))
  }

  test("distributed xlsx: executor-side parse equals the driver-side reader per sheet") {
    val dir = Files.createTempDirectory("graft-xlsx-venue").toString
    val path = s"$dir/book.xlsx"
    val header = Schemas.occupancy.header.map(h => ("str", h))
    // cells in schema order: a shared string (od), a date-styled serial
    // (Date, 45292.5 = 2024-01-01 12:00:00) and literal values
    def dataRow(serial: String, od: String): Seq[(String, String)] =
      (0 until 24).map(i => Map(0 -> ("d", serial), 1 -> ("s", od)).getOrElse(i, ("str", s"v$i")))
    writeXlsx(path,
      Seq(Seq(("str", "junk above")), header,
        dataRow("45292.5", "0"), dataRow("45293.25", "1")),
      sharedStrings = Seq("AB", "CD"),
      // more body rows than the classification sniff reads
      moreSheets = Seq(header +: (0 until 60).map(i => dataRow(s"${45300 + i}", "1"))))
    val schema = Schemas.occupancy
    val sniffed = Xlsx.sniffSheets(path).map(_.get)
    assert(sniffed.map(_.size) === Seq(4, HeaderSniffer.SniffRows))
    for ((sheet, headerIdx, bodyRows) <- Seq((0, 1, 2), (1, 0, 60))) {
      assert(HeaderSniffer.classify(sniffed(sheet)) === Some((headerIdx, ReportType.Occupancy)))
      val onDriver = Xlsx.readOnDriver(spark, path, sheet, headerIdx, schema)
      val onExecutor = Xlsx.readOnExecutor(spark, path, sheet, headerIdx, schema)
      assert(onExecutor.schema === onDriver.schema)
      assert(onExecutor.rdd.getNumPartitions === 1, "one workbook, one task")
      assert(onDriver.rdd.getNumPartitions === 1, "one parsed sheet, one slice")
      val rows = onDriver.collect().toSeq
      assert(rows.size === bodyRows)
      assert(onExecutor.collect().toSeq === rows)
    }
    val first = Xlsx.readOnExecutor(spark, path, 0, 1, schema).collect()
    assert(first.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("2024-01-01 12:00:00", "AB"), ("2024-01-02 06:00:00", "CD")),
      "shared strings resolve and date-styled serials render on executors")
  }
}
