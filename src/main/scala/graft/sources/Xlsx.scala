package graft.sources

import java.io.InputStream
import java.util.zip.ZipFile

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable.{ArrayBuffer, ListBuffer}
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.classify.HeaderSniffer
import graft.schema.ReportSchema

/** Minimal `.xlsx` reader on JDK-only primitives (zip + StAX) — no
  * external dependency, zero-egress-safe. The one module that knows the
  * xlsx format and where a sheet parses.
  *
  * xlsx is a zip of XML parts: `xl/workbook.xml` lists sheets,
  * `xl/worksheets/sheetN.xml` holds cells, `xl/sharedStrings.xml` the
  * string pool, `xl/styles.xml` the number formats (needed to recognize
  * date-styled numeric cells and render them the way pandas
  * `read_excel(dtype=str)` does).
  *
  * Classification ([[sniffSheets]]) is driver-side and opens each
  * workbook once: the reference lists a workbook's sheets once and sniffs
  * at most 50 rows of each (`reports_exporter_v0.83.py:1687-1692`,
  * `:429-455`). The body read ([[readClassified]]) parses on the driver
  * (the reference's own model is per-sheet driver read + union;
  * `:522-528`) unless the workbook is big enough to pressure the driver
  * heap, which sends it to an executor task.
  *
  * Supported cell types: shared string (`t="s"`), inline string
  * (`t="inlineStr"`), literal (`t="str"`), boolean, and numeric —
  * numeric cells with a built-in date format id (14-22, 45-47) or a
  * custom date-like format are rendered as "yyyy-MM-dd HH:mm:ss" from
  * the 1900-epoch serial, everything else as the shortest round-trip
  * decimal (integral serials render without ".0", matching pandas' str
  * of int-valued floats is NOT attempted — the engine re-coerces anyway).
  */
object Xlsx {

  private val factory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  /** Elapsed-time tokens in a number format: [h]/[mm]/[ss] etc. */
  private[sources] val ElapsedToken = "(?i)\\[[hms]+\\]".r

  /** What every sheet of a workbook parses against: the shared-string
    * pool, the date-styled style indexes and the date system.
    */
  private final case class Book(shared: IndexedSeq[String], dateStyles: Set[Int],
      date1904: Boolean)

  private def bookOf(zip: ZipFile): Book =
    Book(readSharedStrings(zip), readDateStyles(zip), readDate1904(zip))

  /** S2+S3 — the first [[HeaderSniffer.SniffRows]] rows of every sheet, in
    * workbook order, from ONE open of the workbook: its rels,
    * `workbook.xml`, shared strings, styles and date system parse once
    * for all sheets. Throws when the workbook cannot be opened or its
    * sheets cannot be listed; a sheet that cannot be parsed (a missing or
    * malformed part, bad shared strings or styles) is a `Failure` in its
    * own slot.
    */
  def sniffSheets(path: String): Seq[Try[Seq[Seq[String]]]] = withZip(path) { zip =>
    val parts = sheetPartsOf(zip)
    val book = Try(bookOf(zip))
    parts.map(part =>
      book.flatMap(b => Try(sheetRows(zip, part, b, HeaderSniffer.SniffRows, path))))
  }

  /** Read one sheet (by workbook order index) as all-string rows (empty
    * cells are null).
    */
  def readSheet(path: String, sheetIndex: Int): Seq[Seq[String]] =
    withZip(path) { zip => readSheetOf(zip, sheetIndex, path) }

  /** All-string DataFrame of the sheet body below `headerIdx`, with the
    * report's schema (the xlsx analog of HeaderSniffer.readClassified).
    *
    * The venue follows the workbook's size: at or above
    * [[ExecutorParseBytes]] the sheet parses in an executor task, below
    * it on the driver. Both give the same frame in one partition (XlsxSpec
    * pins it), so the choice trades driver heap for a task dispatch, never
    * semantics.
    */
  def readClassified(spark: SparkSession, path: String, sheetIndex: Int,
      headerIdx: Int, schema: ReportSchema): DataFrame =
    if (parsesOnExecutor(fileBytes(spark, path)))
      readOnExecutor(spark, path, sheetIndex, headerIdx, schema)
    else readOnDriver(spark, path, sheetIndex, headerIdx, schema)

  /** Routing threshold of [[readClassified]]. 32 MB: well past the
    * reference's own report sizes (the driver parse stays the low-latency
    * default there), but under it long before a workbook's unzipped XML
    * (~10× the zip) plus its shared-string pool could pressure driver
    * memory when a pool of 16 parses runs concurrently.
    */
  private val ExecutorParseBytes: Long = 32L * 1024 * 1024

  private[graft] def parsesOnExecutor(workbookBytes: Long): Boolean =
    workbookBytes >= ExecutorParseBytes

  /** Workbook size, resolved through the Hadoop FileSystem of the path's
    * SCHEME — `java.io.File` answers 0 for any non-local path (HDFS/S3),
    * which would silently route every big remote workbook back onto the
    * driver, the exact failure mode the threshold exists to prevent. A
    * vanished file answers 0 and falls through to the driver parse, whose
    * open error the caller's per-input isolation captures.
    */
  private def fileBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    try p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p).getLen
    catch { case _: java.io.IOException => 0L }
  }

  /** The driver venue: the parsed body as one slice. A sheet the driver
    * parses is small, so more slices would only add tasks to every stage
    * that reads it.
    */
  private[graft] def readOnDriver(spark: SparkSession, path: String, sheetIndex: Int,
      headerIdx: Int, schema: ReportSchema): DataFrame = {
    val struct = schema.allStringStruct
    val body = bodyRows(readSheet(path, sheetIndex), headerIdx, struct.size).map(Row.fromSeq)
    spark.createDataFrame(
      spark.sparkContext.parallelize(body.toList, 1), struct)
  }

  /** The executor venue: the workbook ships through a `binaryFile` scan
    * and its one classified sheet parses in an executor task, so a big
    * workbook costs the driver nothing but the listing. The bytes land in
    * an executor-local temp file (the zip central directory needs random
    * access, which `ZipInputStream` cannot give). One file → one task →
    * one partition, which also preserves the parse-order row sequence the
    * pipeline's `monotonically_increasing_id` tiebreaker relies on.
    */
  private[graft] def readOnExecutor(spark: SparkSession, path: String, sheetIndex: Int,
      headerIdx: Int, schema: ReportSchema): DataFrame = {
    import spark.implicits._
    val struct = schema.allStringStruct
    val width = struct.size
    val rows = spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val tmp = java.nio.file.Files.createTempFile("graft-xlsx", ".zip")
        val sheet =
          try {
            java.nio.file.Files.write(tmp, bytes)
            withZip(tmp.toString)(readSheetOf(_, sheetIndex, p))
          } finally java.nio.file.Files.deleteIfExists(tmp)
        bodyRows(sheet, headerIdx, width)
      }
    spark.createDataFrame(rows.rdd.map(Row.fromSeq), struct)
  }

  /** The rows below the header, padded with nulls or cut to `width`. */
  private def bodyRows(sheet: Seq[Seq[String]], headerIdx: Int,
      width: Int): Seq[Seq[String]] =
    sheet.drop(headerIdx + 1).map(r => (0 until width).map(i => if (i < r.length) r(i) else null))

  // ------------------------------------------------------------- internals

  private def withZip[A](path: String)(f: ZipFile => A): A = {
    val zip = new ZipFile(path)
    try f(zip) finally zip.close()
  }

  /** Sheet parts in workbook order, resolved through
    * `xl/_rels/workbook.xml.rels` (part numbering does NOT follow sheet
    * order once sheets have been deleted/reordered — the r:id
    * relationship is the only correct mapping).
    */
  private def sheetPartsOf(zip: ZipFile): Seq[String] = {
    val rels: Map[String, String] = {
      val e = zip.getEntry("xl/_rels/workbook.xml.rels")
      if (e == null) Map.empty
      else {
        val in = zip.getInputStream(e)
        try {
          val r = factory.createXMLStreamReader(in)
          val m = Map.newBuilder[String, String]
          while (r.hasNext) {
            if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "Relationship")
              for (id <- attr(r, "Id"); target <- attr(r, "Target"))
                m += id -> (if (target.startsWith("/")) target.drop(1)
                            else s"xl/${target.stripPrefix("./")}")
          }
          m.result()
        } finally in.close()
      }
    }
    val wb = zip.getInputStream(zip.getEntry("xl/workbook.xml"))
    try {
      val r = factory.createXMLStreamReader(wb)
      val out = ListBuffer.empty[String]
      var ordinal = 0
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
          ordinal += 1
          out += attr(r, "id").flatMap(rels.get)
            .getOrElse(s"xl/worksheets/sheet$ordinal.xml") // rels-less fallback
        }
      }
      out.toList
    } finally wb.close()
  }

  private def readSheetOf(zip: ZipFile, sheetIndex: Int, label: String): Seq[Seq[String]] = {
    val parts = sheetPartsOf(zip)
    require(sheetIndex >= 0 && sheetIndex < parts.length,
      s"sheet index $sheetIndex out of range (${parts.length} sheets) in $label")
    sheetRows(zip, parts(sheetIndex), bookOf(zip), Int.MaxValue, label)
  }

  private def sheetRows(zip: ZipFile, part: String, book: Book, maxRows: Int,
      label: String): Seq[Seq[String]] = {
    val entry = Option(zip.getEntry(part))
      .getOrElse(throw new IllegalArgumentException(s"no sheet part $part in $label"))
    val in = zip.getInputStream(entry)
    try parseSheet(in, book, maxRows)
    finally in.close()
  }

  private def attr(r: XMLStreamReader, name: String): Option[String] = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == name) return Some(r.getAttributeValue(i))
      i += 1
    }
    None
  }

  private def readSharedStrings(zip: ZipFile): IndexedSeq[String] = {
    val e = zip.getEntry("xl/sharedStrings.xml")
    if (e == null) return IndexedSeq.empty
    val in = zip.getInputStream(e)
    try {
      val r = factory.createXMLStreamReader(in)
      val out = ArrayBuffer.empty[String]
      val sb = new StringBuilder
      var inSi = false
      var inT = false
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => inSi = true; sb.clear()
            case "t" if inSi => inT = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS if inT => sb.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t" => inT = false
            case "si" => inSi = false; out += sb.toString
            case _ =>
          }
        case _ =>
      }
      out.toIndexedSeq
    } finally in.close()
  }

  /** Workbook date system: `<workbookPr date1904="1"/>` switches serial
    * day 0 from 1899-12-30 (default) to 1904-01-01 (legacy Mac Excel).
    */
  private def readDate1904(zip: ZipFile): Boolean = {
    val e = zip.getEntry("xl/workbook.xml")
    if (e == null) return false
    val in = zip.getInputStream(e)
    try {
      val r = factory.createXMLStreamReader(in)
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "workbookPr")
          return attr(r, "date1904").exists(v => v == "1" || v == "true")
      }
      false
    } finally in.close()
  }

  /** Style indexes (cellXfs order) whose numFmt renders as a date/time. */
  private def readDateStyles(zip: ZipFile): Set[Int] = {
    val e = zip.getEntry("xl/styles.xml")
    if (e == null) return Set.empty
    val builtinDate = (14 to 22).toSet ++ (45 to 47).toSet
    val in = zip.getInputStream(e)
    try {
      val r = factory.createXMLStreamReader(in)
      val customDate = scala.collection.mutable.Set.empty[Int]
      val styleFmts = ArrayBuffer.empty[Int]
      var inCellXfs = false
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "numFmt" =>
            // '#' marks numeric masks; bracketed TIME tokens ([h], [mm],
            // [ss]) mark elapsed-time codes — durations, not calendar
            // dates; both stay raw. Other bracket uses (locale prefixes
            // like [$-409], colors like [Red]) are still dates.
            for (id <- attr(r, "numFmtId").flatMap(_.toIntOption);
                 code <- attr(r, "formatCode"))
              if (code.exists("ymdhs".contains(_)) && !code.contains("#") &&
                  !Xlsx.ElapsedToken.pattern.matcher(code).find()) customDate += id
          case "cellXfs" => inCellXfs = true
          case "xf" if inCellXfs =>
            styleFmts += attr(r, "numFmtId").flatMap(_.toIntOption).getOrElse(0)
          case _ =>
        }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" => inCellXfs = false
        case _ =>
      }
      styleFmts.zipWithIndex.collect {
        case (fmt, idx) if builtinDate(fmt) || customDate(fmt) => idx
      }.toSet
    } finally in.close()
  }

  private def parseSheet(in: InputStream, book: Book, maxRows: Int): Seq[Seq[String]] = {
    val r = factory.createXMLStreamReader(in)
    val rows = ListBuffer.empty[Seq[String]]
    var row: ArrayBuffer[String] = null
    var cellCol = -1
    var cellType = ""
    var cellStyle = -1
    var inV = false
    var inIs = false
    val sb = new StringBuilder
    while (r.hasNext && rows.size < maxRows) r.next() match {
      case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
        case "row" => row = ArrayBuffer.empty[String]
        case "c" if row != null =>
          cellCol = attr(r, "r").map(colIndex).getOrElse(row.length)
          cellType = attr(r, "t").getOrElse("n")
          cellStyle = attr(r, "s").flatMap(_.toIntOption).getOrElse(-1)
          sb.clear()
        case "v" => inV = true
        case "is" => inIs = true
        case "t" if inIs => inV = true
        case _ =>
      }
      case XMLStreamConstants.CHARACTERS if inV => sb.append(r.getText)
      case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
        case "v" => inV = false
        case "t" if inIs => inV = false
        case "is" => inIs = false
        case "c" if row != null =>
          val raw = sb.toString
          val value: String = cellType match {
            case "s" => raw.toIntOption.flatMap(book.shared.lift).orNull
            case "inlineStr" | "str" => raw
            case "b" => if (raw == "1") "TRUE" else "FALSE"
            case _ => // numeric
              if (raw.isEmpty) null
              else if (book.dateStyles(cellStyle)) renderDateSerial(raw, book.date1904)
              else raw
          }
          while (row.length < cellCol) row += null
          row += value
          cellCol = -1
        case "row" if row != null =>
          rows += row.toSeq; row = null
        case _ =>
      }
      case _ =>
    }
    rows.toList
  }

  /** "A1" → 0, "AB3" → 27. */
  private def colIndex(ref: String): Int = {
    var acc = 0
    var i = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  /** Excel date serial → "yyyy-MM-dd HH:mm:ss" (the rendering the
    * engine's F1 coercion expects). Serial day 0 = 1899-12-30 in the
    * default 1900 system, 1904-01-01 when the workbook sets date1904.
    */
  private def renderDateSerial(raw: String, date1904: Boolean): String = {
    val serial = raw.toDouble
    val epoch =
      if (date1904) java.time.LocalDateTime.of(1904, 1, 1, 0, 0)
      else java.time.LocalDateTime.of(1899, 12, 30, 0, 0)
    val seconds = math.round(serial * 86400.0)
    epoch.plusSeconds(seconds)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
  }
}
