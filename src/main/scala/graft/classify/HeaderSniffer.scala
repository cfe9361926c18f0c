package graft.classify

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.schema.ReportType

/** S3/S4 — header sniff + exact-header report classification.
  *
  * Reference: `get_report_name`, `reports_exporter_v0.83.py:429-455`: read
  * the first 50 rows untyped, and for each row drop the null cells FIRST,
  * then compare the remaining values as an ordered list against each
  * report's expected header. The drop-then-compare order matters: headers
  * with interior blank cells shift (SURVEY.md §7.4 risk 7) — replicated
  * exactly.
  *
  * Classification is a driver-side decision over ≤50 rows (the reference's
  * own bound) — this is control-plane work, not a distributed operator, so
  * the sniff read carries an explicit `limit(50)` and only that sliver is
  * ever collected.
  */
object HeaderSniffer {

  val SniffRows = 50

  /** Classify pre-collected raw rows. Returns (0-based header row index,
    * report type) of the first matching row, or None (the reference's
    * NO_REPORT).
    */
  def classify(rows: Seq[Seq[String]]): Option[(Int, ReportType)] =
    rows.iterator.take(SniffRows).zipWithIndex.flatMap { case (row, idx) =>
      val cells = row.filter(c => c != null && c.nonEmpty)
      ReportType.all.find(_.schema.header == cells).map(t => (idx, t))
    }.nextOption()

  /** S3 — sniff the first 50 rows of a headerless CSV file. The read is
    * schema-pinned to the widest report (so no inference pass) and limited
    * before collect.
    */
  def sniffCsv(spark: SparkSession, path: String): Seq[Seq[String]] = {
    val width = ReportType.all.map(_.schema.columns.length).max
    val schema = StructType((0 until width).map(i => StructField(s"_c$i", StringType)))
    spark.read.schema(schema).option("header", "false").csv(path)
      .limit(SniffRows)
      .collect()
      .toIndexedSeq
      .map(r => (0 until width).map(i => if (r.isNullAt(i)) null else r.getString(i)))
  }

  /** S3+S4 over a file: sniff then classify. */
  def classifyCsv(spark: SparkSession, path: String): Option[(Int, ReportType)] =
    classify(sniffCsv(spark, path))

  /** S5 — full typed all-string read of a classified CSV: skip everything
    * at or above the header row, then parse with the report's all-string
    * schema. `headerIdx` is the 0-based row index the classifier returned
    * (the reference reads with `skiprows = first_row - 1, header = 0`).
    *
    * Header at row 0 is the fast path: a plain schema-pinned csv scan
    * (splittable, no extra pass). An offset header needs a line-index
    * filter, which is done distributed via `zipWithIndex` — never a
    * driver-side collect of data rows.
    */
  def readClassified(spark: SparkSession, path: String, headerIdx: Int,
      report: ReportType): DataFrame = {
    val struct = report.schema.allStringStruct
    if (headerIdx == 0)
      spark.read.schema(struct).option("header", "true").csv(path)
    else {
      // headerIdx counts CSV records, and the CSV reader skips blank lines:
      // drop them by its rule before numbering the lines.
      val body = spark.sparkContext.textFile(path).filter(_.trim.nonEmpty).zipWithIndex()
        .collect { case (line, i) if i > headerIdx => line }
      val ds = spark.createDataset(body)(org.apache.spark.sql.Encoders.STRING)
      spark.read.schema(struct).option("header", "false").csv(ds)
    }
  }
}
