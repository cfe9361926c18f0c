package graft.classify

import java.io.IOException

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.functions.monotonically_increasing_id

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
  * Classification is a driver-side decision over ≤50 records (the
  * reference's own bound), as for a workbook: no Spark job. A CSV record is
  * what Spark's CSV reader parses without `multiLine`: a line holding more
  * than whitespace, parsed by the univocity parser Spark's options build.
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

  /** S3 — every cell (empty is null) of a CSV file's first 50 records. */
  def sniffCsv(spark: SparkSession, path: String): Seq[Seq[String]] = {
    val parser = new CsvParser(new CSVOptions(Map.empty[String, String], false, "UTC").asParserSettings)
    records(spark, path, SniffRows).map(r => parser.parseLine(r._1).toSeq)
  }

  /** S3+S4 over a file: sniff then classify; an unreadable file is unclassified. */
  def classifyCsv(spark: SparkSession, path: String): Option[(Int, ReportType)] =
    try classify(sniffCsv(spark, path)) catch { case _: IOException => None }

  /** S5 — the all-string records below header record `headerIdx` (the
    * reference's `skiprows`), from one CSV scan. Partition 0 starts with the
    * split at byte 0, so its `monotonically_increasing_id`s count records
    * from 0, and later partitions' ids exceed any header index. A header
    * that ends past the smallest split Spark makes, the lesser of
    * `spark.sql.files.maxPartitionBytes` and `.openCostInBytes`, throws.
    */
  def readClassified(spark: SparkSession, path: String, headerIdx: Int,
      report: ReportType): DataFrame = {
    val conf = spark.sessionState.conf
    val minSplit = math.min(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)
    require(!records(spark, path, headerIdx + 1).lift(headerIdx).exists(_._2 > minSplit),
      s"header record $headerIdx of $path ends past byte $minSplit, the smallest file split")
    spark.read.schema(report.schema.allStringStruct).option("header", "false").csv(path)
      .filter(monotonically_increasing_id() > headerIdx)
  }

  /** The file's first `n` records and the byte offset past each, split by
    * Hadoop's line reader as Spark's CSV scan splits them (a leading BOM skipped). */
  private def records(spark: SparkSession, path: String, n: Int): Seq[(String, Long)] = {
    val p = new Path(path)
    val in = new LineReader(p.getFileSystem(spark.sessionState.newHadoopConf()).open(p))
    try Iterator.continually { val t = new Text; (in.readLine(t), t) }.takeWhile(_._1 > 0)
      .scanLeft(("", 0L)) { case ((_, end), (len, t)) =>
        (if (end == 0) t.toString.stripPrefix("\uFEFF") else t.toString, end + len) }
      .filter(_._1.trim.nonEmpty).take(n).toIndexedSeq
    finally in.close()
  }
}
