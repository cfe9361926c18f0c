package graft.sinks

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.DateStreaks

/** K1-K3 — side-channel CSV sinks (error rows, duplicates, snapshot).
  *
  * Reference: `reports_exporter_v0.83.py:599-603, 1775-1787, 1789-1797` —
  * zipped CSV artifacts named "<Report> <channel> <run timestamp>".
  *
  * Two container formats:
  *  - [[Container.GzipDir]] (default, scale path): a directory of gzip
  *    part files, written fully distributed — no driver-side buffering.
  *  - [[Container.CsvZip]] (reference-faithful delivery): a literal
  *    `<artifact>.csv.zip` holding one `<artifact>.csv` entry, exactly
  *    what the reference's consumers unzip. Zip is a single-stream
  *    container, so the rows are still WRITTEN distributed (plain-csv
  *    part files) and only STREAMED into the zip on the driver with a
  *    constant-memory copy — right for the side channels (rejects,
  *    duplicates: a sliver of the corpus), wrong for main data at 100 TB.
  */
object SideChannelCsv {

  sealed trait Container
  object Container {
    case object GzipDir extends Container
    case object CsvZip extends Container
  }

  /** The reference's artifact naming: "<report> <channel> <runStamp>". */
  def artifactPath(exportDir: String, report: String, channel: String, runStamp: String): String =
    s"$exportDir/$report $channel $runStamp"

  def write(df: DataFrame, path: String,
      container: Container = Container.GzipDir): Unit = container match {
    case Container.GzipDir =>
      df.write.mode(SaveMode.Overwrite)
        .option("header", "true")
        .option("compression", "gzip")
        .csv(path)
    case Container.CsvZip =>
      writeCsvZip(df, path)
  }

  /** `<path>.csv.zip` with a single `<basename>.csv` entry: parts are
    * written distributed (headerless), then streamed into the zip in
    * part order behind one header line. The staging write pins the
    * RFC-4180 dialect (escape = quote, so embedded quotes double) —
    * Spark's default escape is backslash, which standard CSV consumers
    * (pandas, Excel) misparse; the header uses the same quote doubling.
    */
  private def writeCsvZip(df: DataFrame, path: String): Unit = {
    val staging = path + ".staging"
    df.write.mode(SaveMode.Overwrite).option("header", "false")
      .option("quote", "\"").option("escape", "\"").csv(staging)
    // The repackaging reads the staging dir through the DRIVER's local
    // filesystem — a cluster deploy with a non-local default FS must use
    // the gzip-dir container instead. Fail loudly rather than shipping a
    // header-only zip with the rows silently dropped.
    val stagingDir = new java.io.File(staging)
    require(stagingDir.isDirectory,
      s"csv.zip staging dir $staging not visible on the driver's local " +
        "filesystem — use Container.GzipDir on non-local deployments")
    val parts = Option(stagingDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    // an empty frame legitimately writes zero part files, but the commit
    // marker must exist — checking it costs no recompute (re-running the
    // frame to ask isEmpty could disagree with what was written)
    require(parts.nonEmpty || new java.io.File(stagingDir, "_SUCCESS").exists(),
      s"no part files and no _SUCCESS marker under $staging")
    val base = new java.io.File(path).getName
    val zos = new java.util.zip.ZipOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path + ".csv.zip")))
    try {
      zos.putNextEntry(new java.util.zip.ZipEntry(s"$base.csv"))
      val header = df.columns.map(csvQuote).mkString(",") + "\n"
      zos.write(header.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      parts.foreach(p => java.nio.file.Files.copy(p.toPath, zos))
      zos.closeEntry()
    } finally zos.close()
    parts.foreach(_.delete())
    Option(new java.io.File(staging).listFiles()).getOrElse(Array.empty).foreach(_.delete())
    new java.io.File(staging).delete()
  }

  private def csvQuote(s: String): String =
    if (s.contains(",") || s.contains("\"") || s.contains("\n"))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  def writeErrors(df: DataFrame, exportDir: String, report: String, runStamp: String,
      container: Container = Container.GzipDir): Unit =
    write(df, artifactPath(exportDir, report, "error rows", runStamp), container)

  def writeDuplicates(df: DataFrame, exportDir: String, report: String, runStamp: String,
      container: Container = Container.GzipDir): Unit =
    write(df, artifactPath(exportDir, report, "duplicates", runStamp), container)

  def writeSnapshot(df: DataFrame, exportDir: String, report: String, runStamp: String,
      container: Container = Container.GzipDir): Unit =
    write(df, artifactPath(exportDir, report, "data exported", runStamp), container)
}

/** K4-K6 — idempotent partition-overwrite load protocol, file-backed.
  *
  * Reference protocol (`export_train_list`, `:1304-1394`): distinct loaded
  * days → consecutive-date streaks (G1) → per-streak ranged DELETE → per-day
  * COPY → per-day audit row. The Spark-native shape is dynamic partition
  * overwrite: partition the sink by the date column and overwrite exactly
  * the partitions present in this batch — same idempotence contract
  * (reload replaces, never duplicates) with no driver-sequenced DELETEs.
  * The streaks still drive the reference's gap warning and the audit trail.
  *
  * Scale: the distinct days ride the write as an observed metric (O(days)
  * — bounded at any fact size); the data path is a straight partitioned
  * parquet write, and the input is read once.
  */
object PartitionOverwriteSink {

  final case class LoadReport(days: Seq[String], streaks: Seq[(String, String)], gaps: Int)

  /** Serializes the audit appends of this driver's concurrent loads. */
  private object AuditLock

  /** Overwrite `targetDir`'s partitions for exactly the days present in
    * `df[dateCol]`, append one audit row per day to `auditDir`, and report
    * the streak structure (the reference warns on gaps, `:1321-1325`).
    * Loads of distinct targets may run at once in one driver, sharing an
    * `auditDir`: their audit appends take turns.
    *
    * The partitioned write is the only action on `df`: the distinct days
    * are an [[org.apache.spark.sql.Observation]] on that write, and the
    * streaks are derived from them on the driver. The write repartitions
    * on the day, so each day is written by one task as one file (a
    * partitionBy write without it opens one file per task and day). A
    * failed write throws before any audit row is written: an audit row
    * asserts a committed load.
    *
    * @param dateCol a "yyyy-MM-dd"-formatted string or DATE column
    */
  def load(spark: SparkSession, df: DataFrame, dateCol: String,
      targetDir: String, auditDir: String, table: String, runStamp: String): LoadReport = {
    // Unique per call: loads of different reports run at once.
    val observed = Observation()
    df.observe(observed, collect_set(to_date(col(dateCol)).cast("string")).as("days"))
      .repartition(col(dateCol))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(dateCol).parquet(targetDir)

    // Read only after the write returned: a failed write never completes
    // the observation. An empty input observes no `days` entry at all.
    val days = observed.get.get("days").toSeq
      .flatMap(_.asInstanceOf[scala.collection.Seq[String]]).sorted
    val streaks = DateStreaks.local(days.map(LocalDate.parse))
      .map { case (a, b) => (a.toString, b.toString) }

    // K6 — one audit row per loaded day. The driver-local day list
    // parallelizes over defaultParallelism, which would append one
    // tiny file PER CORE per load; coalesce(1) lands the audit batch
    // as a single file (audit tables are day-count-sized at any scale).
    // Appends to one directory share the committer's `_temporary` dir,
    // which the first to commit deletes under the others.
    import spark.implicits._
    AuditLock.synchronized {
      days.toDF("period")
        .coalesce(1)
        .select(lit(runStamp).as("run_timestamp"), lit(table).as("table"),
          lit("overwrite").as("operation"), col("period"), lit("graft").as("user"))
        .write.mode(SaveMode.Append).parquet(auditDir)
    }

    LoadReport(days, streaks, gaps = math.max(0, streaks.size - 1))
  }
}
