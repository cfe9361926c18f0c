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
  * Each artifact is a directory of gzip part files, written fully
  * distributed with no driver-side buffering: Spark's codecs have no zip
  * container, and gzip is the recorded deviation (SURVEY.md K1). The
  * dialect is RFC-4180, as the reference's pandas `to_csv` writes it:
  * embedded quotes double. Spark's default escape is a backslash, which
  * standard CSV consumers (Python's `csv`, pandas, Excel) misread.
  */
object SideChannelCsv {

  /** The reference's artifact naming: "<report> <channel> <runStamp>". */
  def artifactPath(exportDir: String, report: String, channel: String, runStamp: String): String =
    s"$exportDir/$report $channel $runStamp"

  def write(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("escape", "\"")
      .option("compression", "gzip")
      .csv(path)

  def writeErrors(df: DataFrame, exportDir: String, report: String, runStamp: String): Unit =
    write(df, artifactPath(exportDir, report, "error rows", runStamp))

  def writeDuplicates(df: DataFrame, exportDir: String, report: String, runStamp: String): Unit =
    write(df, artifactPath(exportDir, report, "duplicates", runStamp))

  def writeSnapshot(df: DataFrame, exportDir: String, report: String, runStamp: String): Unit =
    write(df, artifactPath(exportDir, report, "data exported", runStamp))
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
