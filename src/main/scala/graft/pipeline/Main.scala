package graft.pipeline

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.control.{Archival, ErrorCollector, RunContext, VersionGate}
import graft.schema.ReportType
import graft.sinks.PartitionOverwriteSink

/** The end-to-end batch entry point (reference `__main__`,
  * `reports_exporter_v0.83.py:1662-1875`):
  * version gate → discover/classify/read/consolidate (Pipeline.run with
  * per-input isolation) → side-channel sinks → partition-overwrite load →
  * archival → error summary + exit code.
  *
  * Usage: `runMain graft.pipeline.Main <inputDir> <exportDir> <targetDir>
  * <archiveDir> [trainHoursCsv] [historyParquet]`
  */
object Main {
  val EngineVersion = 1.0

  /** Date column used for the partition-overwrite load, per report. BPD
    * has no date-typed output column — the reference keys its per-day
    * deletes on `to_char(operation_date_time, 'yyyy-mm-dd')`
    * (`reports_exporter_v0.83.py:1421-1434`); the file-sink analog derives
    * the day from the minute-text timestamp and partition-overwrites it.
    */
  private def loadDateColumn(report: ReportType): String = report match {
    case ReportType.TrainList      => "departure_date_short"
    case ReportType.Occupancy      => "date"
    case ReportType.BookingPayment => "op_day"
  }

  private def withLoadColumns(report: ReportType, df: DataFrame): DataFrame = report match {
    case ReportType.BookingPayment =>
      // public name: this column becomes the sink's partition directory
      // (`op_day=2024-…`), not engine scratch.
      df.withColumn("op_day",
        org.apache.spark.sql.functions.substring(
          org.apache.spark.sql.functions.col("operation_date_time"), 1, 10))
    case _ => df
  }

  def run(spark: SparkSession, inputDir: String, exportDir: String, targetDir: String,
      archiveDir: String, trainHours: => DataFrame, history: => DataFrame,
      versionStore: String): Int = {
    val errors = new ErrorCollector
    val ctx = RunContext.now(exportDir, archiveDir)

    val gate = VersionGate.check(versionStore, EngineVersion, isFinal = false)
    if (!gate.proceed) {
      errors.record("version-gate",
        s"engine $EngineVersion is older than registered ${gate.maxSeen}; refusing to run")
      System.err.println(errors.summary)
      return errors.exitCode
    }

    // The load runs inside Pipeline.run, while the report's consolidated
    // frame is pinned, and the reports' loads may run at once; one that
    // throws fails its report's inputs there. A streak gap only warns, in
    // report order after the input and classify errors.
    val gapWarnings = TrieMap.empty[ReportType, String]
    def load(r: Pipeline.ReportResult): Unit = {
      val name = r.report.schema.name
      val report = PartitionOverwriteSink.load(spark,
        withLoadColumns(r.report, r.kept), loadDateColumn(r.report),
        s"$targetDir/${name.replace(' ', '_').toLowerCase}",
        s"$targetDir/audit", name, ctx.runStamp)
      if (report.gaps > 0)
        gapWarnings.put(r.report, s"$name: ${report.gaps} gap(s) between date streaks")
    }

    val res = Pipeline.run(spark, inputDir, exportDir, ctx.runStamp, trainHours, history,
      load = load)
    res.errors.foreach(e => errors.record("input", s"${e.path}: ${e.message}"))
    res.unclassified.foreach(p => errors.record("classify", s"no report header found: $p"))
    ReportType.all.flatMap(gapWarnings.get).foreach(errors.record("load", _))

    // Archive only the inputs the run finished; failed ones stay for the
    // next run, as in the reference.
    try Archival.archive(res.done, archiveDir)
    catch { case e: Exception => errors.record("archive", String.valueOf(e.getMessage)) }

    println(errors.summary)
    errors.exitCode
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: Main <inputDir> <exportDir> <targetDir> <archiveDir> [trainHoursCsv] [historyParquet]")
    val Array(inputDir, exportDir, targetDir, archiveDir) = args.take(4)
    val spark = GraftSession.getOrCreate("graft-pipeline")
    def trainHours =
      if (args.length > 4) spark.read.option("header", "true").csv(args(4))
      else spark.emptyDataFrame
    def history =
      if (args.length > 5) spark.read.parquet(args(5))
      else spark.emptyDataFrame
    val code =
      try run(spark, inputDir, exportDir, targetDir, archiveDir,
        trainHours, history, s"$targetDir/version_control.txt")
      finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
