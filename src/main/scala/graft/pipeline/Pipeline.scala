package graft.pipeline

import java.io.File

import scala.annotation.tailrec
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.classify.HeaderSniffer
import graft.control.DriverPool
import graft.operators.{Consolidate, KeepLastDedup}
import graft.readers.{BookingPaymentReader, OccupancyReader, ReaderOutput, TrainListReader}
import graft.schema.ReportType
import graft.sinks.SideChannelCsv
import graft.sources.Xlsx

/** C2/C3/C4 + §3.1 — the end-to-end batch pipeline: discover input files,
  * classify each (S3/S4), read each report type's inputs through its
  * reader with per-input failure isolation, consolidate (keep-last dedup
  * with an input-order tiebreaker), and write the three side channels.
  *
  * Reference: `reports_exporter_v0.83.py:1629-1656` (dispatcher; a failing
  * sheet is logged and skipped, the batch proceeds) and `:1662-1875` (main).
  * The reference cleans and enriches each sheet on its own; here each
  * report's raw inputs are unioned first (each row tagged with its input's
  * ordinal) and its reader runs once over the union, so its plan holds one
  * clean → enrich chain, one set of dimension broadcasts and one J2
  * semi-join, however many inputs it has.
  *
  * Scale notes: classification collects ≤50 rows per file (the reference's
  * own bound); everything else executes distributed. The reads only build
  * plans. Each report type's read → keep-last window is computed ONCE, by
  * the count that persists the row-numbered frame and observes every
  * input's P3 and J1 guards on the way; the duplicates and snapshot
  * channels and the caller's load then read that pin (the reference writes
  * all three from one in-memory frame, `:1752-1797`), and it is released
  * before `run` returns.
  * The rejects channel is its own single pass over the reader. The three
  * report types share nothing but the audit table, so their chains run
  * beside each other on the driver pool; the reference handles them one
  * after another.
  */
object Pipeline {

  final case class InputError(path: String, message: String)
  final case class ReportResult(
      report: ReportType,
      kept: DataFrame,
      duplicates: DataFrame,
      rejects: DataFrame,
      missingTrainNumbers: Option[DataFrame])
  final case class RunResult(results: Seq[ReportResult], errors: Seq[InputError],
      unclassified: Seq[String], done: Seq[String])

  /** One classified input unit: a CSV file, or one sheet of an xlsx
    * workbook (S2 — sheet enumeration makes (file, sheet) the unit).
    */
  final case class ClassifiedInput(path: String, sheet: Option[Int], headerIdx: Int,
      report: ReportType) {
    def display: String = sheet.fold(path)(i => s"$path#sheet$i")
  }

  /** S1 — enumerate candidate input files (driver-side, like the
    * reference's `os.listdir`).
    */
  def discover(inputDir: String, suffix: String): Seq[String] = {
    val files = Option(new File(inputDir).listFiles()).getOrElse(Array.empty)
    files.filter(f => f.isFile && f.getName.endsWith(suffix))
      .map(_.getPath).sorted.toIndexedSeq
  }

  /** Driver-pool width for the classify, report and read fan-outs: the
    * per-file sniffs and per-(file, sheet) xlsx parses are independent,
    * driver-side, and each a mix of zip IO and StAX CPU — a bounded pool
    * is the engine's answer to the reference's dormant tiered read
    * (`Old/reports_exporter_v0.82.ipynb:484-560`). Capped: the driver is
    * shared with Spark's scheduler threads. Safe because each unit is
    * thread-compatible: each xlsx parse opens its own ZipFile, and job
    * submission and DataFrame construction are thread-safe on a shared
    * session; results keep input order, so the fan-out changes wall-clock
    * only, never output.
    */
  val DriverPoolParallelism: Int =
    math.max(1, math.min(16, Runtime.getRuntime.availableProcessors()))

  /** [[graft.control.DriverPool.traverse]] under the label `pipeline`. */
  private[pipeline] def parMap[A, B](xs: Seq[A], parallelism: Int)(f: A => B): Seq[B] =
    DriverPool.traverse("pipeline", xs, parallelism)(f)

  /** S2-S4 — classify every input unit in a directory: CSV files whole,
    * xlsx workbooks per sheet. Returns (classified, unclassified-display).
    *
    * One pool phase over files, the CSVs then the workbooks, each in path
    * order; a workbook opens once for all its sheets ([[Xlsx.sniffSheets]]).
    */
  def classifyAll(spark: SparkSession, inputDir: String,
      parallelism: Int = DriverPoolParallelism)
      : (Seq[ClassifiedInput], Seq[String]) = {
    val all = classifyFiles(spark, inputDir, parallelism).flatMap(_._2)
    (all.collect { case Right(c) => c }, all.collect { case Left(p) => p })
  }

  /** Each listed file with its units. A workbook that cannot be opened, or
    * lists no sheets, is unclassified as `path`; a sheet that cannot be
    * parsed or matches no header as `path#sheet<i>`.
    */
  private def classifyFiles(spark: SparkSession, inputDir: String, parallelism: Int)
      : Seq[(String, Seq[Either[String, ClassifiedInput]])] = {
    val files = discover(inputDir, ".csv") ++ discover(inputDir, ".xlsx")
    files.zip(DriverPool.traverse("classify", files, parallelism) { p =>
      if (p.endsWith(".csv"))
        Seq(HeaderSniffer.classifyCsv(spark, p)
          .map { case (idx, rep) => ClassifiedInput(p, None, idx, rep) }.toRight(p))
      else {
        val sheets = try Xlsx.sniffSheets(p) catch { case _: Exception => Nil }
        if (sheets.isEmpty) Seq(Left(p))
        else sheets.zipWithIndex.map { case (rows, i) =>
          rows.toOption.flatMap(HeaderSniffer.classify)
            .map { case (idx, rep) => ClassifiedInput(p, Some(i), idx, rep) }
            .toRight(s"$p#sheet$i")
        }
      }
    })
  }

  /** C2 — one classified input through its report's reader: the
    * single-input composition of [[rawInput]] and [[readReport]]. It builds
    * plans and runs no Spark action of its own (a by-name dimension may run
    * its read when first used). Any throw is captured (C3) as the input's
    * error. [[run]] does not call it: it reads each report's inputs once,
    * as a union.
    */
  def readInput(spark: SparkSession, input: ClassifiedInput,
      fileOrd: Int, trainHours: => DataFrame, history: => DataFrame)
      : Either[InputError, ReaderOutput] =
    rawInput(spark, input, fileOrd).flatMap(raw =>
      captured(input)(readReport(input.report, raw, trainHours, history)))

  private def captured[A](input: ClassifiedInput)(a: => A): Either[InputError, A] =
    try Right(a)
    catch { case e: Exception => Left(InputError(input.display, String.valueOf(e.getMessage))) }

  /** The input's source frame, all strings in its report's schema, tagged
    * with the D1 input-order tiebreaker (SURVEY §7.4 risk 1): the file
    * ordinal and a per-file row id reproduce pandas' stable keep-last
    * across a batch.
    */
  private def rawInput(spark: SparkSession, input: ClassifiedInput, fileOrd: Int)
      : Either[InputError, DataFrame] =
    captured(input) {
      val base = input.sheet match {
        case Some(si) => Xlsx.readClassified(spark, input.path, si, input.headerIdx, input.report.schema)
        case None     => HeaderSniffer.readClassified(spark, input.path, input.headerIdx, input.report)
      }
      base.withColumn("__file_ord", lit(fileOrd))
        .withColumn("__row_ord", monotonically_increasing_id())
    }

  /** The report's reader over tagged raw rows (one input's, or a union). */
  private def readReport(report: ReportType, raw: DataFrame,
      trainHours: => DataFrame, history: => DataFrame): ReaderOutput =
    report match {
      case ReportType.TrainList      => TrainListReader(raw, trainHours, history)
      case ReportType.Occupancy      => OccupancyReader(raw)
      case ReportType.BookingPayment => BookingPaymentReader(raw)
    }

  val EmptyBatchMessage = "empty batch: no rows survived cleaning (P3 guard)"

  /** J1's message for an input that fails it: at most 20 of its train
    * numbers that have no departure time, sorted; the cap applies before
    * the collect.
    */
  private def missingMessage(good: DataFrame): String = {
    val numbers = good.filter(TrainListReader.missingDeparture)
      .select(coalesce(col("train_number"), lit("")).as("n")) // P4 made an empty one NULL
      .distinct().orderBy("n").limit(20).collect().map(_.getString(0))
    s"train numbers missing from departure times: ${numbers.mkString(", ")}"
  }

  /** The report's consolidated frame over `good`, the reader's rows of
    * the inputs `ords`, persisted and built by one `count`, with each
    * input's P3 and J1 verdict from that same job. An [[Observation]] on
    * `good`, below the window, collects the ordinals that hold a good row
    * (P3: a missing one is an empty batch, reference
    * `reports_exporter_v0.83.py:606-607`) and, for Train List, the
    * ordinals with a row that matches [[TrainListReader.missingDeparture]]
    * (J1, `:627-637`). Returns the pin and each failing ordinal's message,
    * J1 before P3. A throw releases the pin.
    */
  private def pinChecked(report: ReportType, ords: Seq[Int], good: DataFrame)
      : (DataFrame, Map[Int, String]) = {
    val seen = Observation()
    val ord = col("__file_ord")
    val j1 =
      if (report != ReportType.TrainList) Nil
      else Seq(collect_set(when(TrainListReader.missingDeparture, ord)).as("j1"))
    val observed = good.observe(seen, collect_set(ord).as("p3"), j1: _*)
    val ordering = Consolidate.ordering(
      report.schema.sortKeys.filter(k => good.columns.contains(k)),
      Consolidate.SortMode.Lexicographic) ++ Seq(ord, col("__row_ord"))
    val pin = Consolidate.numbered(Seq(observed), report.schema.dedupKeys, ordering)
      .drop("__file_ord", "__row_ord")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      pin.count()
      // read only after the count returned; an entry may be absent when
      // `good` is empty
      val verdicts = seen.get
      def seenOrds(name: String): Set[Int] =
        verdicts.get(name).toSet.flatMap((s: Any) => s.asInstanceOf[scala.collection.Seq[Int]])
      val (present, missing) = (seenOrds("p3"), seenOrds("j1"))
      (pin, ords.flatMap { o =>
        (if (missing(o)) Some(missingMessage(good.filter(ord === o)))
         else Option.when(!present(o))(EmptyBatchMessage)).map(o -> _)
      }.toMap)
    } catch { case e: Throwable => pin.unpersist(); throw e }
  }

  /** Full run over a directory of inputs (CSV files and xlsx workbooks).
    * Each report's reader runs once, over the union of its passing inputs'
    * raw rows, and carries the tiebreaker columns through to
    * consolidation, where
    * the dedup window orders by (report sort keys, file ordinal, row
    * ordinal) — exact pandas stable-sort keep-last parity — and drops
    * them from the outputs.
    *
    * The P3 and J1 guards ride the action that builds each report's pin
    * ([[pinChecked]]), before any side channel is written. An input that
    * fails one is its [[InputError]], and the reader and the pin are built
    * again without it; only that rare path computes the window twice. A
    * reader or pin that throws (a strict parse of a malformed dimension
    * value, say) is built again for each input alone: an input whose own
    * pin throws or fails a guard is at fault, and the rest are pinned
    * together.
    *
    * Every failure is a value (C3): a failed read or guard is its input's
    * [[InputError]]; a report whose later steps throw records
    * `"<report name>: <cause>"` against each of its other inputs. `done`
    * is the listed files whose every unit classified and finished its chain.
    *
    * @param parallelism driver-pool width for all three fan-outs: the
    *   classify, the report types (each report's read → consolidate →
    *   side channels → load chain runs beside the others'), and each
    *   report's per-input source reads; 1 = the whole run is sequential, in
    *   report order, on the caller's thread.
    * @param load called once per report after its side channels, while
    *   the report's consolidated frame is still persisted, so a load of
    *   `kept` reads the pin instead of re-running the readers and the
    *   window. It may be called concurrently for different reports, so
    *   it must be thread-safe. An `Exception` it throws fails its report
    *   as above. The frames in the returned [[RunResult]] are unpinned
    *   and recompute when used.
    */
  def run(spark: SparkSession, inputDir: String, exportDir: String, runStamp: String,
      trainHours: => DataFrame, history: => DataFrame,
      parallelism: Int = DriverPoolParallelism,
      load: ReportResult => Unit = _ => ()): RunResult = {
    val files = classifyFiles(spark, inputDir, parallelism)
    val units = files.flatMap(_._2)
    val classified = units.collect { case Right(c) => c }
    // Each by-name dimension reads a file: read them at most once per run,
    // and not at all when the batch has no Train List input.
    lazy val hours = trainHours
    lazy val hist = history

    def runReport(report: ReportType): (Option[ReportResult], Seq[(ClassifiedInput, InputError)]) = {
      val mine = classified.filter(_.report == report)
      // The Train List reads use both dimensions: start both reads together,
      // inside this chain so that the other reports do not wait for them.
      // One that fails throws again in the report's reader, and then in
      // each input's own, which records it against every input.
      if (report == ReportType.TrainList && mine.nonEmpty)
        try { DriverPool.traverse("dims", Seq(() => hours, () => hist), math.min(2, parallelism))(_()); () }
        catch { case _: Exception => () }
      // per-(file, sheet) source reads fan out on the driver pool: the xlsx
      // parses are the serial cost for a workbook batch; order (and so the
      // D1 fileOrd tiebreaker and error attribution) is preserved by the pool.
      val raws = DriverPool.traverse("read", mine.zipWithIndex, parallelism) {
        case (ci, ord) => rawInput(spark, ci, ord)
      }
      val rawOf = raws.zipWithIndex.collect { case (Right(raw), o) => o -> raw }.toMap
      // each failed input's error, by file ordinal
      val errors = mutable.Map(raws.zipWithIndex.collect { case (Left(e), o) => o -> e }: _*)
      def fail(failed: Iterable[(Int, String)]): Unit =
        failed.foreach { case (o, m) => errors(o) = InputError(mine(o).display, m) }
      // the report's reader, once, over the union of the inputs' raw rows;
      // its pin, each failing input's message, and the reader's output
      def pinRead(inputs: Seq[Int]): (DataFrame, Map[Int, String], ReaderOutput) = {
        val out = readReport(report, Consolidate.union(inputs.map(rawOf)), hours, hist)
        val (pin, failed) = pinChecked(report, inputs, out.good)
        (pin, failed, out)
      }

      // the pin of the inputs that pass the guards, and their reader output
      @tailrec def pinPassing(inputs: Seq[Int], checkedAlone: Boolean)
          : Option[(DataFrame, ReaderOutput)] =
        if (inputs.isEmpty) None
        else Try(pinRead(inputs)) match {
          case Success((pin, failed, out)) if failed.isEmpty => Some((pin, out))
          case Success((pin, failed, _)) =>
            pin.unpersist()
            fail(failed)
            pinPassing(inputs.filterNot(failed.contains), checkedAlone)
          case Failure(_: Exception) if !checkedAlone =>
            // pin each input alone: a throw, or a failed guard, is its error
            fail(inputs.zip(DriverPool.traverse("guard", inputs, parallelism)(o =>
              Try(pinRead(Seq(o))) match {
                case Success((pin, failed, _)) => pin.unpersist(); failed.get(o)
                case Failure(e) => Some(String.valueOf(e.getMessage))
              })).collect { case (o, Some(m)) => o -> m })
            pinPassing(inputs.filterNot(errors.contains), checkedAlone = true)
          case Failure(e) => throw e
        }

      def outcome(r: Option[ReportResult]) =
        (r, mine.indices.flatMap(o => errors.get(o).map((mine(o), _))))
      val ok = rawOf.keys.toSeq.sorted
      try pinPassing(ok, checkedAlone = false) match {
        case None => outcome(None)
        case Some((pin, out)) =>
          try {
            val (kept, dups) = KeepLastDedup.split(pin)
            val rejects = out.rejects.drop("__file_ord", "__row_ord")
            val r = ReportResult(report, kept, dups, rejects, None)
            // K1-K3 side channels, then the caller's load
            val name = report.schema.name
            SideChannelCsv.writeErrors(rejects, exportDir, name, runStamp)
            SideChannelCsv.writeDuplicates(dups, exportDir, name, runStamp)
            SideChannelCsv.writeSnapshot(kept, exportDir, name, runStamp)
            load(r)
            outcome(Some(r))
          } finally { pin.unpersist(); () }
      } catch {
        case e: Exception =>
          fail(ok.filterNot(errors.contains).map(_ -> s"${report.schema.name}: ${e.getMessage}"))
          outcome(None)
      }
    }

    // A report's failure is kept as a value, so it neither cancels nor
    // skips another report: a load stopped mid-protocol could leave a
    // committed write without its audit rows.
    val outcomes = DriverPool.traverse("report", ReportType.all, parallelism)(runReport)
    val failed = outcomes.flatMap(_._2)
    val finished = classified.toSet -- failed.map(_._1)
    RunResult(outcomes.flatMap(_._1), failed.map(_._2), units.collect { case Left(p) => p },
      files.collect { case (p, us) if us.forall(_.exists(finished)) => p })
  }
}
