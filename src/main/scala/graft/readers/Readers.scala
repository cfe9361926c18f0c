package graft.readers

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.enrich.Enrichment
import graft.functions.EtlFunctions._
import graft.operators.Cleaning
import graft.schema.{ColKind, ReportSchema, Schemas}

/** @param good    cleaned rows in DB-name space (load-ready)
  * @param rejects rows failing the mandatory-null check, in source-name
  *                space (the error side-channel writes them raw-ish)
  */
final case class ReaderOutput(good: DataFrame, rejects: DataFrame)

/** The shared head of every reader (reference §3.2): prune to the declared
  * schema (P1), coerce timestamps/numerics with null-on-failure (F1/F2),
  * split on the mandatory-null predicate (P2). All pure Column expressions
  * — the coercions and the split predicate stay in whole-stage codegen and
  * the projection prunes the scan to the declared columns.
  *
  * Semantics note (reference-faithful): the `""/" "` → NULL normalization
  * (P4) runs AFTER the split, as in the reference (`:997-998` runs just
  * before rename) — an empty *string* in a mandatory column passes the
  * null check; only a truly-missing cell rejects.
  */
object ReportReader {

  /** Internal plumbing columns (e.g. the pipeline's input-order
    * tiebreakers) ride through the prune/rename stages untouched.
    */
  private def internals(df: DataFrame): Seq[Column] =
    df.columns.filter(_.startsWith("__")).toIndexedSeq.map(col)

  def coerce(raw: DataFrame, schema: ReportSchema): DataFrame = {
    val prjs = schema.columns.map { spec =>
      val x = Cleaning.qcol(spec.source)
      (spec.kind match {
        case ColKind.Ts  => parseTs(x)
        case ColKind.Num => parseNum(x)
        case ColKind.Str => x
      }).as(spec.source)
    }
    // Struct barrier (single-element explode → Generate): the mandatory-
    // null filter AND the downstream projection both consume the coerced
    // columns; without the barrier Catalyst evaluates every try-parse
    // twice (once in the Filter, once in the Project). Materializing the
    // coerced row once costs a row copy; re-parsing costs a format parse
    // per timestamp column per consumer. The P2 filter never pushed to
    // the scan anyway (it tests parse results, not source bytes).
    raw.withColumn("__c", explode(array(struct(prjs: _*))))
      .select(col("__c.*") +: internals(raw): _*)
  }

  def cleanAndSplit(raw: DataFrame, schema: ReportSchema): (DataFrame, DataFrame) =
    Cleaning.notNullSplit(coerce(raw, schema), schema.mandatorySources)

  /** Final projection: source columns renamed to DB names (P6), with
    * per-column overrides (formatting, cleanup), then derived columns
    * appended, then P4 normalization over the string outputs.
    */
  def finalize(df: DataFrame, schema: ReportSchema,
      overrides: Map[String, Column], derived: Seq[(String, Column)],
      dropSources: Set[String] = Set.empty): DataFrame = {
    val base = schema.columns.filterNot(s => dropSources(s.source)).map { spec =>
      overrides.getOrElse(spec.source, Cleaning.qcol(spec.source)).as(spec.db)
    }
    val extra = derived.map { case (name, c) => c.as(name) }
    // Only the pipeline's tiebreakers survive finalize; reader-local
    // scratch columns (also "__"-prefixed) do not.
    val keep = df.columns.filter(Set("__file_ord", "__row_ord")).toIndexedSeq.map(col)
    val out = df.select(base ++ extra ++ keep: _*)
    val strCols = out.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.StringType => f.name
    }
    Cleaning.emptyToNull(out, strCols.toIndexedSeq)
  }
}

/** Train List reader — the richest chain (reference `:461-806`):
  * clean/split, J1 broadcast-join to scheduled departure times (a good row
  * whose train has none matches [[missingDeparture]], for the caller to
  * abort on), the full F3-F11 derive chain (rollover, service date, keys),
  * J2 first-operation-time enrichment, U1 phone cleanup, renames.
  */
object TrainListReader {

  /** J1 (reference `:627-637`, the post-join null check) over the reader's
    * good rows: the train number has no dimension row, or its dimension row
    * has a NULL departure time.
    */
  val missingDeparture: Column = col("train_hour").isNull

  /** @param trainHours dimension (train_number: string, departure_time:
    *   "HH:mm:ss" string) — the reference's `"AFC".train_departure_times`
    * @param history    prior payment operations (ticket_number,
    *   operation_date_time: timestamp) — source of min-per-ticket (J2)
    */
  def apply(raw: DataFrame, trainHours: DataFrame, history: DataFrame): ReaderOutput = {
    val schema = Schemas.trainList
    val (good0, rejects) = ReportReader.cleanAndSplit(raw, schema)

    // J1 — tiny dimension, broadcast; missing keys are a hard error upstream.
    val dim = trainHours.select(
      col("train_number").as("Train Number"), col("departure_time"))
    val joined = Enrichment.broadcastLookup(good0, dim, "Train Number")

    val dep = col("Departure Date")
    val depShort = fmtDateShort(dep)
    // Scheduled departure = the dimension's time-of-day on the ticket's
    // date. concat null-propagates (an unmatched train's null
    // departure_time gives a null schedule); malformed dimension data
    // still raises (strict parse), isolated per input by the dispatcher.
    val sched = to_timestamp(concat(depShort, lit(" "), col("departure_time")),
      "yyyy-MM-dd HH:mm:ss")
    val trainDepTs = midnightRollover(dep, sched)

    val derived = joined
      .withColumn("__train_departure_date_time", trainDepTs)
      .withColumn("__operation_key", col("Ticket Number"))
    val enriched = Enrichment.firstTimestamp(
      derived, history.select(col("ticket_number").as("__operation_key"), col("operation_date_time")),
      "__operation_key", "operation_date_time", "__first_op")

    val tdt = col("__train_departure_date_time")
    val out = ReportReader.finalize(
      enriched, schema,
      overrides = Map(
        "Departure Date"  -> fmtDateTimeMinute(dep),
        "Validation Time" -> fmtDateTimeMinute(col("Validation Time")),
        "Telephone"       -> cleanPhone(col("Prefix"), col("Telephone"))),
      derived = Seq(
        "train_hour"            -> date_format(to_timestamp(col("departure_time"), "HH:mm:ss"), "HH:mm"),
        "departure_date_short"  -> depShort,
        "train_od_short"        -> dashKey(col("Train Number"), col("OD")),
        "stretch"               -> corridor(col("Train Number")),
        "week_day"              -> weekDay(dep),
        "week_num"              -> isoWeek(dep),
        "train_key"             -> dashKey(depShort, col("Train Number"), col("OD")),
        "train_departure_date_time"  -> tdt,
        "train_departure_date_short" -> fmtDateShort(tdt),
        "service_train_departure_date_short" -> fmtDateShort(serviceDate(tdt)),
        "operation_date_time"   -> col("__first_op"),
        "operation_date"        -> fmtDateShort(col("__first_op"))))
    ReaderOutput(out, rejects)
  }
}

/** Occupancy reader (reference `:1098-1243`): no numeric coercion, no DB
  * enrichment; derives the snapshot date and the composite train key.
  */
object OccupancyReader {

  /** @param runDate the snapshot date (reference `datetime.date.today()`,
    *   `:1202`) — injectable for deterministic tests/oracles
    */
  def apply(raw: DataFrame, runDate: Column = current_date()): ReaderOutput = {
    val schema = Schemas.occupancy
    val (good0, rejects) = ReportReader.cleanAndSplit(raw, schema)
    val dateShort = fmtDateShort(col("Date"))
    val out = ReportReader.finalize(
      good0, schema,
      overrides = Map("Date" -> dateShort),
      derived = Seq(
        "data_date"  -> fmtDateShort(runDate),
        "train_key"  -> dashKey(dateShort, col("Train Number"), col("OD"))))
    ReaderOutput(out, rejects)
  }
}

/** Booking Payment Detailed reader (reference `:869-1065`): 57→56 columns,
  * penalty gross-up ×1.15 consuming the dropped `VAT Penalty` column,
  * timestamps re-formatted to minute-precision text.
  */
object BookingPaymentReader {

  def apply(raw: DataFrame): ReaderOutput = {
    val schema = Schemas.bookingPayment
    val (good0, rejects) = ReportReader.cleanAndSplit(raw, schema)
    val out = ReportReader.finalize(
      good0, schema,
      overrides = Map(
        "Operation Date"  -> fmtDateTimeMinute(col("Operation Date")),
        "Departure Date"  -> fmtDateTimeMinute(col("Departure Date")),
        "Arrival Date"    -> fmtDateTimeMinute(col("Arrival Date")),
        "Penalty Tariff"  -> col("Penalty Tariff") * lit(1.15)),
      derived = Seq.empty,
      dropSources = Set("VAT Penalty"))
    ReaderOutput(out, rejects)
  }
}
