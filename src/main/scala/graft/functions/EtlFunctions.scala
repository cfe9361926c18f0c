package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar derivations from the reference's reader stage (F1-F13, U1).
  *
  * Every one is a built-in Catalyst expression composition — zero UDFs, so
  * the whole derive chain stays inside whole-stage codegen (SURVEY.md §2.7).
  * Citations: jfitam/train-reports-etl `reports_exporter_v0.83.py`.
  */
object EtlFunctions {

  /** F1 `:545-549` — strict-format timestamp parse, null on failure
    * (pandas `errors="coerce"`). `try_to_timestamp`, not `to_timestamp`:
    * Spark 4 runs ANSI mode by default, where the plain parse THROWS on
    * malformed input instead of nulling.
    */
  def parseTs(c: Column): Column = try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss"))

  /** F2 `:563-564` — numeric coercion, null on failure (`try_cast` for the
    * same ANSI reason as [[parseTs]]).
    */
  def parseNum(c: Column): Column = c.try_cast("double")

  /** F3 `:641-643` — date → "yyyy-MM-dd" text. */
  def fmtDateShort(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** F3 `:710-712` — timestamp → "yyyy-MM-dd HH:mm" text. */
  def fmtDateTimeMinute(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm")

  /** F3 `:648` — weekday abbreviation ("Mon".."Sun", Locale-pinned by the
    * session's UTC+root-locale config).
    */
  def weekDay(c: Column): Column = date_format(c, "E")

  /** F4 `:649` — ISO-8601 week number. */
  def isoWeek(c: Column): Column = weekofyear(c)

  /** F5 `:644-652` — " - "-joined business keys. */
  def dashKey(parts: Column*): Column = concat_ws(" - ", parts: _*)

  /** F6 `:647` — corridor/stretch code = first 2 chars of the train number. */
  def corridor(trainNumber: Column): Column = substring(trainNumber, 1, 2)

  /** F9 `:1001` — 15% VAT gross-up. Exact integer path: the input is
    * quantized to 1e-4 units (round-half-up), multiplied by 115, divided
    * back once in double — identical IEEE ops in any engine, no
    * decimal-rounding-mode divergence.
    */
  def vatGrossUp(c: Column): Column =
    floor(c * lit(10000) + lit(0.5)).cast("long") * 115 / 1000000.0

  /** F10 `:655-671` — midnight-rollover departure timestamp. The composed
    * departure is the *scheduled* time-of-day on the ticket's stamped date;
    * when the scheduled time-of-day is later than the ticket's stamped
    * time-of-day, the train actually departed the previous day: shift the
    * date back one day (keeping the scheduled time-of-day, matching
    * `train_departure_date_time` in the reference). Time-of-day comparison
    * on "HH:mm:ss" strings matches the reference's string compare.
    */
  def midnightRollover(ticketTs: Column, scheduledTs: Column): Column = {
    // concat (null-propagating), NOT concat_ws: concat_ws SKIPS null args,
    // so a null scheduled time would leave a bare date that the full
    // pattern rejects. The parse itself stays STRICT (to_timestamp, not
    // try_): null inputs yield null (ANSI only affects malformed text),
    // while genuinely malformed text raises — matching the reference's
    // plain pd.to_datetime composition (`:655-659`), whose raise is
    // isolated per input by the dispatcher.
    val composed = to_timestamp(
      concat(date_format(ticketTs, "yyyy-MM-dd"), lit(" "), date_format(scheduledTs, "HH:mm:ss")),
      "yyyy-MM-dd HH:mm:ss")
    when(date_format(scheduledTs, "HH:mm:ss") > date_format(ticketTs, "HH:mm:ss"),
      composed - expr("INTERVAL 1 DAY")).otherwise(composed)
  }

  /** F11 `:673-679` — service-date cutoff: departures at or before 05:00:00
    * belong to the previous service date (maintenance-window rule). Full
    * time-of-day compare including seconds (the reference compares
    * `time <= time(5,0)`).
    */
  def serviceDate(departureTs: Column): Column =
    when(date_format(departureTs, "HH:mm:ss") <= lit("05:00:00"),
      date_sub(to_date(departureTs), 1))
      .otherwise(to_date(departureTs))

  /** U1→F7+F8+F6 `:723-736` — phone cleanup decomposed to built-ins:
    * strip the row's own prefix value, drop dashes, truncate to 14.
    * `startsWith` + `substring` instead of a per-row compiled regex.
    */
  def cleanPhone(prefix: Column, telephone: Column): Column = {
    val stripped = when(prefix.isNotNull && telephone.startsWith(prefix),
      telephone.substr(length(prefix) + 1, lit(Int.MaxValue))).otherwise(telephone)
    substring(regexp_replace(stripped, "-", ""), 1, 14)
  }
}
