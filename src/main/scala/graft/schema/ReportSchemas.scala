package graft.schema

import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Column-level kind after the coercion pass. Everything is *read* as
  * string (reference `reports_exporter_v0.83.py:527, 890, 1117`), then
  * selectively coerced.
  */
sealed trait ColKind
object ColKind {
  /** stays string end-to-end */
  case object Str extends ColKind
  /** `to_numeric(errors="coerce")` → double, null on failure (F2) */
  case object Num extends ColKind
  /** `to_datetime(errors="coerce", "%Y-%m-%d %H:%M:%S")` → timestamp (F1) */
  case object Ts extends ColKind
}

/** One input column: source header name, DB output name, post-coercion
  * kind, and whether a null after coercion rejects the row (P2).
  */
final case class ColumnSpec(source: String, db: String, kind: ColKind, notNull: Boolean)

/** A report relation: its exact ordered header (S4 classification is exact
  * ordered match), per-column specs, dedup keys and consolidation sort keys
  * (D1/O2), all in DB-name space.
  */
final case class ReportSchema(
    name: String,
    columns: Seq[ColumnSpec],
    dedupKeys: Seq[String],
    sortKeys: Seq[String]) {
  def header: Seq[String] = columns.map(_.source)
  def mandatorySources: Seq[String] = columns.filter(_.notNull).map(_.source)
  /** All-string read schema (S5, `dtype=str`). */
  def allStringStruct: StructType =
    StructType(columns.map(c => StructField(c.source, StringType, nullable = true)))
}

/** Closed enum of report kinds (reference `:149-152`). */
sealed trait ReportType { def schema: ReportSchema }
object ReportType {
  case object TrainList extends ReportType { def schema: ReportSchema = Schemas.trainList }
  case object Occupancy extends ReportType { def schema: ReportSchema = Schemas.occupancy }
  case object BookingPayment extends ReportType { def schema: ReportSchema = Schemas.bookingPayment }
  val all: Seq[ReportType] = Seq(TrainList, Occupancy, BookingPayment)
}

/** The three report schemas, column-for-column from the reference
  * (FIXTURES.md; headers `reports_exporter_v0.83.py:292-427`, not-null sets
  * `:567-585/:928-964/:1146-1165`, renames `:747-801/:1005-1065/:1216-1243`).
  */
object Schemas {
  import ColKind._
  private def c(source: String, db: String, kind: ColKind = Str, nn: Boolean = false) =
    ColumnSpec(source, db, kind, nn)

  /** Train List: 41 input cols; dedup on ticket_number, sort
    * (departure_date, operation_date_time) asc (`:1753-1754, 1765-1766`).
    * `Base Price` is in the not-null set but NOT numerically coerced
    * (`:552-561` vs `:578`) — stays string, deliberately.
    */
  val trainList: ReportSchema = ReportSchema(
    name = "Train List",
    columns = Seq(
      c("Departure Date", "departure_date", Ts, nn = true),
      c("Train Number", "train_number", Str, nn = true),
      c("OD", "od", Str, nn = true),
      c("Origin Station", "origin_station", Str, nn = true),
      c("Destination Station", "destination_station", Str, nn = true),
      c("Coach Number", "coach_number"),
      c("Seat Number", "seat_number"),
      c("Class", "class", Str, nn = true),
      c("Booking Code", "booking_code", Str, nn = true),
      c("Ticket Number", "ticket_number", Str, nn = true),
      c("Tariff", "tariff", Str, nn = true),
      c("Status", "status", Str, nn = true),
      c("Payment Mode", "payment_mode"),
      c("Media Type", "media_type"),
      c("Sales Channel", "sales_channel"),
      c("Base Price", "base_price", Str, nn = true),
      c("VAT Base Price", "vat_base_price", Num, nn = true),
      c("Management Fee", "management_fee", Num, nn = true),
      c("VAT Management Fee", "vat_management_fee", Num, nn = true),
      c("Payment Fee", "payment_fee", Num, nn = true),
      c("VAT Payment Fee", "vat_payment_fee", Num, nn = true),
      c("Operation Amount", "operation_amount", Num, nn = true),
      c("Penalty Tariff", "penalty_tariff", Num),
      c("Amount Not Refunded", "amount_not_refunded", Num),
      c("Compensation Type", "compensation_type"),
      c("Compensation Reason", "compensation_reason"),
      c("Compensation Status", "compensation_status"),
      c("Nationality", "nationality"),
      c("Gender", "gender"),
      c("Name", "name"),
      c("Surname", "surname"),
      c("Document", "document"),
      c("Prefix", "prefix"),
      c("Telephone", "telephone"),
      c("Profile", "profile"),
      c("Special Needs", "special_needs"),
      c("Validation Time", "validating_time", Ts),
      c("Group", "groupyn"),
      c("Checked On Board", "checked_on_board"),
      c("Last Operation Channel", "last_operation_channel"),
      c("Last Operation Equipment Code", "last_operation_equipment_code")),
    dedupKeys = Seq("ticket_number"),
    sortKeys = Seq("departure_date", "operation_date_time"))

  /** Occupancy: 24 input cols; NO numeric coercion (`:1140-1143`) — seat
    * counts stay strings; dedup (date, od, train_number, class), sort
    * (ticket_reserved, quota_configuration) asc — string-lexicographic on
    * numeric strings, reference-faithful (`:1757-1758, 1769-1770`).
    */
  val occupancy: ReportSchema = ReportSchema(
    name = "Occupancy",
    columns = Seq(
      c("Date", "date", Ts, nn = true),
      c("OD", "od", Str, nn = true),
      c("Origin Station", "origin_station"),
      c("Destination Station", "destination_station"),
      c("Train ID", "train_id"),
      c("Train Number", "train_number", Str, nn = true),
      c("Class", "class", Str, nn = true),
      c("Total Seats (Quota + Carer + PRM)", "total_seats"),
      c("Quota Configuration", "quota_configuration", Str, nn = true),
      c("Total Locks (Quota + Carer + PRM)", "total_locks"),
      c("For Sale", "for_sale"),
      c("Reserved Usual Seats", "reserved_usual_seats"),
      c("Reserved PRM Seats", "reserved_prm_seats"),
      c("Reserved Carer Seats", "reserved_carer_seats"),
      c("Ticket Reserved (Usual + Carer + PRM)", "ticket_reserved", Str, nn = true),
      c("Reserved & Lock Usual Seats", "reserved_lock_usual_seats"),
      c("Reserved & Lock PRM Seats", "reserved_lock_prm_seats"),
      c("Reserved & Lock Carer Seats", "reserved_lock_carer_seats"),
      c("Total Available", "total_available"),
      c("Validating", "validating"),
      c("No Show", "no_show"),
      c("UnBooked", "unbooked"),
      c("Passengers Inc. Infants", "passengers_inc_infant"),
      c("Checked On Board", "checked_on_board")),
    dedupKeys = Seq("date", "od", "train_number", "class"),
    sortKeys = Seq("ticket_reserved", "quota_configuration"))

  /** Booking Payment Detailed: 57 input cols → 56 output (`VAT Penalty`
    * feeds the ×1.15 gross-up then is dropped, `:1001-1002`). No dedup
    * (`:1767-1768`); sort operation_date_time asc.
    */
  val bookingPayment: ReportSchema = ReportSchema(
    name = "Booking Payment Detailed",
    columns = Seq(
      c("Booking Code", "booking_code", Str, nn = true),
      c("Ticket Number", "ticket_number", Str, nn = true),
      c("Operation Date", "operation_date_time", Ts, nn = true),
      c("Base Price", "base_price", Num, nn = true),
      c("VAT Base Price", "base_price_vat", Num, nn = true),
      c("Management Fee", "management_fee", Num, nn = true),
      c("VAT Management Fee", "management_fee_vat", Num, nn = true),
      c("Payment Fee", "payment_fee", Num, nn = true),
      c("VAT Payment Fee", "payment_fee_vat", Num, nn = true),
      c("Operation Amount", "operation_amount", Num, nn = true),
      c("Penalty Tariff", "penalty_tariff", Num, nn = true),
      c("VAT Penalty", "vat_penalty", Num),
      c("Compensation Type", "compensation_type"),
      c("Compensation Reason", "compensation_reason"),
      c("Compensation Status", "compensation_status"),
      c("Card Number", "card_number"),
      c("Authorization Code", "authorization_code"),
      c("Order ID", "order_id"),
      c("Transaction ID", "transaction_id"),
      c("Status Payment Card", "status_payment_card"),
      c("Card Brand", "card_brand"),
      c("Bill Number", "bill_number"),
      c("Bill Status", "bill_status"),
      c("Train Number", "train_number", Str, nn = true),
      c("Departure Date", "departure_date_time", Ts, nn = true),
      c("Arrival Date", "arrival_date_time", Ts, nn = true),
      c("OD", "od", Str, nn = true),
      c("Origin Station", "origin_station", Str, nn = true),
      c("Destination Station", "destination_station", Str, nn = true),
      c("Class", "class", Str, nn = true),
      c("Tariff", "tariff", Str, nn = true),
      c("Reserved Number of Seats", "reserved_number_of_seats"),
      c("Status", "status", Str, nn = true),
      c("Card Serial Number", "card_serial_number"),
      c("Card User Name", "card_user_name"),
      c("Sales Station", "sales_station"),
      c("Sales Channel", "sales_channel", Str, nn = true),
      c("Sales Equipment Code", "equipment_code"),
      c("Payment Mode", "payment_mode", Str, nn = true),
      c("Coach Number", "coach_number"),
      c("Seat Number", "seat_number"),
      c("Nationality", "country_code"),
      c("Name", "name"),
      c("Surname", "surname"),
      c("Gender", "gender"),
      c("Document Type", "document_type"),
      c("Document", "document"),
      c("Prefix", "prefix"),
      c("Telephone", "telephone"),
      c("Email", "email"),
      c("Profile", "profile"),
      c("Validation Time", "validating_time"),
      c("Checked On Board", "checked_on_board"),
      c("Detail Type", "detail_type"),
      c("Tipology", "tipology"),
      c("Last Operation Channel", "last_operation_channel"),
      c("Last Operation Equipment Code", "last_operation_equipment_code")),
    dedupKeys = Seq.empty,
    sortKeys = Seq("operation_date_time"))
}
