package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.EtlFunctions._

class EtlFunctionsSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def one(c: org.apache.spark.sql.Column, rows: Seq[(java.sql.Timestamp, java.sql.Timestamp)]): Seq[String] =
    rows.toDF("t", "s").select(c.cast("string")).as[String].collect().toSeq

  test("F10: rollover keeps scheduled time-of-day; shifts only when sched > ticket tod") {
    val rows = Seq(
      (ts("2024-01-02 10:00:00"), ts("2024-01-02 09:00:00")), // sched earlier → same day, 09:00
      (ts("2024-01-02 10:00:00"), ts("2024-01-02 11:00:00")), // sched later → previous day, 11:00
      (ts("2024-01-02 10:00:00"), ts("2024-01-02 10:00:00"))) // equal → no shift (strict >)
    val out = one(midnightRollover(col("t"), col("s")), rows)
    assert(out === Seq("2024-01-02 09:00:00", "2024-01-01 11:00:00", "2024-01-02 10:00:00"))
  }

  test("F11: service date boundary — 05:00:00 shifts, 05:00:01 does not") {
    val rows = Seq(
      (ts("2024-03-10 05:00:00"), ts("2024-03-10 05:00:00")),
      (ts("2024-03-10 05:00:01"), ts("2024-03-10 05:00:01")),
      (ts("2024-03-10 00:10:00"), ts("2024-03-10 00:10:00")),
      (ts("2024-03-10 23:59:59"), ts("2024-03-10 23:59:59")))
    val out = one(serviceDate(col("t")), rows)
    assert(out === Seq("2024-03-09", "2024-03-10", "2024-03-09", "2024-03-10"))
  }

  test("U1: phone cleanup — prefix strip, dash removal, 14-char truncation, null prefix") {
    val rows = Seq(
      ("+20", "+20-123-45"),
      ("+20", "+30-123-45"),              // prefix mismatch → kept
      ("+1", "+1-123456789012345678"),    // truncates to 14
      (null: String, "555-12"))           // null prefix → only dashes removed
    val out = rows.toDF("p", "t")
      .select(cleanPhone(col("p"), col("t"))).as[String].collect().toSeq
    assert(out === Seq("12345", "+3012345", "12345678901234", "55512"))
  }

  test("F9: VAT gross-up is exact on cents-scale inputs") {
    val out = Seq(100.0, 0.04, 1.99).toDF("x")
      .select(vatGrossUp(col("x"))).as[Double].collect().toSeq
    assert(out === Seq(115.0, 0.046, 2.2885))
  }

  test("F1/F2: try-coercion nulls on malformed input (ANSI-safe)") {
    val out = Seq(("2024-01-01 10:00:00", "1.5"), ("garbage", "x"))
      .toDF("t", "n")
      .select(parseTs(col("t")).isNull.as("tn"), parseNum(col("n")).isNull.as("nn"))
      .as[(Boolean, Boolean)].collect().toSeq
    assert(out === Seq((false, false), (true, true)))
  }
}
