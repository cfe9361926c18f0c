package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Consecutive-date streak detection — gaps-and-islands (reference G1).
  *
  * Reference: `get_date_pairs`, `reports_exporter_v0.83.py:1253-1298` —
  * sorted distinct dates → [begin, end] of each maximal consecutive run,
  * used to build ranged DELETEs and gap warnings.
  *
  * Classic island id: `date - row_number() OVER (ORDER BY date)` is constant
  * within a consecutive run. The unpartitioned window is deliberate and
  * safe at any scale: it runs over *distinct dates*, which for a fact table
  * partitioned by day is O(days) — thousands of rows even at 100 TB — and
  * the distinct() before it is a proper distributed aggregate.
  *
  * [[local]] is the same rule on a day list already on the driver, in the
  * reference's own loop shape; both return the same islands.
  */
object DateStreaks {

  /** @param dateCol a DATE-typed column
    * @return (streak_start: date, streak_end: date, n_days: int) one row per island
    */
  def apply(df: DataFrame, dateCol: String): DataFrame = {
    // null dates cannot belong to any consecutive run — they would form a
    // phantom island with null bounds (the reference's inputs are
    // post-clean, date-mandatory; this guards the general operator).
    val d = df.select(col(dateCol).as("d")).filter(col("d").isNotNull).distinct()
    d.withColumn("__grp", date_sub(col("d"), row_number().over(Window.orderBy(col("d")))))
      .groupBy(col("__grp"))
      .agg(
        min(col("d")).as("streak_start"),
        max(col("d")).as("streak_end"),
        (datediff(max(col("d")), min(col("d"))) + 1).as("n_days"))
      .drop("__grp")
  }

  /** The islands of an ascending day list on the driver, in order.
    * Repeated days are merged; an empty list has no islands.
    *
    * @return (streak_start, streak_end) per island
    */
  def local(sortedDays: Seq[LocalDate]): Seq[(LocalDate, LocalDate)] =
    sortedDays.foldLeft(Vector.empty[(LocalDate, LocalDate)]) {
      case (done :+ ((start, end)), d) if !d.isAfter(end.plusDays(1)) =>
        done :+ ((start, d))
      case (done, d) => done :+ ((d, d))
    }
}
