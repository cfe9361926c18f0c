package graft.enrich

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dimension-enrichment joins (reference J1, J2 / S8+A1).
  *
  * Reference: `reports_exporter_v0.83.py`
  *  - J1 `:627-637`: left join facts to the tiny `train_departure_times`
  *    dimension; unmatched keys are a hard error (collected and reported).
  *  - J2 `:684-704`: enrich with `min(operation_date_time)` per ticket,
  *    where the reference pushes a Python-built `IN (…)` list into Postgres.
  *    That IN-list is a semi-join in disguise; at 100 TB a driver-built
  *    IN-list is impossible, so we express it as `fact LEFT SEMI JOIN keys`
  *    → partial-agg min → broadcast back. The min-agg is map-side partial
  *    (Spark HashAggregate partial/final), so the shuffle carries one row
  *    per distinct key, not the fact table.
  */
object Enrichment {

  /** J1: broadcast-left-join enrichment. The tiny dimension is broadcast,
    * so the fact table never enters a shuffle. A fact row whose key has no
    * dimension row, or one with a NULL probe value, carries a NULL probe
    * column: the reference's post-join null check
    * (`reports_exporter_v0.83.py:631`) tests the enriched rows for it.
    */
  def broadcastLookup(fact: DataFrame, dim: DataFrame, key: String): DataFrame =
    fact.join(broadcast(dim), Seq(key), "left")

  /** Unmatched-key probe, scale-safe shape: distinct the fact keys FIRST
    * (shuffle carries one row per distinct key, not the fact table), then
    * broadcast-anti-join against the dimension. Equivalent to filtering the
    * enriched frame for null probes + distinct, but never moves fact rows.
    */
  def missingKeys(fact: DataFrame, dim: DataFrame, key: String): DataFrame =
    fact.select(col(key)).distinct()
      .join(broadcast(dim.select(col(key))), Seq(key), "left_anti")

  /** J2: first-occurrence enrichment. `history` is the large table holding
    * prior operations; result joins `min(tsCol)` per key onto `fact`.
    * The semi-join restricts history to this batch's keys *before* the agg,
    * mirroring the reference's pushdown intent.
    */
  def firstTimestamp(fact: DataFrame, history: DataFrame, key: String,
      tsCol: String, outCol: String): DataFrame = {
    val firsts = history
      .join(fact.select(col(key)).distinct(), Seq(key), "left_semi")
      .groupBy(col(key))
      .agg(min(col(tsCol)).as(outCol))
    fact.join(firsts, Seq(key), "left")
  }
}
