package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keep-last deduplication with duplicate capture (reference D1).
  *
  * Reference: `reports_exporter_v0.83.py:1752-1787` — sort ascending by the
  * report's sort keys (stable), then `drop_duplicates(subset=keys,
  * keep="last")`, with the dropped rows persisted to a side channel.
  *
  * Pandas "keep last after a stable ascending sort" == per key, keep the row
  * that is maximal by (sortKeys, original input order). Spark shuffles are
  * unordered, so bit-exact parity needs an explicit tiebreaker column
  * captured at read time (SURVEY.md §7.4 risk 1); pass it as the last
  * element of `ordering` when input-order parity matters.
  *
  * Scale: one shuffle on `keys` (window partition). No global sort — the
  * reference's full-table ascending sort exists only to drive keep-last and
  * deterministic CSV output; the window ordering subsumes the former, and a
  * sink that needs ordered output should sortWithinPartitions instead of
  * paying a global range shuffle at 100 TB.
  */
object KeepLastDedup {

  /** @param keys     dedup key columns (window partition)
    * @param ordering ascending "last wins" priority — internally reversed.
    *   `desc_nulls_first`, not plain `desc`: pandas' ascending sort puts
    *   NaN/NaT LAST (`na_position='last'`), so keep-last keeps the null
    *   row when one exists — the faithful mirror of "last after
    *   ascending-nulls-last" is "first in descending-nulls-first".
    * @return (kept, dups): kept has exactly one row per key
    */
  def apply(df: DataFrame, keys: Seq[String], ordering: Seq[Column]): (DataFrame, DataFrame) =
    split(numbered(df, keys, ordering))

  /** `df` plus the window's `__rn` column: 1 on the row each key keeps,
    * 2.. on its duplicates. A caller with several consumers of kept and
    * dups can persist this one frame so the window shuffles once.
    */
  def numbered(df: DataFrame, keys: Seq[String], ordering: Seq[Column]): DataFrame = {
    val w  = Window.partitionBy(keys.map(col).toIndexedSeq: _*)
      .orderBy(ordering.map(_.desc_nulls_first).toIndexedSeq: _*)
    df.withColumn("__rn", row_number().over(w))
  }

  /** (kept, dups) of a [[numbered]] frame, without the `__rn` column. */
  def split(rn: DataFrame): (DataFrame, DataFrame) =
    (rn.filter(col("__rn") === 1).drop("__rn"), rn.filter(col("__rn") > 1).drop("__rn"))
}
