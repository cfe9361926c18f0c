package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Batch consolidation (reference O1 + O2 + D1).
  *
  * Reference: `reports_exporter_v0.83.py:1732-1787` — concat all (file,
  * sheet) frames of a report type, sort ascending by the report's keys,
  * keep-last dedup with duplicate capture.
  *
  * `unionByName` keeps the plan a single scan-union Catalyst node, so
  * downstream filters/pruning push into every branch. The reference's
  * global sort is NOT reproduced here (see [[KeepLastDedup]] scaladoc) —
  * ordering only feeds the dedup window and the sink.
  */
object Consolidate {

  /** How the report's sort keys order the keep-last dedup.
    *
    * The reference sorts occupancy's numeric-string seat counts
    * LEXICOGRAPHICALLY ("9" > "10" — a quirk of all-string frames,
    * `:1140-1143, 1757-1758`); [[SortMode.Lexicographic]] reproduces it.
    * [[SortMode.Numeric]] is the "fixed" mode (SURVEY §1.2 engine
    * decision): sort keys int-cast, so "10" > "9"; non-numeric strings
    * cast to NULL and sort per the dedup's nulls-first descending rule.
    */
  sealed trait SortMode
  object SortMode {
    case object Lexicographic extends SortMode
    case object Numeric extends SortMode
  }

  /** Sort-key columns under a mode (tiebreakers are appended by callers). */
  def ordering(sortKeys: Seq[String], mode: SortMode): Seq[Column] = mode match {
    case SortMode.Lexicographic => sortKeys.map(org.apache.spark.sql.functions.col)
    case SortMode.Numeric =>
      sortKeys.map(k => org.apache.spark.sql.functions.col(k).cast("int"))
  }

  def union(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "union of no frames")
    dfs.reduce(_.unionByName(_))
  }

  /** union → keep-last dedup; returns (kept, dups). `dedupKeys` empty means
    * "no dedup" (the reference's BPD path, `:1767-1768`).
    */
  def apply(dfs: Seq[DataFrame], dedupKeys: Seq[String], ordering: Seq[Column])
      : (DataFrame, DataFrame) =
    KeepLastDedup.split(numbered(dfs, dedupKeys, ordering))

  /** union → [[KeepLastDedup.numbered]]: one frame that holds both kept
    * (`__rn` = 1) and dups (`__rn` > 1), split with
    * [[KeepLastDedup.split]]. With no `dedupKeys` every row is kept (the
    * constant `__rn` folds away when the frame is not persisted).
    */
  def numbered(dfs: Seq[DataFrame], dedupKeys: Seq[String], ordering: Seq[Column])
      : DataFrame = {
    val u = union(dfs)
    if (dedupKeys.isEmpty) u.withColumn("__rn", org.apache.spark.sql.functions.lit(1))
    else KeepLastDedup.numbered(u, dedupKeys, ordering)
  }
}
