package graft.sinks

import java.net.URI

import scala.concurrent.duration.DurationInt

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.control.DriverPool

/** Small-file compaction — the table-maintenance pass every long-lived
  * 100 TB corpus needs: streaming ingest, per-day partition overwrites,
  * and sharded exports all fragment a table into files far below the
  * scan-efficient size (a 100 MB row-group reads at full parquet
  * throughput; a 100 KB file pays its open/footer/seek cost per scan
  * task AND bloats the driver's file index). Compaction rewrites a
  * fragmented directory into ~`targetBytes` outputs without changing a
  * row.
  *
  * Shape: one distributed read, zero shuffles — `coalesce(n)` only
  * merges input splits into fewer tasks (narrow dependency); rows are
  * never exchanged. `n` is sized from the directory's LISTED bytes (a
  * driver-side metadata walk, no data read), so the job's output files
  * land near the target regardless of how badly the input is
  * fragmented. The rewrite goes to a fresh directory, not in place:
  * readers of the old path are never broken mid-job, and the swap (an
  * atomic rename, or a catalog pointer flip at scale) happens only
  * after the new layout is fully written — crash-safe by construction.
  *
  * Limits, stated: coalesce cannot SPLIT an oversized input file (use
  * a sort/layout rewrite like the z-order path for that), and byte
  * sizing assumes compression ratios comparable across files of one
  * table — true for homogeneous corpus shards, the case this serves.
  */
object Compaction {

  final case class CompactionStats(
      inputFiles: Long, inputBytes: Long, outputFiles: Long, outputBytes: Long)

  /** List `dir` recursively (metadata only): (file count, total bytes)
    * of data files, ignoring `_`-prefixed bookkeeping (_SUCCESS,
    * _manifest.json).
    */
  def dirStats(spark: SparkSession, dir: String): (Long, Long) = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(dir), true)
    var files = 0L; var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")) {
        files += 1; bytes += f.getLen
      }
    }
    (files, bytes)
  }

  /** Rewrite the parquet directory `inDir` into `outDir` as
    * ~`targetBytes` files (default 128 MB). Returns before/after stats;
    * the caller swaps `outDir` into place once satisfied.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L << 20): CompactionStats = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(new URI(outDir).getPath != new URI(inDir).getPath,
      "compact writes a NEW directory; in-place rewrite would break concurrent readers")
    val (inFiles, inBytes) = dirStats(spark, inDir)
    val n = math.max(1L, (inBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inDir).coalesce(n)
      .write.mode("overwrite").parquet(outDir)
    val (outFiles, outBytes) = dirStats(spark, outDir)
    CompactionStats(inFiles, inBytes, outFiles, outBytes)
  }

  /** The read side after a compact-and-swap: just the new directory.
    * Exposed so call sites document the swap discipline in one place.
    */
  def readCompacted(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** One partition directory's outcome in an incremental pass:
    * `skipped` = the directory already met its byte-ideal file count
    * and was neither read nor rewritten.
    */
  final case class PartitionCompaction(
      partition: String, skipped: Boolean, stats: CompactionStats)

  /** INCREMENTAL compaction of a Hive-partitioned directory
    * (`dir/key=value/...`): each partition leaf whose file count
    * exceeds `ceil(bytes / targetBytes)` is rewritten to that many
    * files; partitions already at their target are SKIPPED — not
    * rewritten, not even read — so a maintenance pass over a 100 TB
    * table costs proportional to what the ingest fragmented since the
    * last pass, not to the table. This is the stats-driven loop a
    * live cell-partitioned index needs between appends
    * ([[graft.llm.Similarity.ivfPqAppendIndex]]).
    *
    * Per-partition swap discipline: the rewrite lands in a
    * `_compact_tmp` sibling (underscore-prefixed — invisible to
    * parquet partition discovery if a reader lists mid-job), then the
    * old leaf is replaced by one delete + one rename. Single-writer
    * semantics, same as [[compact]] and the reference's load protocol;
    * `sortCols` (e.g. the id column) makes rewritten file CONTENTS
    * deterministic, not just their row sets.
    */
  def compactPartitions(spark: SparkSession, dir: String,
      targetBytes: Long = 128L << 20,
      sortCols: Seq[String] = Nil): Seq[PartitionCompaction] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(root).filter(s => s.isDirectory &&
      s.getPath.getName.contains("=") &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.getName)
    def one(leaf: Path): PartitionCompaction = {
      val (inFiles, inBytes) = dirStats(spark, leaf.toString)
      val n = math.max(1L, (inBytes + targetBytes - 1) / targetBytes).toInt
      if (inFiles <= n)
        PartitionCompaction(leaf.getName, skipped = true,
          CompactionStats(inFiles, inBytes, inFiles, inBytes))
      else {
        val tmp = new Path(root, s"_compact_tmp_${leaf.getName}")
        if (fs.exists(tmp)) fs.delete(tmp, true) // leftover from a crashed pass
        val compacted = spark.read.parquet(leaf.toString).coalesce(n)
        val sorted =
          if (sortCols.isEmpty) compacted
          else compacted.sortWithinPartitions(sortCols.map(compacted.col): _*)
        sorted.write.mode("overwrite").parquet(tmp.toString)
        fs.delete(new Path(tmp, "_SUCCESS"), false)
        fs.delete(leaf, true)
        if (!fs.rename(tmp, leaf))
          throw new IllegalStateException(s"rename $tmp -> $leaf failed")
        val (outFiles, outBytes) = dirStats(spark, leaf.toString)
        PartitionCompaction(leaf.getName, skipped = false,
          CompactionStats(inFiles, inBytes, outFiles, outBytes))
      }
    }
    // Partitions are rewritten CONCURRENTLY (a bounded driver pool):
    // each leaf's read→write→swap touches only its own directory and
    // tmp sibling, and Spark happily schedules several small jobs at
    // once — sequential leaves left most of the cluster idle during
    // every leaf's output-commit tail. On a failure, swapped leaves are
    // complete and the rest untouched — the crash surface the sequential
    // loop had between leaves. The 6 h bound fails a wedged leaf job
    // loudly instead of hanging the driver.
    DriverPool.traverse("compact", parts.toIndexedSeq, parallelism = 8,
      timeout = 6.hours)(one)
  }
}
