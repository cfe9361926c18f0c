package graft.sinks

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.control.DriverPool

/** Targeted delete-by-key over a stats-manifested parquet directory
  * ([[DataSkipping]]): the erasure/right-to-be-forgotten primitive.
  *
  * A naive delete rewrites the whole table to remove a handful of keys.
  * With the per-file manifest, only files that might contain a listed
  * key are touched — by min/max range on a layout-clustered long key
  * (the [[DataSkipping.writeWithStats]] contract), by Bloom sidecar on
  * any other key (including strings), or the intersection when both
  * exist — a few files out of thousands, so erasure cost tracks the
  * erasure list, not the table. That contract now holds END TO END: the
  * manifest refresh is [[DataSkipping.patchManifest]], which recomputes
  * stats only for the files this run actually rewrote (a file-local,
  * column-pruned pass over just those paths), drops deleted files'
  * entries, and keeps every other entry verbatim. Untouched files are
  * never re-read and stay byte-identical, which also means their
  * downstream caches/replicas stay valid.
  *
  * The drop pass is STAGED, never in place ([[stageDropRows]]): every
  * hit file's survivors land as fresh orphan part files first, ONE
  * manifest commit (a CAS on the version log) swaps the hit files'
  * entries for the staged names, and only after that commit are the
  * originals physically deleted (delete-last, so no crash window can
  * strand a manifest referencing a missing file). Until the commit,
  * every committed file is byte-identical and the staged survivors are
  * invisible to manifest-driven reads — so a crash, a lost CAS, or an
  * abandoned retry loses nothing; the loser deletes its own staged
  * names and the next run re-stages from intact originals. Leftover
  * dot-prefixed `.erasure_tmp_*` staging dirs of a crashed run are
  * invisible to directory readers and are swept at the start of the
  * next run. If EVERY file empties, the patch writes an empty manifest
  * rather than failing schema inference on an empty dir.
  *
  * NULL keys are never deleted: a NULL can't equal a listed key, and
  * the keep-predicate says so explicitly because `!isin` alone would
  * evaluate to NULL and silently drop them — the suite pins this.
  *
  * Cost shape: ONE column-complete Spark job over exactly the hit
  * files (they are being rewritten, so every column must move), plus
  * staged parquet FOOTER reads over a bounded driver pool — never a
  * per-file count-then-rewrite job pair, and never the table.
  *
  * Erasure is the store's ONE immediate physical deleter (rewrite
  * maintenance tombstones; vacuum reclaims) — right-to-be-forgotten
  * cannot defer: the commit is followed by log truncation and a sweep
  * of every file the truncated history referenced (doomed originals
  * AND accumulated tombstones, which may hold pre-update row versions
  * of the erased keys).
  */
object Erasure {

  /** @param filesTotal     files in the manifest before erasure
    * @param filesRewritten hit files rewritten with survivors
    * @param filesDeleted   hit files removed entirely (no survivors)
    * @param rowsDeleted    total rows erased
    */
  final case class ErasureReport(filesTotal: Int, filesRewritten: Int,
      filesDeleted: Int, rowsDeleted: Long)

  /** Erase every row whose `keyCol` (long) appears in `keys`. */
  def deleteKeys(spark: SparkSession, dir: String, keyCol: String,
      keys: Seq[Long]): ErasureReport =
    delete(spark, dir, keyCol, keys)

  /** Erase every row whose `keyCol` equals one of `keys` (Long or
    * String — string keys require a Bloom sidecar in the manifest,
    * since min/max stats are long-only).
    */
  def delete(spark: SparkSession, dir: String, keyCol: String,
      keys: Seq[Any]): ErasureReport = {
    require(keys.nonEmpty, "keys must be non-empty")
    val base = DataSkipping.currentVersion(spark, dir) // writer-fence base
    val m = DataSkipping.readManifestBase(spark, dir, base) // at the base, never the pointer
    val conf = spark.sessionState.newHadoopConf()
    sweepStaleTmp(new Path(dir), conf)
    val hits = DataSkipping.candidateFiles(m, keyCol, keys,
      s"$dir/${DataSkipping.ManifestName}")
    if (hits.isEmpty) return ErasureReport(m.files.size, 0, 0, 0L)
    val d = stageDropKeyRows(spark, dir, hits, keyCol, keys, m.cols)
    if (d.untouched) return ErasureReport(m.files.size, 0, 0, 0L)
    try
      // forceCheckpoint: RTBF deletes the older version files, so the
      // erasure's own commit must be a FULL manifest — a delta would
      // need the predecessors erasure is about to destroy
      DataSkipping.patchManifest(spark, dir, d.removed, d.replacedNew,
        Some(base), rewriteOrigin = d.replacedNew.toSet,
        known = Some(m), forceCheckpoint = true): Unit
    catch {
      case e: java.util.ConcurrentModificationException =>
        // lost the CAS: the staged survivors are still orphans and every
        // committed file is byte-identical — delete our names and let
        // the caller re-run against the winner's manifest
        deleteFiles(dir, d.replacedNew, conf)
        throw e
    }
    forgetHistory(spark, dir, base + 1, conf)
    ErasureReport(m.files.size, d.replacedOld.size, d.emptied.size, d.rowsDeleted)
  }

  /** Right-to-be-forgotten post-commit teardown, shared by [[delete]]
    * and [[deleteRange]] — the ONE place the store still deletes bytes
    * outside [[DataSkipping.vacuumVersions]] (rewrite-shaped
    * maintenance only tombstones). Forgetting must forget everything:
    *  - every version file OLDER than the erasure's own commit
    *    `committedV` deletes (those manifests reference the
    *    pre-erasure files and carry the erased keys' min/max/Bloom
    *    metadata);
    *  - every part file that expired history referenced but no
    *    surviving version does — the doomed originals AND every
    *    accumulated TOMBSTONE — deletes physically: a tombstone from
    *    an earlier upsert may hold a pre-update row version of an
    *    erased key.
    *
    * Anchored on `committedV` (= the fence base + 1, which the CAS
    * guarantees is OUR commit), never on "the newest version at
    * teardown time": a concurrent writer may commit `committedV + 1`
    * between our CAS and this teardown, and a newest-anchored
    * truncate would then delete OUR version file — stranding our
    * staged survivors as orphans — while a newest-anchored sweep
    * could delete the concurrent winner's fresh files. Versions
    * `>= committedV` (ours and anything built on it — the CAS chain
    * means every later manifest derives from ours, so none carries
    * erased-key metadata) survive untouched, and any old file their
    * manifests still carry forward is in the keep set via OUR
    * manifest. Safe against in-flight (uncommitted) writers too:
    * only version-REFERENCED files are swept, and a writer's
    * just-moved pre-commit files are referenced by no version.
    */
  private def forgetHistory(spark: SparkSession, dir: String,
      committedV: Long,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val fs = new Path(dir).getFileSystem(conf)
    val older = DataSkipping.listVersions(spark, dir).filter(_ < committedV)
    val olderRefs = older.flatMap(v =>
      DataSkipping.readManifestAt(spark, dir, v).files.map(_.file)).toSet
    older.foreach(v =>
      fs.delete(new Path(dir, DataSkipping.versionName(v)), false): Unit)
    val keep = DataSkipping.listVersions(spark, dir).flatMap(v =>
      DataSkipping.readManifestAt(spark, dir, v).files.map(_.file)).toSet
    deleteFiles(dir, (olderRefs -- keep).toSeq.sorted, conf)
  }

  /** Retention / TTL enforcement — erase every row whose `keyCol` (a
    * long stats column, typically event-time micros) falls in the
    * INCLUSIVE [lo, hi] range: "delete everything older than the
    * retention horizon" as a listing-sized decision. NULL keys survive
    * (a NULL satisfies no range predicate), matching [[delete]].
    *
    * Three file classes, decided from the manifest alone:
    *  - disjoint range → untouched, never read;
    *  - wholly inside [lo, hi] with a KNOWN-ZERO null count → deleted
    *    from the listing WITHOUT reading a byte (min/max ignore NULLs,
    *    so only the recorded null count proves no NULL row hides
    *    inside; legacy manifests without null counts stay conservative
    *    and take the rewrite path);
    *  - straddling (or null-count-unknown) → survivors rewrite via the
    *    same atomic-overwrite swap as key erasure.
    *
    * For the dominant retention shape — time-clustered store, horizon
    * sweeping forward — almost every doomed file is wholly doomed, so
    * the cost is file deletes + a boundary file's rewrite, never a
    * table scan.
    */
  def deleteRange(spark: SparkSession, dir: String, keyCol: String,
      lo: Long, hi: Long): ErasureReport = {
    require(lo <= hi, s"lo=$lo must be <= hi=$hi")
    val base = DataSkipping.currentVersion(spark, dir) // writer-fence base
    val m = DataSkipping.readManifestBase(spark, dir, base) // at the base, never the pointer
    val si = m.cols.indexOf(keyCol)
    require(si >= 0, s"column '$keyCol' has no range stats in " +
      s"$dir/${DataSkipping.ManifestName} (stats cols: ${m.cols.mkString(", ")})")
    val conf = spark.sessionState.newHadoopConf()
    sweepStaleTmp(new Path(dir), conf)
    val hits = m.files.filter(f => f.maxs(si) >= lo && f.mins(si) <= hi)
    if (hits.isEmpty) return ErasureReport(m.files.size, 0, 0, 0L)
    val (whole, partial) = hits.partition(f =>
      f.mins(si) >= lo && f.maxs(si) <= hi &&
        f.nulls.nonEmpty && f.nulls(si) == 0L)
    val keep = col(keyCol).isNull || !col(keyCol).between(lo, hi)
    val d = stageDropRows(spark, dir, partial, keep, m.cols)
    val rowsDeleted = d.rowsDeleted + whole.map(_.rows).sum
    // the COMMIT comes first; ALL doomed files (listing-decided wholes
    // AND drop-pass files) delete AFTER it — the store's delete-last
    // protocol (compaction step 4): a crash before the commit leaves
    // the manifest and files consistent (the erasure simply hasn't
    // happened yet: straddling files' survivors are still ORPHANS, the
    // originals byte-identical), a crash after it leaves post-commit
    // orphans that manifest-driven reads already ignore and the next
    // maintenance entry sweeps. Deleting first would let a crash strand
    // a manifest that references missing files — every pruned read of
    // the store would then fail.
    try
      // forceCheckpoint: same RTBF rule as delete — the commit must
      // stand alone once forgetHistory destroys its predecessors
      DataSkipping.patchManifest(spark, dir,
        whole.map(_.file) ++ d.removed, d.replacedNew, Some(base),
        rewriteOrigin = d.replacedNew.toSet,
        known = Some(m), forceCheckpoint = true): Unit
    catch {
      case e: java.util.ConcurrentModificationException =>
        deleteFiles(dir, d.replacedNew, conf) // staged orphans; store intact
        throw e
    }
    forgetHistory(spark, dir, base + 1, conf)
    ErasureReport(m.files.size, d.replacedOld.size,
      whole.size + d.emptied.size, rowsDeleted)
  }

  /** Result of a STAGED drop pass ([[stageDropRows]]) — nothing is
    * committed and no committed file has been touched yet:
    *  - each hit file with PARTIAL survivors lands in `replacedOld`,
    *    its survivor rows staged under fresh orphan `replacedNew`
    *    names; the caller's single manifest commit swaps the olds out
    *    for the news together;
    *  - `emptied` are hit files whose EVERY row is doomed (entry drops
    *    at the commit, file deletes post-commit);
    *  - false-positive hits (Bloom/range said maybe, no row matched)
    *    appear in neither list and stay byte-identical on disk.
    */
  private[sinks] final case class StagedDrop(replacedOld: List[String],
      replacedNew: List[String], emptied: List[String], rowsDeleted: Long) {
    def removed: List[String] = emptied ++ replacedOld
    def untouched: Boolean = replacedOld.isEmpty && emptied.isEmpty
  }

  /** Above this, a key list stops being an `isin` literal chain and
    * becomes a broadcast anti-join: a million-literal IN is a
    * million-node expression tree (analysis and codegen blow up long
    * before the data does), while a broadcast hash anti-join probes
    * the same set at O(1) per row.
    */
  private[sinks] val IsinMaxKeys = 10000

  /** Key-list form of [[stageDropRows]] ([[delete]] and
    * [[DataSkipping.upsertKeys]]). NULL keys always survive: `!isin`
    * alone evaluates to NULL on them and would silently drop them —
    * and LEFT ANTI agrees, because a NULL key equals no doomed key.
    */
  private[sinks] def stageDropKeyRows(spark: SparkSession, dir: String,
      hits: Seq[DataSkipping.FileStats], keyCol: String,
      keys: Seq[Any], sortCols: Seq[String] = Nil): StagedDrop =
    if (keys.lengthCompare(IsinMaxKeys) <= 0)
      stageDropRows(spark, dir, hits,
        col(keyCol).isNull || !col(keyCol).isin(keys: _*), sortCols)
    else
      stageDrop(spark, dir, hits, df =>
        df.join(broadcast(keyListDf(spark, keys, "__doomed")),
          col(keyCol) === col("__doomed"), "left_anti"), sortCols)

  /** A driver key list as a one-column DataFrame (for the broadcast
    * semi/anti-join form of a big IN). Lists are homogeneous — they
    * are the values of one column.
    */
  private[sinks] def keyListDf(spark: SparkSession, keys: Seq[Any],
      name: String): org.apache.spark.sql.DataFrame = keys.head match {
    case _: Long | _: Int =>
      spark.createDataset(keys.map {
        case l: Long => l
        case i: Int => i.toLong
        case other => throw new IllegalArgumentException(
          s"mixed key list: ${other.getClass.getName} among longs")
      })(org.apache.spark.sql.Encoders.scalaLong).toDF(name)
    case _: String =>
      spark.createDataset(keys.map {
        case s: String => s
        case other => throw new IllegalArgumentException(
          s"mixed key list: ${other.getClass.getName} among strings")
      })(org.apache.spark.sql.Encoders.STRING).toDF(name)
    case other => throw new IllegalArgumentException(
      s"key lists support Long and String, got ${other.getClass.getName}")
  }

  /** STAGE the `keep`-survivors of every candidate file as fresh orphan
    * part files — the shared drop core of [[delete]], [[deleteRange]]
    * and [[DataSkipping.upsertKeys]], and deliberately NOT an in-place
    * rewrite: until the caller's manifest commit, every committed file
    * is byte-identical and the staged survivors are orphans invisible
    * to manifest-driven reads, so a lost commit CAS (or an abandoned
    * retry) loses NOTHING — the loser just deletes its staged names.
    * An in-place rewrite here would mutate committed files before the
    * commit, an unrecoverable data-loss state on abandonment.
    *
    * One COLUMN-COMPLETE Spark job reads all hit files together
    * (tagged by `input_file_name`), filters to survivors, and writes
    * them partitioned by source file into a dot-tmp staging dir —
    * hit-sized, one job, instead of a count-then-rewrite pair of jobs
    * per file. Survivors re-sort within each partition on `sortCols`
    * (the manifest's stats columns): a hash-repartitioned rewrite
    * would otherwise lose the within-file layout order every other
    * write path establishes, silently degrading row-group skipping
    * and scan locality on every file an upsert/erasure touches until
    * a recluster. Per-source survivor counts come from the staged
    * parquet FOOTERS (driver-side metadata reads over a bounded
    * thread pool — a sequential loop would serialize O(hits) metadata
    * RPCs on an object store) and classify each hit: no survivors →
    * emptied; all rows survive → false positive, staged copy
    * discarded, original untouched; partial → the staged file moves
    * into the directory under a fresh unique name, returned as
    * `replacedNew`.
    */
  private[sinks] def stageDropRows(spark: SparkSession, dir: String,
      hits: Seq[DataSkipping.FileStats],
      keep: org.apache.spark.sql.Column,
      sortCols: Seq[String] = Nil): StagedDrop =
    stageDrop(spark, dir, hits, _.filter(keep), sortCols)

  private def stageDrop(spark: SparkSession, dir: String,
      hits: Seq[DataSkipping.FileStats],
      survive: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      sortCols: Seq[String] = Nil): StagedDrop = {
    if (hits.isEmpty) return StagedDrop(Nil, Nil, Nil, 0L)
    val conf = spark.sessionState.newHadoopConf()
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    val tmp = new Path(dir, s".erasure_tmp_stage_${java.util.UUID.randomUUID()}")
    try {
    val src = spark.read.parquet(hits.map(f => s"$dir/${f.file}"): _*)
    require(!src.columns.contains("__src"),
      "the store schema reserves '__src' (the staged drop pass tags rows " +
        "by source file under that name) — rename the column")
    // one shuffle, sized to the HIT LIST (hash on source file): a
    // task per hit file, not the session's shuffle-partition default —
    // spark.sql.shuffle.partitions would cap a 100k-hit erasure's
    // write parallelism at a few hundred tasks, and conversely waste
    // mostly-empty tasks on a 2-hit upsert
    survive(src.withColumn("__src", element_at(split(input_file_name(), "/"), -1)))
      .repartition(hits.size, col("__src"))
      // keep per-source runs contiguous, then restore the within-file
      // stats order the original clustered write established
      .sortWithinPartitions(col("__src") +: sortCols.map(col): _*)
      .write.partitionBy("__src").mode(SaveMode.Overwrite).parquet(tmp.toString)
    // staged layout: tmp/__src=<file name>/part-...; a source with no
    // survivors writes no partition dir at all
    val stagedBySrc: Map[String, Seq[Path]] =
      if (!fs.exists(tmp)) Map.empty
      else fs.listStatus(tmp).map(_.getPath)
        .filter(_.getName.startsWith("__src="))
        .map { d =>
          val srcName = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(d.getName.stripPrefix("__src="))
          val parts = fs.listStatus(d).map(_.getPath)
            .filter(p => p.getName.startsWith("part-") && !p.getName.endsWith(".crc"))
            .toIndexedSeq
          srcName -> parts
        }.toMap
    val rowCounts = parquetRowCounts(stagedBySrc.values.flatten.toIndexedSeq, conf)
    var replacedOld = List.empty[String]
    var replacedNew = List.empty[String]
    var emptied = List.empty[String]
    var rowsDeleted = 0L
    hits.foreach { f =>
      val staged = stagedBySrc.getOrElse(f.file, Nil)
      val kept = staged.map(rowCounts).sum
      rowsDeleted += f.rows - kept
      if (kept == 0) {
        emptied ::= f.file
      } else if (kept < f.rows) {
        staged.foreach { p =>
          val fresh = s"part-${java.util.UUID.randomUUID()}.snappy.parquet"
          val fc = FileContext.getFileContext(fs.getUri, conf)
          val dst = new Path(dir, fresh)
          fc.rename(p, dst)
          DataSkipping.touchAppeared(fs, dst) // the sweep's age anchor
          replacedNew ::= fresh
        }
        replacedOld ::= f.file
      }
      // kept == f.rows: a range/bloom hit with no matching row (false
      // positive) — original untouched, staged copy dies with the tmp dir
    }
    StagedDrop(replacedOld, replacedNew, emptied, rowsDeleted)
    // the staging dir dies on EVERY path (a mid-job failure — e.g. a
    // concurrent compaction deleted a hit file under our read — must
    // not leave a half-written tmp for the aged sweep to find)
    } finally fs.delete(tmp, true): Unit
  }

  /** Committed row count from the parquet footer — a driver-side
    * metadata read (no Spark job) sized to the hit list.
    */
  private def parquetRowCount(p: Path,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Footer row counts for the whole staged file list over a BOUNDED
    * thread pool: each footer read is an independent metadata RPC, and
    * a sequential driver loop serializes O(hits) of them — a 100k-hit
    * erasure on an object store would pay ~100k round-trips one after
    * another. 16 concurrent readers keeps the driver light while
    * collapsing the wall time to hits/16 RPC rounds; local FS reads
    * are fast either way, so the pool only ever helps.
    */
  private def parquetRowCounts(paths: IndexedSeq[Path],
      conf: org.apache.hadoop.conf.Configuration): Map[Path, Long] =
    paths.zip(DriverPool.traverse("row-counts", paths, parallelism = 16)(
      parquetRowCount(_, conf))).toMap

  /** Post-commit physical delete of files a drop pass emptied (and,
    * for [[deleteRange]], the listing-decided wholly-doomed set) — the
    * last step of every erasure/upsert, strictly AFTER the manifest
    * commit that stopped referencing them.
    */
  private[sinks] def deleteFiles(dir: String, files: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Unit =
    files.foreach { n =>
      val target = new Path(dir, n)
      target.getFileSystem(conf).delete(target, false): Unit
    }

  /** Remove `.erasure_tmp_*` leftovers of a crashed prior run: staged
    * survivors that were never committed (the manifest CAS is the last
    * step), so the temp contents are stale garbage, not the only copy
    * of data. AGE-GATED like [[DataSkipping.sweepOrphans]]: a staging
    * dir younger than the grace window may belong to a LIVE concurrent
    * upsert, which stages under the same prefix.
    */
  private def sweepStaleTmp(dir: Path, conf: org.apache.hadoop.conf.Configuration): Unit = {
    val fs = dir.getFileSystem(conf)
    val cutoff = System.currentTimeMillis() - DataSkipping.sweepGraceMs
    if (fs.exists(dir))
      fs.listStatus(dir)
        .filter(_.getModificationTime < cutoff)
        .map(_.getPath)
        .filter(_.getName.startsWith(".erasure_tmp_"))
        .foreach(p => fs.delete(p, true): Unit)
  }
}
