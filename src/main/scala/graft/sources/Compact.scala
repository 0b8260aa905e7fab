package graft.sources

import org.apache.spark.sql.SparkSession

/** Small-file compaction — the housekeeping a continuously-appended
  * dataset needs (incremental appends like `InvertedIndex.appendTo` or
  * streaming sinks leave micro-batch-sized files; thousands of tiny
  * files tax the scan planner and the namenode): rewrite a parquet
  * directory into ~`targetBytes` files.
  *
  * Two entry points. [[compactVersion]] is the DEFAULT for live tables:
  * it compacts a [[Snapshots]] table's latest version into a NEW version
  * published by one conditional put — concurrent readers see the old
  * version or the new one, never a missing path, and pinned readers are
  * untouched (version data is immutable). Plain [[compact]] is the
  * quiesced-directory tool: it swaps IN PLACE via two renames with
  * rollback on failure, and a reader racing the swap can observe a brief
  * path-missing window (one rename wide) — use it only on directories
  * nothing is actively reading.
  *
  * Scale shape: one full read + one exchange-free write when shrinking
  * (coalesce — partitions merge map-side, no shuffle); the publish is
  * rename-only. At 100 TB this runs per-partition-directory (per day /
  * per shard), never over the whole dataset at once.
  */
object Compact {

  /** The store-appropriate primitives for `path` (scheme-less → local
    * `java.nio` verbatim; rename-atomic scheme'd stores → Hadoop io).
    */
  private def io(path: String): ArtifactIo = ArtifactIo.forPath(path)

  /** Bytes of data files under a parquet dir (bookkeeping excluded). */
  def dataBytes(path: String): Long = listDataFiles(path).map(_._2).sum

  /** Number of parquet data files under the dir. */
  def dataFileCount(path: String): Int = listDataFiles(path).length

  /** Rewrite `path` into ceil(bytes/targetBytes) files via coalesce (no
    * shuffle). Returns the new data-file count. Flat parquet directories
    * only: a `partitionBy` layout keeps its data files under `col=value/`
    * subdirectories that this rewrite would silently flatten (and the
    * byte accounting would miss entirely) — compact each partition
    * directory instead, which is also the right unit at 100 TB.
    */
  def compact(spark: SparkSession, path: String, targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(!hasPartitionDirs(path),
      s"$path has a partitioned (col=value) layout — compact each partition directory")
    val fs = io(path)
    val n = math.max(1, math.ceil(dataBytes(path).toDouble / targetBytes).toInt)
    val tmp = path + s".compact-${java.util.UUID.randomUUID()}"
    try Sources.readParquet(spark, path).coalesce(n).write.parquet(tmp)
    catch { case e: Throwable => fs.deleteTree(tmp); throw e }
    val old = path + s".old-${java.util.UUID.randomUUID()}"
    try fs.rename(path, old)
    catch { case e: Throwable => fs.deleteTree(tmp); throw e } // rewrite discarded, path untouched
    try fs.rename(tmp, path)
    catch {
      case e: Throwable =>
        // roll the original back so `path` never stays missing; a failed
        // rollback must not MASK the root cause — suppress it instead
        try fs.rename(old, path)
        catch { case rb: Throwable => e.addSuppressed(rb) }
        fs.deleteTree(tmp)
        throw e
    }
    fs.deleteTree(old)
    dataFileCount(path)
  }

  /** Compact a [[Snapshots]] table's latest version into a NEW snapshot
    * version: read the latest version's resolved files, rewrite at
    * ~`targetBytes` files, commit as the next version (no path-missing
    * window, old versions untouched for pinned readers). Returns
    * (newVersion, dataFileCount). Publishes through
    * `Snapshots.commitIfLatest` — a data commit landing between the base
    * read and the publish would otherwise be silently shadowed by this
    * rewrite of OLDER content; on a lost race the rewrite is discarded
    * and retried against the new base. The rewrite is self-contained, so
    * it also RE-BASES an append chain: afterwards `Snapshots.retainLast`
    * + `Snapshots.vacuum` can reclaim the predecessors' records and
    * bytes.
    */
  def compactVersion(spark: SparkSession, tableDir: String, targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    var attempts = 0
    while (attempts < 5) {
      val v = Snapshots.latestVersion(tableDir)
        .getOrElse(throw new IllegalArgumentException(s"no committed version under $tableDir"))
      // RESOLVED accounting: an append version's own directory holds only
      // its batch — the compaction must see (and rewrite) the full
      // inherited file set
      val (cnt, bytes) = Snapshots.resolvedStats(tableDir, v)
      val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      // already at (or under) the target layout: a scheduled compaction
      // on a compacted table must not re-read the corpus and accrete a
      // redundant version per run — UNLESS the version carries inherited
      // files, where the rewrite is also the re-base that frees its
      // predecessors for retention
      if (cnt <= n && Snapshots.carriedFileCount(tableDir, v) == 0) return (v, cnt)
      // dataChange = false: the rewrite holds the same rows as its base,
      // so an incremental feed (Snapshots.readChanges) walks through the
      // compaction with an empty delta instead of re-baselining
      Snapshots.commitIfLatest(Snapshots.read(spark, tableDir, Some(v)).coalesce(n),
          tableDir, v, dataChange = false) match {
        case Some(newV) => return (newV, Snapshots.resolvedStats(tableDir, newV)._1)
        case None       => attempts += 1 // base moved — re-read and retry
      }
    }
    throw new IllegalStateException(
      s"compactVersion: lost the publish race $attempts times under concurrent commits on $tableDir")
  }

  /** True if the directory uses a hive-style `col=value/` partition layout. */
  private def hasPartitionDirs(path: String): Boolean =
    io(path).listEntries(path).exists { case (fn, isDir, _) =>
      isDir && fn.contains("=") && !fn.startsWith(".")
    }

  /** (name, bytes) of the dir's data files (bookkeeping excluded). */
  private def listDataFiles(path: String): Seq[(String, Long)] =
    io(path).listEntries(path).collect {
      case (fn, false, size) if ArtifactIo.isDataFileName(fn) =>
        (fn, size)
    }
}
