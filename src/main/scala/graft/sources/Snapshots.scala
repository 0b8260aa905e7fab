package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned dataset snapshots — the reproducibility contract a
  * training pipeline needs: every corpus revision (daily upsert, dedup
  * pass, filter change) commits as an immutable version, and a training
  * run pins the exact version it read, so the run is replayable after
  * the corpus moves on. Reference analog: one store abstraction behind
  * `StorageKind` (`storage.fs:37-51`); the reference's cloud store was
  * never shipped (`storage.fs:83-86`, `#if LINK_TO_AZURE`).
  *
  * == The log IS the pointer ==
  *
  * Version N is committed if and only if the commit RECORD `_log/N`
  * exists, and that record is created by ONE conditional put
  * ([[ArtifactIo.tryPutIfAbsent]]) — the compare-and-swap. Claim and
  * publish are the same atomic operation, so there is no pointer, no
  * pointer lock, no claimed-but-unpublished version and no recovery
  * machinery. The primitive exists on every store
  * [[ArtifactIo.forSnapshotPath]] admits: local `link(2)`, `file:` and
  * HDFS-family rename-no-replace, and object stores whose deployment
  * declared conditional writes (S3 `If-None-Match: *`, GCS
  * `x-goog-if-generation-match: 0`, Azure Blob `If-None-Match: *`).
  *
  * A committer stages data under a uniquely-named `d-<uuid>/` directory
  * (never renamed — the name is born final; Spark's committer renames
  * inside it are private to this committer), reads the current latest L
  * from one `_log` listing, then conditional-puts `_log/L+1` naming its
  * data. Exactly one racing committer wins slot L+1; losers re-read and
  * retry against the new base — livelock-free (every CAS loss implies
  * another commit's win). A crash at ANY point leaves either a fully
  * committed version or an unreferenced `d-*` directory that [[vacuum]]
  * reclaims after a grace period; there is no state in between.
  *
  * Commit records are immutable and carry the version's FULL file
  * listing: its own files plus a one-level-flattened carry list, so
  * every append costs O(batch) data + O(file names) metadata on any
  * store, never a table copy. Reads resolve the record to explicit leaf
  * files and hand them to Spark without a listing
  * ([[Sources.readParquetFiles]]) — a loser's orphan data directory is
  * never touched by any read.
  *
  * Scale shape at 100 TB: one conditional put + one listing per commit
  * (the listing is only a starting hint — a stale list costs a retry,
  * never correctness); a read is one driver stat per resolved file;
  * [[readChanges]] scans O(delta bytes). Version-count growth is bounded
  * by the compact-then-retain rhythm ([[Compact.compactVersion]] =
  * [[commitIfLatest]] with `dataChange = false`; [[retainLast]] +
  * [[vacuum]] reclaim records and bytes).
  *
  * Layout: `_log/N` records and `d-*` data directories. A directory
  * holding the retired rename-protocol layout (a `_latest` pointer or
  * `v=N/` version directories, no `_log/`) is refused loudly at its
  * first commit or read — silently starting a second version sequence
  * beside it would hide every old version.
  */
object Snapshots {

  private def io(tableDir: String): ArtifactIo = ArtifactIo.forSnapshotPath(tableDir)

  private def child(dir: String, names: String*): String =
    ArtifactIo.child(dir, names: _*)

  private val LogDir = "_log"

  /** What a version did to the table — the [[readChanges]] contract:
    * `append` contributes its own files as the delta; `maintenance`
    * (a `dataChange = false` rewrite, e.g. compaction) contributes
    * nothing; `replace` and `rollback` break the additions chain.
    */
  private final case class Record(kind: String, dir: String, base: Int,
      tag: Option[String], own: Seq[String], carry: Seq[String])

  private val Header = "graft-cas-snapshot-v1"

  /** One whole-object commit record. Text lines, not JSON: every field
    * is a name or an int, and newline-separated prefixed lines are the
    * house manifest idiom ([[PlanCache]]'s `_graft_files`).
    */
  private def renderRecord(r: Record): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(Header).append('\n')
    sb.append("kind:").append(r.kind).append('\n')
    sb.append("dir:").append(r.dir).append('\n')
    sb.append("base:").append(r.base).append('\n')
    r.tag.foreach { t =>
      require(!t.contains('\n'), s"snapshot tag must be single-line, got: $t")
      sb.append("tag:").append(t).append('\n')
    }
    r.own.foreach(f => sb.append("own:").append(f).append('\n'))
    r.carry.foreach(f => sb.append("carry:").append(f).append('\n'))
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  private def parseRecord(bytes: Array[Byte], where: String): Record = {
    val lines = new String(bytes, StandardCharsets.UTF_8).split("\n").toSeq
      .map(_.trim).filter(_.nonEmpty)
    require(lines.headOption.contains(Header),
      s"snapshots: $where is not a commit record (bad header) — " +
        "foreign files under _log/ corrupt the version sequence")
    def field(p: String): Option[String] =
      lines.collectFirst { case l if l.startsWith(p) => l.stripPrefix(p) }
    def list(p: String): Seq[String] =
      lines.filter(_.startsWith(p)).map(_.stripPrefix(p))
    Record(
      kind = field("kind:").getOrElse(sys.error(s"$where: missing kind")),
      dir = field("dir:").getOrElse(sys.error(s"$where: missing dir")),
      base = field("base:").map(_.toInt).getOrElse(sys.error(s"$where: missing base")),
      tag = field("tag:"),
      own = list("own:"),
      carry = list("carry:"))
  }

  private def recordPath(tableDir: String, v: Int): String =
    child(tableDir, LogDir, v.toString)

  private def readRecord(tableDir: String, v: Int): Option[Record] =
    io(tableDir).readBytes(recordPath(tableDir, v))
      .map(parseRecord(_, s"_log/$v of $tableDir"))

  private def requireRecord(tableDir: String, v: Int): Record =
    readRecord(tableDir, v).getOrElse {
      requireNoRetiredLayout(tableDir)
      throw new IllegalArgumentException(
        s"snapshots: no committed version $v under $tableDir " +
          "(never committed, or dropped by retention)")
    }

  /** Refuse a directory in the retired rename-protocol layout (`_latest`
    * pointer, `v=N/` version directories, no `_log/`): its versions are
    * invisible to this protocol, and committing beside them would start
    * a second version sequence that silently shadows them.
    */
  private def requireNoRetiredLayout(tableDir: String): Unit = {
    val names = io(tableDir).listNames(tableDir)
    val retired = names.filter(n => n == "_latest" || n.matches("v=\\d+")).sorted
    if (retired.nonEmpty && !names.contains(LogDir))
      throw new IllegalStateException(
        s"snapshots: $tableDir holds the retired rename-protocol layout " +
          s"(${retired.take(3).mkString(", ")}: a `_latest` pointer and `v=N/` version " +
          "directories, no `_log/` commit records) — this release reads and writes " +
          "only `_log/N` tables. Re-commit the versions you need into a new table " +
          "directory with the release that wrote this one.")
  }

  /** Highest committed version, if any — one strongly-consistent `_log`
    * listing. Correctness never leans on freshness: a stale listing only
    * makes a committer's CAS lose and retry.
    */
  def latestVersion(tableDir: String): Option[Int] = {
    val vs = io(tableDir).listNames(child(tableDir, LogDir)).flatMap(_.toIntOption)
    if (vs.nonEmpty) Some(vs.max)
    else { requireNoRetiredLayout(tableDir); None }
  }

  /** Version-relative leaf files of `v` (own + carried), table-relative. */
  private def resolvedFiles(rec: Record): Seq[String] =
    rec.own.map(f => s"${rec.dir}/$f") ++ rec.carry

  /** Stage `df` as parquet under a born-final uniquely-named data dir;
    * returns (dirName, ownDataFiles). The writer's internal renames are
    * private to this committer — nothing else knows the name until a
    * commit record references it.
    */
  private def stage(df: DataFrame, tableDir: String): (String, Seq[String]) = {
    val dirName = s"d-${java.util.UUID.randomUUID()}"
    df.write.parquet(child(tableDir, dirName))
    val own = io(tableDir).listNames(child(tableDir, dirName))
      .filter(ArtifactIo.isDataFileName).sorted
    require(own.nonEmpty,
      s"snapshots: parquet write under $tableDir/$dirName committed no data files")
    (dirName, own)
  }

  /** Commit `df` as the next version — a logical REPLACE of the table
    * (the additions feed breaks here by design). Returns the version.
    */
  def commit(df: DataFrame, tableDir: String): Int = {
    // read before staging: refuses a retired layout before any write
    var base = latestVersion(tableDir).getOrElse(0)
    val (dirName, own) = stage(df, tableDir)
    // a lost CAS means another commit took the slot — re-read and retry;
    // the staged data dir is reusable as-is (its name was never contested)
    while (!io(tableDir).tryPutIfAbsent(recordPath(tableDir, base + 1),
        renderRecord(Record("replace", dirName, base, None, own, Seq.empty))))
      base = latestVersion(tableDir).getOrElse(0)
    base + 1
  }

  /** Commit `df` as the next version ONLY IF the latest is still
    * `expectedBase` — the read-modify-write guard (e.g.
    * [[Compact.compactVersion]]: read latest, rewrite, publish), and the
    * CAS is literal: one conditional put at slot `expectedBase + 1`; a
    * taken slot means a commit moved the table first, the staged data is
    * discarded and None returned (re-read the new base and retry).
    * `dataChange = false` is the maintenance-commit marker (compaction:
    * same rows, fewer files) — [[readChanges]] walks through it with an
    * empty delta.
    */
  def commitIfLatest(df: DataFrame, tableDir: String, expectedBase: Int,
      dataChange: Boolean = true): Option[Int] = {
    // fail CLOSED on an above-latest expectedBase: the CAS alone would
    // fail OPEN there — _log/expectedBase+1 is a FREE slot, so a stale
    // caller would publish into it and punch a hole in the version
    // sequence. Below-latest stays the CAS's job (slot taken → None).
    require(latestVersion(tableDir).getOrElse(0) >= expectedBase,
      s"commitIfLatest: expectedBase=$expectedBase is above the latest version of " +
        s"$tableDir — no such base was ever committed")
    val (dirName, own) = stage(df, tableDir)
    val kind = if (dataChange) "replace" else "maintenance"
    val rec = Record(kind, dirName, expectedBase, None, own, Seq.empty)
    if (io(tableDir).tryPutIfAbsent(recordPath(tableDir, expectedBase + 1),
        renderRecord(rec)))
      Some(expectedBase + 1)
    else {
      io(tableDir).deleteTree(child(tableDir, dirName))
      None
    }
  }

  /** Append-commit: next version = latest's files (carried by NAME, one
    * flattened level — O(batch) data, zero copies) + `df`'s rows. This
    * is the streaming-sink commit: each micro-batch is one version, and
    * the version is the FULL table, so a pinned reader sees one
    * consistent table state. `tag` is the exactly-once idempotence
    * handle (a streaming sink passes `batch-<id>`): a replay finds the
    * tag in the committed chain and returns that version without
    * writing. A tagged version either won its CAS (it is in the log) or
    * left nothing but an unreferenced data dir; the in-loop chain scan
    * plus the slot CAS linearize every replay-vs-commit race.
    */
  def commitAppend(df: DataFrame, tableDir: String, tag: Option[String] = None): Int =
    commitAppendHooked(df, tableDir, tag, () => ())

  /** [[commitAppend]] with a TEST SEAM: `afterTagScan` runs between each
    * iteration's tag chain scan and its slot CAS. The mock3c snapshot
    * spec drives a peer's same-tag commit inside that window
    * deterministically: the pinned-base ordering makes the peer take OUR
    * slot (failing our CAS into a rescan that finds its tag), where a
    * fresh-latest-scan ordering would CAS the next free slot and land
    * the batch twice. Production callers use [[commitAppend]]; the hook
    * must not touch the table through this same call.
    */
  private[graft] def commitAppendHooked(df: DataFrame, tableDir: String,
      tag: Option[String], afterTagScan: () => Unit): Int = {
    val fs = io(tableDir)
    // replay fast-path BEFORE staging: a redelivered batch that is
    // already in the chain must not pay a parquet write just to discard
    // it (the read also refuses a retired layout before any write)
    val head = latestVersion(tableDir).getOrElse(0)
    tag.flatMap(taggedInChainFrom(tableDir, _, head)) match {
      case Some(v) => v
      case None =>
        val (dirName, own) = stage(df, tableDir)
        var committed: Option[Int] = None
        while (committed.isEmpty) {
          // PIN the base FIRST, then re-scan the tag FROM that base,
          // then CAS base+1 — in that order, every iteration. Every tag
          // committed at or below the pinned base is seen by this scan,
          // and a peer committing the same tag AFTER the base read must
          // take slot base+1 (slots are always latest+1), which makes OUR
          // CAS at base+1 fail and the next iteration's scan see it.
          // Scanning from a FRESH latest instead loses exactly that race:
          // the peer wins base+1 with the tag between our scan and our
          // base read, we CAS the now-free base+2, and the batch's rows
          // land twice.
          val base = latestVersion(tableDir).getOrElse(0)
          val replayed = tag.flatMap(taggedInChainFrom(tableDir, _, base))
          afterTagScan()
          replayed match {
            case Some(v0) =>
              fs.deleteTree(child(tableDir, dirName))
              committed = Some(v0)
            case None =>
              val carry =
                if (base == 0) Seq.empty else resolvedFiles(requireRecord(tableDir, base))
              val rec = Record("append", dirName, base, tag, own, carry)
              if (fs.tryPutIfAbsent(recordPath(tableDir, base + 1), renderRecord(rec)))
                committed = Some(base + 1)
          }
        }
        committed.get
    }
  }

  /** Roll the table back to `version`'s content by publishing a NEW
    * version — the lakehouse RESTORE verb, and it is pure metadata: the
    * rollback record carries `version`'s resolved file list by NAME, so
    * the restore is ONE conditional put with zero data movement. History
    * stays immutable and the log only grows; CAS-looped like
    * [[commitAppend]], so a commit racing the rollback is never
    * shadowed. No-op (returns `version`) when already latest. Every
    * version with a log record was table state, so any of them may be
    * restored.
    *
    * [[readChanges]] across a rollback fails loudly (the interval's
    * change is not expressible as additions); a tagged batch committed
    * BEFORE the rollback still resolves on replay (the chain walk
    * continues through rollback records).
    */
  def rollbackTo(tableDir: String, version: Int): Int = {
    val restored = requireRecord(tableDir, version)
    val fs = io(tableDir)
    var committed: Option[Int] = None
    while (committed.isEmpty) {
      val base = latestVersion(tableDir).getOrElse(0)
      require(base >= version,
        s"rollbackTo: v=$version is above the latest ($base) of $tableDir")
      if (base == version) return version
      val rec = Record("rollback", restored.dir, base, None,
        Seq.empty, resolvedFiles(restored))
      if (fs.tryPutIfAbsent(recordPath(tableDir, base + 1), renderRecord(rec)))
        committed = Some(base + 1)
    }
    committed.get
  }

  /** The chain version carrying idempotence tag `t`, walking the base
    * edges down from a CALLER-PINNED head (O(chain) record reads — the
    * compaction/retention-bounded class). Only CHAIN members count — a
    * full [[commit]] replaced the table, so a batch committed before it
    * is not part of the new state and legitimately re-appends (the walk
    * CONTINUES through rollback records, which restore content without
    * cutting history). The walk stops at a retention-dropped record:
    * below it, nothing can be current state either.
    */
  private def taggedInChainFrom(tableDir: String, t: String, from: Int): Option[Int] = {
    var cur = from
    while (cur > 0) {
      readRecord(tableDir, cur) match {
        case None => return None // retention dropped the record — chain ends
        case Some(rec) =>
          if (rec.tag.contains(t)) return Some(cur)
          // a replace commits NEW table state: older tags are not in it
          if (rec.kind == "replace") return None
          cur = rec.base
      }
    }
    None
  }

  /** Read a pinned version, or the latest when `version` is None — the
    * explicit leaf files of its immutable commit record, opened without
    * a listing; a lost committer's orphan directory is unreachable.
    */
  def read(spark: SparkSession, tableDir: String, version: Option[Int] = None): DataFrame = {
    val v = version.orElse(latestVersion(tableDir))
      .getOrElse(throw new IllegalArgumentException(s"no committed version under $tableDir"))
    Sources.readParquetFiles(spark,
      resolvedFiles(requireRecord(tableDir, v)).map(child(tableDir, _)))
  }

  /** Incremental consumption — the changed-data feed: the rows ADDED in
    * `(fromVersion, toVersion]` (default `to`: the latest), walking base
    * edges and unioning each append's own files; maintenance steps
    * contribute nothing. A downstream incremental pass (dedup sketch
    * update, index append, drift check) scans O(delta bytes), never the
    * table. Loud failure, not a silent full replay, when the interval
    * holds a replace or a rollback (the change is not expressible as
    * additions — re-baseline from a full read) or crosses a
    * retention-dropped record.
    */
  def readChanges(spark: SparkSession, tableDir: String, fromVersion: Int,
      toVersion: Option[Int] = None): DataFrame = {
    val latest = latestVersion(tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed version under $tableDir"))
    val to = toVersion.getOrElse(latest)
    require(to >= 1 && to <= latest,
      s"readChanges: toVersion must be a committed version in [1, $latest], got $to")
    require(fromVersion >= 1 && fromVersion <= to,
      s"readChanges: fromVersion must be in [1, $to], got $fromVersion")
    val delta = scala.collection.mutable.ArrayBuffer[String]()
    var cur = to
    while (cur > fromVersion) {
      val rec = readRecord(tableDir, cur).getOrElse(throw new IllegalStateException(
        s"readChanges: _log/$cur of $tableDir is gone (retention dropped it) while " +
          s"a feed still crossed it — re-baseline from a full version read"))
      rec.kind match {
        case "append" => rec.own.foreach(f => delta += child(tableDir, rec.dir, f))
        case "maintenance" => () // same rows as its base — empty delta
        case kind => throw new IllegalStateException(
          s"readChanges: v=$cur of $tableDir is a $kind commit — the " +
            s"[$fromVersion, $to] change is not expressible as additions; " +
            "re-baseline by reading the full version instead")
      }
      cur = rec.base
    }
    // the walk can OVERSHOOT from: a base edge that skips it means
    // fromVersion is not an ancestor of to — its "changes since" are
    // undefined, never silently approximated
    if (cur != fromVersion) throw new IllegalStateException(
      s"readChanges: v=$fromVersion is not in v=$to's base chain of $tableDir " +
        s"(the walk reached v=$cur) — changes since a non-ancestor are undefined")
    if (delta.isEmpty) read(spark, tableDir, Some(to)).limit(0)
    else Sources.readParquetFiles(spark, delta.toSeq)
  }

  /** (data-file count, total bytes) of `v`'s RESOLVED file set — one
    * listing per distinct source data dir (compaction accounting).
    */
  private[graft] def resolvedStats(tableDir: String, v: Int): (Int, Long) = {
    val rels = resolvedFiles(requireRecord(tableDir, v))
    val bytes = rels.groupBy(_.split('/').head).iterator.map { case (d, entries) =>
      val names = entries.map(_.split('/').last).toSet
      io(tableDir).listEntries(child(tableDir, d)).collect {
        case (fn, false, size) if names.contains(fn) => size
      }.sum
    }.sum
    (rels.length, bytes)
  }

  /** Carried-name count of version `v`'s record (0 = self-contained) —
    * the observable the `--fssnapchain`/`--cassnap` probes quantify:
    * each append's record writes O(this count) names, the cost the
    * compact-every-K rhythm reclaims.
    */
  private[graft] def carriedFileCount(tableDir: String, v: Int): Int =
    requireRecord(tableDir, v).carry.length

  /** Retention: delete commit records strictly below `latest − keep + 1`
    * (returns the dropped versions, ascending). Records only — bytes are
    * reclaimed by [[vacuum]], which keeps every data dir a SURVIVING
    * record still references (its own dir or any dir its carry list
    * reaches into), so dropping an old record never breaks a surviving
    * version's reads. A pinned reader of a dropped version fails its
    * next read and a feed crossing the floor fails loudly — run
    * retention behind the slowest consumer, as any CDC deployment does.
    */
  def retainLast(tableDir: String, keep: Int): Seq[Int] = {
    require(keep >= 1, s"retainLast: keep must be >= 1, got $keep")
    latestVersion(tableDir) match {
      case None => Seq.empty
      case Some(latest) =>
        val floor = latest - keep + 1
        val fs = io(tableDir)
        fs.listNames(child(tableDir, LogDir)).flatMap(_.toIntOption)
          .filter(_ < floor).sorted
          .map { v => fs.delete(recordPath(tableDir, v)); v }
    }
  }

  /** Reclaim data directories no surviving commit record references —
    * crashed committers' stages and retention-dropped versions' bytes.
    * `graceMs` protects in-flight commits (a committer stages BEFORE its
    * CAS; liveness is judged by the newest mtime in the tree, so a
    * long-running healthy write is never swept). Returns the deleted
    * directory names. Explicit, never implicit.
    */
  def vacuum(tableDir: String, graceMs: Long = 6 * 60 * 60 * 1000L): Seq[String] = {
    val fs = io(tableDir)
    val referenced: Set[String] =
      fs.listNames(child(tableDir, LogDir)).flatMap(_.toIntOption)
        .flatMap(v => readRecord(tableDir, v))
        .flatMap(rec => rec.dir +: rec.carry.map(_.split('/').head))
        .toSet
    val cutoff = System.currentTimeMillis() - graceMs
    def newestMtime(dir: String): Long =
      (fs.mtimeMs(dir).getOrElse(0L) +:
        fs.listEntries(dir).map { case (n, isDir, _) =>
          val p = child(dir, n)
          if (isDir) newestMtime(p) else fs.mtimeMs(p).getOrElse(0L)
        }).max
    fs.listNames(tableDir)
      .filter(n => n.startsWith("d-") && !referenced.contains(n))
      .filter(n => newestMtime(child(tableDir, n)) < cutoff)
      .map { n => fs.deleteTree(child(tableDir, n)); n }
  }
}
