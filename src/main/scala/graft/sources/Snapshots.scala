package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned dataset snapshots — the reproducibility contract a
  * training pipeline needs: every corpus revision (daily upsert, dedup
  * pass, filter change) commits as an immutable version, and a training
  * run pins the exact version it read, so the run is replayable after
  * the corpus moves on. A minimal table-format core: data under
  * `v=N/`, a `_latest` pointer published by atomic rename.
  *
  * Scale shape: a commit is one write of the new version's data (old
  * versions are never rewritten or touched — immutability is what makes
  * concurrent readers safe with zero coordination); reads open exactly
  * one version directory. Combine with [[Compact]] per version dir and
  * [[PlanCache]] for derived artifacts. Retention (dropping versions no
  * run pins) is an explicit [[drop]], never implicit.
  *
  * Store contract (r17): every filesystem primitive routes through
  * [[ArtifactIo]] — scheme-less table dirs keep the historical
  * `java.nio` + OS-advisory-pointer-lock behavior verbatim;
  * rename-atomic scheme'd stores (`hdfs://`, `abfss://`, `file:`, …)
  * run the Hadoop equivalents (create-exclusive pointer-lock files,
  * `FileContext` renames, carry-forward by byte COPY — no user-facing
  * hard links there, so an append's carry cost is O(table bytes) on
  * those stores until a manifest-of-files tier exists); rename-by-copy
  * schemes are rejected loudly at the first touch. One path string =
  * one location = one lock protocol — all committers to a table must
  * use the same path form.
  */
object Snapshots {

  /** How [[commitAppend]] inherits the base version's data (the r17
    * manifest tier — `--fssnap` priced the difference):
    *
    *  - [[CarryLinks]] (default, the historical behavior): every
    *    inherited file is hard-linked (byte-copied on Hadoop stores —
    *    no user-facing links there) into the new version directory, so
    *    each `v=N` is SELF-CONTAINED: any version can be dropped
    *    independently, at the price of O(existing files) metadata ops
    *    per append locally and O(table bytes) per append on Hadoop
    *    stores.
    *  - [[CarryManifest]]: the new version writes ONLY the batch's
    *    files plus a `_graft_carry` manifest naming the inherited
    *    files in their ORIGINAL version directories — O(batch) per
    *    append on ANY store (the object-store append answer). Reads
    *    resolve the manifest (flattened at write time: one level, no
    *    recursive walk). The price moves to retention: a version
    *    REFERENCED by a surviving manifest refuses [[drop]] loudly
    *    (and [[retainLast]] skips it) until a [[Compact.compactVersion]]
    *    rewrite re-bases the chain on a self-contained version — the
    *    standard lakehouse vacuum-after-checkpoint rhythm.
    *
    * Modes mix freely within one table: a Links append on a manifest
    * base materializes the RESOLVED file set (self-contained again),
    * and a manifest append on a Links base references it.
    */
  sealed trait CarryMode
  case object CarryLinks extends CarryMode
  case object CarryManifest extends CarryMode

  /** The store-appropriate primitives for this table (and its staged
    * children — same store by construction).
    */
  private def io(tableDir: String): ArtifactIo = ArtifactIo.forPath(tableDir)

  /** Child-path join as a plain string suffix (scheme-safe) — the one
    * [[ArtifactIo.child]] copy.
    */
  private def child(dir: String, names: String*): String =
    ArtifactIo.child(dir, names: _*)

  /** Commit `df` as the next version; returns the new version number.
    * The `_latest` pointer is published by atomic rename, so a reader
    * sees either the previous version or the new one, never a partial.
    */
  def commit(df: DataFrame, tableDir: String): Int = {
    val v = claimVersion(df, tableDir)
    publishLatest(tableDir, v)
    v
  }

  /** Commit `df` as the next version ONLY IF `_latest` still points at
    * `expectedBase` when the pointer is published — the compare-and-swap
    * a read-modify-write maintenance job needs (e.g.
    * [[Compact.compactVersion]]: read latest, rewrite, publish). Without
    * it, a commit landing between the read and the publish is silently
    * shadowed by a rewrite of OLDER data. The version directory is
    * claimed and written first; under the pointer lock the base is
    * re-checked — if another commit moved `_latest`, the claimed
    * directory is discarded and None returned (re-read the new base and
    * retry).
    */
  def commitIfLatest(df: DataFrame, tableDir: String, expectedBase: Int,
      dataChange: Boolean = true): Option[Int] = {
    val v = claimStaged(tableDir) { stage =>
      df.write.parquet(stage)
      // dataChange=false is the maintenance-commit marker (the Delta Lake
      // `dataChange` flag): the rewrite holds the SAME rows as its base —
      // record an empty delta manifest so [[readChanges]] walks through
      // it without re-baselining consumers (compaction must not replay a
      // whole table into every incremental feed). Default true = a
      // logical replace, which breaks the additions chain by design.
      if (!dataChange) writeDelta(tableDir, stage, Seq.empty)
      writeBase(tableDir, stage, Some(expectedBase))
    }
    val published = withPointerLock(tableDir) {
      if (latestVersion(tableDir).contains(expectedBase)) {
        writePointer(tableDir, v); true
      } else false
    }
    if (published) Some(v)
    else { discardClaim(tableDir, v); None }
  }

  /** Append-commit: the next version's data = the latest version's data
    * files carried forward + `df`'s rows, published with the same CAS
    * loop as [[commitIfLatest]] (a concurrent commit between the base
    * read and the pointer publish discards the claim and retries against
    * the new base — an append must never shadow it). This is the
    * streaming-sink commit: each micro-batch is one version, and the
    * version is the FULL table, so the pinned-reader contract is
    * unchanged — one version directory is one consistent table state.
    *
    * Carry-forward is by hard link (copy fallback), so a commit costs
    * O(batch bytes) data + O(existing files) metadata ops, NOT a table
    * rewrite; POSIX link counting keeps shared bytes alive until the
    * last version naming them is dropped. File counts grow per append —
    * interleave [[Compact.compactVersion]] (cp2) to re-base onto few
    * files, exactly the LSM compaction rhythm. Deployment note: on HDFS
    * carry-forward would use the store's concat/rename or a
    * manifest-of-files tier instead of links.
    *
    * `tag` is the idempotence handle (the streaming sink passes
    * `batch-<id>`): if an existing version already carries `tag` AND that
    * version reached the published chain, the commit is a replay
    * (foreachBatch re-delivers the in-flight batch after recovery) and
    * the committed version is returned without writing — exactly-once by
    * batch-id idempotence. A tagged version that is NOT in the published
    * chain is a crashed commit's orphan (died between the atomic `v=N`
    * rename and the pointer publish): returning it as-is would silently
    * drop the batch's rows from every future read (at-most-once), so the
    * replay instead ROLLS IT FORWARD — publishes the pointer under the
    * lock if the orphan's recorded base is still the published latest —
    * or, when another commit moved latest past the orphan (its
    * carry-forward is stale), clears the orphan's idempotence record and
    * re-commits the batch fresh against the new base. Chain membership
    * is decided by walking `_latest` back through each version's
    * recorded base
    * (`_graft_base`, written by append/CAS commits); a full [[commit]]
    * in the walk breaks the chain by design — it REPLACED the table, so
    * a batch committed before it is not part of the new table state and
    * a replay legitimately re-appends.
    */
  def commitAppend(df: DataFrame, tableDir: String, tag: Option[String] = None,
      carry: CarryMode = CarryLinks): Int = {
    var committed: Option[Int] = None
    while (committed.isEmpty) {
      // Watermark for the IN-LOCK tag re-verify below: every version
      // claimed after this read carries a number strictly above the
      // pointer value here (claimStaged numbers above max(latest,
      // maxVersionDir) and the pointer is monotone), and every tagged
      // version at-or-below it that exists by the time the pre-scan
      // lists the table is seen by the pre-scan (tags are written inside
      // the stage BEFORE its claim rename). So under the lock only
      // versions ABOVE the watermark need their TagFile read — O(racing
      // claims since the scan), not O(versions): a long uncompacted
      // history must not hold the pointer lock for a per-version remote
      // read storm and push every peer toward the lock timeout.
      val tagScanFloor = latestVersion(tableDir).getOrElse(0)
      tag.flatMap(t => taggedVersion(tableDir, t)) match {
        case Some(v) if inPublishedChain(tableDir, v) => return v
        case Some(v) if v > latestVersion(tableDir).getOrElse(0) =>
          // fresh orphan: the only way a tagged version can sit ABOVE the
          // published latest is a commit that crashed between its atomic
          // v=N rename and the pointer publish (any commit racing past an
          // orphan claims a HIGHER number and publishes it) — complete it
          // under the lock; if latest moved concurrently the next loop
          // iteration re-classifies
          // classify-and-act under ONE lock hold: roll the orphan forward
          // when its base is still the published latest; otherwise its
          // carry-forward is stale and the batch must re-commit fresh —
          // in which case the orphan's idempotence record is neutralized
          // HERE, atomically with the classification. Leaving the tag in
          // place would put the same tag on two versions, and a later
          // replay scanning onto the stale one would neutralize it and
          // append the batch AGAIN (duplicate rows — exactly-once
          // broken); neutralizing outside the lock races a concurrent
          // replayer that just published this very orphan.
          val rolled = withPointerLock(tableDir) {
            val b = baseOf(tableDir, v)
            if (b.isDefined && latestVersion(tableDir).getOrElse(0) == b.get) {
              writePointer(tableDir, v); true
            } else if (inPublishedChain(tableDir, v)) {
              true // a concurrent replayer already rolled it forward
            } else {
              // TagFile ONLY: the base edge may belong to published
              // history (a full commit can cut a published version out of
              // the CURRENT chain) and deleting it would sever a pinned
              // consumer's readChanges walk over that history
              io(tableDir).delete(child(tableDir, s"v=$v", TagFile))
              false
            }
          }
          if (rolled) return v
        case Some(v) =>
          // v <= latest but not in the published chain: a stale orphan
          // (another commit raced past it before recovery ran) or a full
          // [[commit]] REPLACED the table after v published. Either way
          // the batch is not part of the current table state: neutralize
          // the idempotence record and re-commit fresh. The data
          // directory stays — it may be a published version pinned
          // readers still open; retention ([[drop]]) reclaims it.
          // TagFile ONLY (not the base edge) — see the stale-orphan
          // branch above: the version may be published history whose
          // chain a pinned consumer still walks
          io(tableDir).delete(child(tableDir, s"v=$v", TagFile))
        case None => ()
      }
      val base = latestVersion(tableDir)
      val v = claimStaged(tableDir) { stage =>
        df.write.parquet(stage)
        // at this point the stage holds EXACTLY the batch's new files
        // (carry-forward hasn't run) — record them as the version's delta
        // manifest, the file-level changed-data feed [[readChanges]] serves
        writeDelta(tableDir, stage, listStageDataFiles(tableDir, stage))
        tag.foreach { t =>
          io(tableDir).writeFile(child(stage, TagFile),
            t.getBytes(StandardCharsets.UTF_8))
        }
        writeBase(tableDir, stage, base)
        base.foreach { b =>
          carry match {
            case CarryLinks    => carryForwardResolved(tableDir, b, stage)
            case CarryManifest => writeCarry(tableDir, stage, b)
          }
        }
      }
      val published: Either[Int, Boolean] = withPointerLock(tableDir) {
        // Re-verify the idempotence tag under the SAME lock hold as the
        // publish. The pre-claim scan alone loses an interleave: committer
        // C2's tag scan can run before C1's claim (sees no tag) while C2's
        // base read runs after C1's publish (base = C1's version) — both
        // CAS checks then pass and the batch's rows land twice, with the
        // same tag on two published chain versions. Seeing a SIBLING
        // version (not our own claim, which carries the tag too) already
        // on the published chain with this tag means the batch is
        // committed: abandon the claim and return that version. The scan
        // is BOUNDED by the pre-claim watermark (see tagScanFloor): only
        // versions claimed since the pre-scan can carry a tag it missed.
        val replayed = tag.flatMap(t => taggedVersionAbove(tableDir, t, tagScanFloor))
          .filter(v0 => v0 != v && inPublishedChain(tableDir, v0))
        replayed match {
          case Some(v0) => Left(v0)
          case None =>
            if (latestVersion(tableDir) == base) { writePointer(tableDir, v); Right(true) }
            else Right(false)
        }
      }
      published match {
        case Left(v0) => discardClaim(tableDir, v); return v0
        case Right(true) => committed = Some(v)
        case Right(false) => discardClaim(tableDir, v)
      }
    }
    committed.get
  }

  /** Roll the table back to `version`'s content by publishing a NEW
    * version whose data is `version`'s files carried forward (hard
    * links — O(files) metadata ops, zero data rewrite; the lakehouse
    * RESTORE verb). History stays immutable and append-only: the bad
    * intermediate versions remain pinned-readable, the pointer only ever
    * moves forward, and the restore itself is an auditable version in
    * the chain (its recorded base is the latest it superseded). CAS
    * published with the [[commitAppend]] loop: a commit racing the
    * rollback is never silently shadowed — the rollback re-stages
    * against the new latest, so the restored content is the final state.
    * No-op (returns `version`) when `version` is already the published
    * latest.
    */
  def rollbackTo(tableDir: String, version: Int): Int = {
    require(io(tableDir).isDirectory(child(tableDir, s"v=$version")),
      s"rollbackTo: no version directory v=$version under $tableDir")
    // the directory existing is NOT enough: a commit that crashed after
    // its atomic v=N rename but before the pointer publish leaves an
    // orphan directory whose content was never any published table state
    // — restoring it would resurrect data no reader ever saw. Publish is
    // proven by the marker (written under the pointer lock at every
    // publish) OR by current-chain membership (every recorded base was
    // once the published latest) — the chain fallback self-heals a crash
    // in the pointer-move-to-marker-write window and covers pre-marker
    // tables' recent lineage; only unmarked UNREACHABLE directories (the
    // orphan case) refuse.
    require(io(tableDir).exists(child(tableDir, s"v=$version", PubFile))
        || inPublishedChain(tableDir, version),
      s"rollbackTo: v=$version of $tableDir was never published (a crashed commit's " +
        "orphan directory) — refusing to restore content that was never table state")
    var committed: Option[Int] = None
    while (committed.isEmpty) {
      val base = latestVersion(tableDir)
      require(base.exists(_ >= version),
        s"rollbackTo: v=$version is not a published version of $tableDir " +
          s"(latest = ${base.getOrElse(0)}) — refusing to publish an unreachable claim")
      if (base.contains(version)) return version
      val v = claimStaged(tableDir) { stage =>
        // the parquet-writing commit paths create the stage dir as a side
        // effect; a pure carry-forward must create it itself. Rollback
        // always MATERIALIZES (Links semantics, resolving a manifest
        // base): restores are rare and the restored version must be
        // independently retainable.
        io(tableDir).createDirs(stage)
        carryForwardResolved(tableDir, version, stage)
        writeBase(tableDir, stage, base)
      }
      val published = withPointerLock(tableDir) {
        if (latestVersion(tableDir) == base) { writePointer(tableDir, v); true }
        else false
      }
      if (published) committed = Some(v)
      else discardClaim(tableDir, v)
    }
    committed.get
  }

  private val TagFile = "_graft_tag"
  private val BaseFile = "_graft_base"
  private val PubFile = "_graft_published"

  /** Discard a claimed version after a lost CAS — UNLESS it was
    * published out from under us: a replayer can legitimately roll a
    * slow committer's claimed-but-unpublished version forward (the
    * fresh-orphan path), and the original committer waking up and
    * deleting the now-published directory would leave `_latest` dangling
    * and every read failing. The publish marker is written under the
    * pointer lock, so this check cannot race a publish of THIS version.
    */
  private def discardClaim(tableDir: String, v: Int): Unit =
    if (!io(tableDir).exists(child(tableDir, s"v=$v", PubFile)))
      io(tableDir).deleteTree(child(tableDir, s"v=$v"))
  private val DeltaFile = "_graft_delta"

  /** Record the version's delta manifest: the data files THIS commit
    * added (newline-separated names; empty = a content-preserving
    * maintenance rewrite). `_`-prefixed, so carry-forward leaves it
    * behind — each version describes only its own delta.
    */
  private def writeDelta(tableDir: String, stage: String, names: Seq[String]): Unit =
    io(tableDir).writeFile(child(stage, DeltaFile),
      names.mkString("\n").getBytes(StandardCharsets.UTF_8))

  /** Data-file names currently in a freshly-written stage (markers and
    * dot-files excluded) — called BEFORE carry-forward, so the listing
    * is exactly the committing batch's own files.
    */
  private def listStageDataFiles(tableDir: String, stage: String): Seq[String] =
    io(tableDir).listNames(stage)
      .filter(ArtifactIo.isDataFileName)

  /** Incremental consumption — the changed-data feed: the rows ADDED
    * after `fromVersion`, up to `toVersion` (default: the published
    * latest). Walks the recorded base chain from `to` down to `from`,
    * unioning each step's delta manifest (written by [[commitAppend]];
    * empty for a `dataChange = false` maintenance rewrite such as
    * [[Compact.compactVersion]]'s), and reads ONLY those files — a
    * downstream incremental pass (dedup sketch update, index append,
    * drift check) scans O(delta bytes), never the table.
    *
    * Loud failure, not a silent full replay, when a chain step carries
    * no manifest: a full [[commit]] replaced the table, a
    * `dataChange = true` CAS rewrote it, or a [[rollbackTo]] reverted
    * it — in all three the interval's change is not expressible as
    * additions, and the consumer must re-baseline from the full version.
    * Scale shape: O(versions walked) file reads of metadata (the
    * compaction/retention-bounded class of [[taggedVersion]]) plus a
    * scan of delta bytes only.
    */
  def readChanges(spark: SparkSession, tableDir: String, fromVersion: Int,
      toVersion: Option[Int] = None): DataFrame = {
    val latest = latestVersion(tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed version under $tableDir"))
    val to = toVersion.getOrElse(latest)
    require(to >= 1 && to <= latest,
      s"readChanges: toVersion must be a published version in [1, $latest], got $to " +
        s"— an uncommitted (or never-claimed) version has no feed")
    require(fromVersion >= 1 && fromVersion <= to,
      s"readChanges: fromVersion must be in [1, $to], got $fromVersion")
    val delta = scala.collection.mutable.ArrayBuffer[String]()
    var cur = to
    while (cur > fromVersion) {
      val mf = io(tableDir).readBytes(child(tableDir, s"v=$cur", DeltaFile))
      if (mf.isEmpty) throw new IllegalStateException(
        s"readChanges: v=$cur of $tableDir carries no delta manifest — a full commit, " +
          "a dataChange rewrite, or a rollback replaced the table content here, so the " +
          s"[$fromVersion, $to] change is not expressible as additions; re-baseline by " +
          "reading the full version instead")
      new String(mf.get, StandardCharsets.UTF_8)
        .split("\n").iterator.map(_.trim).filter(_.nonEmpty).foreach { fn =>
          val p = child(tableDir, s"v=$cur", fn)
          if (!io(tableDir).exists(p)) throw new IllegalStateException(
            s"readChanges: v=$cur's delta manifest names $fn but the file is gone " +
              s"under $tableDir — version data was dropped while a feed still read it")
          delta += p
        }
      cur = baseOf(tableDir, cur).getOrElse(throw new IllegalStateException(
        s"readChanges: v=$cur of $tableDir records no base — the chain does not " +
          s"reach v=$fromVersion; re-baseline from a full version read"))
    }
    // the walk can OVERSHOOT from: a base edge that skips it means
    // fromVersion is not an ancestor of to (an unpublished orphan, or a
    // version a replace cut out of the chain) — its "changes since" are
    // undefined, never silently approximated
    if (cur != fromVersion) throw new IllegalStateException(
      s"readChanges: v=$fromVersion is not in v=$to's base chain of $tableDir " +
        s"(the walk reached v=$cur) — changes since a non-ancestor are undefined")
    if (delta.isEmpty) read(spark, tableDir, Some(to)).limit(0)
    else Sources.readParquet(spark, delta.toSeq: _*)
  }

  /** Record the version `stage` was derived from (0 = none — first
    * version of the table); the chain edge [[inPublishedChain]] walks.
    */
  private def writeBase(tableDir: String, stage: String, base: Option[Int]): Unit =
    io(tableDir).writeFile(child(stage, BaseFile),
      base.getOrElse(0).toString.getBytes(StandardCharsets.UTF_8))

  /** The recorded base of `v=N`: Some(0) = explicit first version;
    * None = no base recorded (a full [[commit]], or the directory is
    * gone) — the chain cannot be followed through it.
    */
  private def baseOf(tableDir: String, v: Int): Option[Int] =
    io(tableDir).readBytes(child(tableDir, s"v=$v", BaseFile)).flatMap(b =>
      scala.util.Try(new String(b, StandardCharsets.UTF_8).trim.toInt).toOption)

  /** Whether `v` is an ancestor of (or is) the published latest, walking
    * the recorded base chain. False for unpublished orphans, for
    * versions cut off by a full-[[commit]] replace, and for anything
    * when no version is published. O(versions) file reads, the same
    * compaction-bounded cost class as [[taggedVersion]].
    */
  private def inPublishedChain(tableDir: String, v: Int): Boolean = {
    var cur = latestVersion(tableDir)
    while (cur.exists(_ > v)) cur = cur.flatMap(c => baseOf(tableDir, c)).filter(_ > 0)
    cur.contains(v)
  }

  /** The version carrying idempotence tag `t`, if any (scan is one
    * directory listing — version counts are compaction-bounded).
    *
    * In the transient window where the tag sits on TWO directories (an
    * in-flight claim racing a published replay of the same batch) the
    * pick is deterministic, never filesystem-listing-order dependent:
    * a published-chain member wins (the batch's committed home), else
    * the smallest version number.
    */
  def taggedVersion(tableDir: String, t: String): Option[Int] =
    taggedVersionAbove(tableDir, t, 0)

  /** [[taggedVersion]] restricted to versions STRICTLY ABOVE `floor` —
    * the pointer-lock-held re-verify's bounded form: one directory
    * listing always, but TagFile reads only for the (typically zero or
    * one) versions claimed above the watermark, never the whole
    * compaction-bounded history while holding the lock every committer
    * in the fleet waits on.
    */
  private[graft] def taggedVersionAbove(tableDir: String, t: String, floor: Int): Option[Int] = {
    val matches = io(tableDir).listNames(tableDir).flatMap { fn =>
      if (!fn.startsWith("v=")) None
      else scala.util.Try(fn.stripPrefix("v=").toInt).toOption
        .filter(_ > floor)
        .filter(vn => io(tableDir).readBytes(child(tableDir, s"v=$vn", TagFile))
          .exists(new String(_, StandardCharsets.UTF_8) == t))
    }.sorted
    if (matches.lengthCompare(1) <= 0) matches.headOption
    else matches.find(inPublishedChain(tableDir, _)).orElse(matches.headOption)
  }

  /** Hard-link (copy fallback; always copy on Hadoop stores — no
    * user-facing links there) every data file of version `fromV` —
    * RESOLVED through its carry manifest if it has one, so a Links
    * append on a manifest base re-materializes the full content —
    * into `stage`. Hidden files (`_SUCCESS`, the tag, dot-files) stay
    * behind — each version carries its own markers. Name collisions
    * (astronomically unlikely: parquet part names embed a job UUID,
    * and carried entries from different versions keep distinct UUIDs
    * too) get a source prefix rather than a silent overwrite.
    */
  private def carryForwardResolved(tableDir: String, fromV: Int, stage: String): Unit = {
    val fs = io(tableDir)
    resolvedDataFiles(tableDir, fromV).foreach { rel =>
      val fn = rel.split('/').last
      var dst = child(stage, fn)
      if (fs.exists(dst))
        dst = child(stage, s"carry-${rel.split('/').head}-$fn")
      fs.linkOrCopy(child(tableDir, rel), dst)
    }
  }

  /** Carry manifest filename: newline-separated version-relative data
    * file paths (`v=K/part-….parquet`) a manifest-mode version inherits
    * (see [[CarryMode]]). `_`-prefixed: parquet listings skip it, and a
    * later carry-forward leaves it behind.
    */
  private val CarryFile = "_graft_carry"

  /** The version-relative paths `v` inherits via its carry manifest
    * (empty when self-contained).
    */
  private def readCarry(tableDir: String, v: Int): Seq[String] =
    io(tableDir).readBytes(child(tableDir, s"v=$v", CarryFile))
      .map(new String(_, StandardCharsets.UTF_8).split("\n").toSeq
        .map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)

  /** Record the files `stage` inherits from version `base`: base's own
    * data files plus base's OWN carry entries — flattened at write
    * time, so resolution is always one manifest deep and a long append
    * chain never walks recursively at read.
    */
  private def writeCarry(tableDir: String, stage: String, base: Int): Unit = {
    val inherited =
      io(tableDir).listNames(child(tableDir, s"v=$base"))
        .filter(ArtifactIo.isDataFileName)
        .map(fn => s"v=$base/$fn") ++ readCarry(tableDir, base)
    io(tableDir).writeFile(child(stage, CarryFile),
      inherited.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Version `v`'s FULL data-file set as version-relative paths: its
    * own data files plus everything its carry manifest names. For a
    * self-contained (Links) version this is just its directory listing.
    */
  private def resolvedDataFiles(tableDir: String, v: Int): Seq[String] =
    io(tableDir).listNames(child(tableDir, s"v=$v"))
      .filter(ArtifactIo.isDataFileName)
      .map(fn => s"v=$v/$fn") ++ readCarry(tableDir, v)

  /** Whether version `v` inherits files via a carry manifest (vs being
    * self-contained) — compaction uses it to re-base even small chains.
    */
  private[sources] def hasCarry(tableDir: String, v: Int): Boolean =
    io(tableDir).exists(child(tableDir, s"v=$v", CarryFile))

  /** How many inherited file names version `v`'s carry manifest holds
    * (0 = self-contained) — the observable the `--fssnapchain` probe and
    * SCALING.md's compaction-cadence guidance quantify: each manifest
    * append writes O(this count) names, so the count growing along an
    * uncompacted chain is the cost the compact-every-K rhythm reclaims.
    */
  private[graft] def carriedFileCount(tableDir: String, v: Int): Int =
    readCarry(tableDir, v).length

  /** (data-file count, total bytes) of version `v`'s RESOLVED file set
    * — compaction accounting that sees through a carry manifest (a
    * self-contained version gets exactly its directory's numbers). One
    * listing per distinct source version directory.
    */
  private[sources] def resolvedStats(tableDir: String, v: Int): (Int, Long) = {
    val rels = resolvedDataFiles(tableDir, v)
    val bytes = rels.groupBy(_.split('/').head).iterator.map { case (vdir, entries) =>
      val names = entries.map(_.split('/').last).toSet
      io(tableDir).listEntries(child(tableDir, vdir)).collect {
        case (fn, false, size) if names.contains(fn) => size
      }.sum
    }.sum
    (rels.length, bytes)
  }

  /** The lowest surviving version whose carry manifest references
    * `v`'s files, if any — the retention guard: dropping `v` would
    * break that version's reads.
    */
  private def referencedBy(tableDir: String, v: Int): Option[Int] = {
    val prefix = s"v=$v/"
    io(tableDir).listNames(tableDir)
      .flatMap(fn =>
        if (fn.startsWith("v=")) scala.util.Try(fn.stripPrefix("v=").toInt).toOption
        else None)
      .filter(_ != v).sorted
      .find(v2 => readCarry(tableDir, v2).exists(_.startsWith(prefix)))
  }

  /** How long an abandoned `.commit-*` / `._latest-*` staging artifact
    * (a committer that died mid-write) survives before reclaim; liveness
    * is judged by the newest mtime in the TREE (see FsUtil.newestMtimeMs),
    * so a long-running healthy write is never swept.
    */
  private val CommitGraceMs = 6 * 60 * 60 * 1000L

  /** Write `df` under the next free `v=N` directory (no pointer publish). */
  private def claimVersion(df: DataFrame, tableDir: String): Int =
    claimStaged(tableDir)(stage => df.write.parquet(stage))

  /** Stage-then-claim: `fill` populates a private tmp dir, which is then
    * renamed to the next free `v=N` (no pointer publish) — the one
    * claiming path behind [[commit]]/[[commitIfLatest]]/[[commitAppend]].
    */
  private def claimStaged(tableDir: String)(fill: String => Unit): Int = {
    val fs = io(tableDir)
    fs.createDirs(tableDir)
    // reclaim staging debris from crashed committers — the same sweep
    // PlanCache runs for its .tmp-* dirs; without it crash-retry loops
    // accumulate unbounded orphan data under tableDir
    fs.sweepStale(tableDir, ".commit-", CommitGraceMs)
    fs.sweepStale(tableDir, "._latest-", CommitGraceMs)
    // write to a private tmp dir first, so a crashed commit never leaves
    // a partial (or orphaned complete) v=N directory to collide with
    val data = child(tableDir, s".commit-${java.util.UUID.randomUUID()}")
    fill(data)
    // claim the next version by atomic rename; on a concurrent (or
    // orphaned-crash) collision, advance and retry — maxVersionDir, not
    // _latest, drives the numbering, so a commit that died before its
    // pointer publish cannot wedge the table
    var v = math.max(latestVersion(tableDir).getOrElse(0), maxVersionDir(tableDir)) + 1
    while (!fs.tryRenameNoReplace(data, child(tableDir, s"v=$v"))) v += 1
    v
  }

  /** Publish `_latest = v` unless a version ≥ v is already published.
    * The check and the rename happen under an OS advisory lock on a
    * persistent `._latest.lock` file, because check-then-act with
    * REPLACE_EXISTING alone loses a race: committer A (v=1) can pass the
    * "no newer" check before B (v=2) publishes, then overwrite B's
    * pointer — `_latest` pointing at an OLDER version than a completed
    * commit breaks the "latest follows commits" contract. The lock file
    * is a mutex inode that is never deleted (delete-by-name reclaim is a
    * TOCTOU that can steal a live holder's lock); a crashed holder's OS
    * lock releases automatically, so no grace-period heuristics.
    * Deployment note: `FileLock` covers local/NFS filesystems; on HDFS
    * the pointer publish would use the store's own atomic primitive
    * (rename-without-replace loops) instead.
    */
  private def publishLatest(tableDir: String, v: Int): Unit =
    withPointerLock(tableDir) {
      if (!latestVersion(tableDir).exists(_ >= v)) writePointer(tableDir, v)
    }

  /** Upper bound on waiting for the pointer lock: pointer publishes are
    * sub-millisecond, so minutes of contention means a wedged holder (an
    * unkillable process, or an advisory-lock-unreliable NFS mount) — hang
    * forever silently and every commit in the fleet wedges with it.
    */
  private val PointerLockTimeoutMs = 120 * 1000L

  /** Run `body` holding the table's pointer lock. Bounded wait: a holder
    * that outlives [[PointerLockTimeoutMs]] fails THIS caller loudly,
    * naming the lock file — the lock is never stolen (delete/steal races
    * are exactly what the persistent-inode design avoids).
    */
  private def withPointerLock[A](tableDir: String)(body: => A): A =
    io(tableDir).withLock(child(tableDir, "._latest.lock"), PointerLockTimeoutMs,
      "snapshots",
      "another committer is wedged holding it (on a scheme-less table also check " +
        "that the filesystem honors advisory FileLocks — some NFS mounts do not)")(body)

  private def writePointer(tableDir: String, v: Int): Unit = {
    val fs = io(tableDir)
    val tmp = child(tableDir, s"._latest-${java.util.UUID.randomUUID()}")
    fs.writeFile(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
    fs.renameReplace(tmp, child(tableDir, "_latest"))
    // permanent was-ever-published record (`_`-prefixed: carry-forward
    // leaves it behind) — the pointer itself only names the CURRENT
    // latest, but [[rollbackTo]] must distinguish genuinely-published
    // history from a crashed commit's unpublished orphan directory
    val mark = child(tableDir, s"v=$v", PubFile)
    if (!fs.exists(mark)) fs.touch(mark)
  }

  /** Highest v=N directory present (claimed versions, published or not). */
  private def maxVersionDir(tableDir: String): Int =
    io(tableDir).listNames(tableDir).foldLeft(0) { (mx, fn) =>
      if (fn.startsWith("v="))
        scala.util.Try(fn.stripPrefix("v=").toInt).toOption
          .fold(mx)(math.max(mx, _))
      else mx
    }

  /** Read a pinned version, or the latest when `version` is None. A
    * manifest-mode version ([[CarryMode]]) resolves to its full file
    * set (own files + carried) — explicit leaf files, so Spark never
    * infers partitions from the mixed `v=K` directories; a
    * self-contained version stays the plain directory read.
    */
  def read(spark: SparkSession, tableDir: String, version: Option[Int] = None): DataFrame = {
    val v = version.orElse(latestVersion(tableDir))
      .getOrElse(throw new IllegalArgumentException(s"no committed version under $tableDir"))
    if (io(tableDir).exists(child(tableDir, s"v=$v", CarryFile)))
      Sources.readParquet(spark, resolvedDataFiles(tableDir, v).map(child(tableDir, _)): _*)
    else Sources.readParquet(spark, s"$tableDir/v=$v")
  }

  /** Highest committed version, if any. */
  def latestVersion(tableDir: String): Option[Int] =
    io(tableDir).readBytes(child(tableDir, "_latest"))
      .map(b => new String(b, StandardCharsets.UTF_8).trim.toInt)

  /** Retention policy: [[drop]] every version strictly below
    * `latest − keep + 1`, keeping the newest `keep`. Returns the dropped
    * version numbers (ascending). Bytes reclaim lazily under hard-link
    * carry-forward — a file survives until the LAST version naming it is
    * dropped, so retaining k appends holds k deltas + one shared base,
    * not k full copies. Operational notes: a pinned reader of a dropped
    * version fails its next read, and a [[readChanges]] interval that
    * crosses a dropped version fails loudly (its manifest is gone) —
    * run retention behind the slowest consumer, as any CDC deployment
    * does.
    */
  def retainLast(tableDir: String, keep: Int): Seq[Int] = {
    require(keep >= 1, s"retainLast: keep must be >= 1, got $keep")
    latestVersion(tableDir) match {
      case None => Seq.empty
      case Some(latest) =>
        val floor = latest - keep + 1
        val claimed = io(tableDir).listNames(tableDir).flatMap { fn =>
          if (fn.startsWith("v="))
            scala.util.Try(fn.stripPrefix("v=").toInt).toOption
          else None
        }
        // DESCENDING sweep: under manifest chains each below-floor
        // version is typically referenced by the NEXT one — dropping
        // newest-first releases each predecessor in turn, while a
        // version still referenced from ABOVE the floor is skipped
        // (reclaimed only after a compaction re-bases the chain — the
        // vacuum-after-checkpoint rhythm); returns the dropped set
        // ascending, as before.
        //
        // The pre-filter builds the referencing map in ONE pass over
        // every version's carry manifest (a per-candidate referencedBy
        // scan would be O(V²) remote reads — hundreds of versions of a
        // streaming sink make that a namenode storm); candidates are
        // re-validated inside drop's own lock-held guard, recomputed
        // there only for the survivors, and a candidate whose only
        // referencer is dropped EARLIER in this same sweep (the
        // descending-release case) retries via that per-drop check.
        val candidates = claimed.filter(_ < floor).sorted.reverse
        var referencers: Map[Int, Seq[Int]] = {
          val all = claimed.sorted
          all.flatMap { v2 =>
            readCarry(tableDir, v2).flatMap(rel =>
              scala.util.Try(rel.split('/').head.stripPrefix("v=").toInt).toOption)
              .distinct.map(_ -> v2)
          }.groupMap(_._1)(_._2)
        }
        candidates.filter { v =>
          val refs = referencers.getOrElse(v, Seq.empty)
          refs.isEmpty && drop(tableDir, v) && {
            // v is gone: it no longer counts as a referencer of anything
            referencers = referencers.map { case (k, vs) => k -> vs.filter(_ != v) }
            true
          }
        }.sorted
    }
  }

  /** Explicit retention: delete one version's data — only versions
    * STRICTLY BELOW the published latest. Run under the pointer lock:
    * without it, a version that is claimed (v=N directory in place) but
    * not yet pointer-published could be dropped, after which the
    * in-flight committer publishes `_latest` pointing at a deleted
    * directory and every latest read fails. Below-latest versions can
    * never be re-published (the pointer only moves forward), so deleting
    * them under the lock is safe.
    */
  def drop(tableDir: String, version: Int): Boolean = withPointerLock(tableDir) {
    require(latestVersion(tableDir).exists(_ > version),
      s"refusing to drop v=$version: not strictly below the published latest " +
        s"(${latestVersion(tableDir)}) — it is the live pointer target or an in-flight claim")
    // manifest-tier guard: a surviving version that CARRIES v's files
    // would lose data it still serves — re-base it first (a
    // Compact.compactVersion rewrite is self-contained), then drop
    referencedBy(tableDir, version).foreach(v2 => throw new IllegalArgumentException(
      s"refusing to drop v=$version: its files are carried by v=$v2's manifest " +
        s"(CarryManifest appends reference, never copy) — compact/re-base the " +
        "chain first, then retention can reclaim"))
    val p = child(tableDir, s"v=$version")
    val existed = io(tableDir).exists(p)
    if (existed) io(tableDir).deleteTree(p)
    existed
  }
}
