package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{ArtifactIo, Snapshots}

/** Streaming sink into the versioned-table family — the durable half of
  * the reference's continuous telemetry loop (paper §6.2: live ingest →
  * aggregate → durable store; reference `DSet.import` feeds `saveToHDD`):
  * every micro-batch commits one [[Snapshots]] version, so the live
  * stream lands in the SAME table tier batch jobs, [[graft.sources.Compact]]
  * compaction (cp2), and pinned readers already use.
  *
  * Exactly-once by batch-id idempotence: Structured Streaming's
  * foreachBatch re-delivers the in-flight batch after a failure/restart;
  * each commit is tagged `batch-<id>`, and a replayed id returns the
  * already-committed version instead of appending twice. Versions are
  * FULL table states (an append's commit record carries the inherited
  * files by name, O(batch) data written — see [[Snapshots.commitAppend]]),
  * so a reader pinning any version mid-stream sees one consistent prefix
  * of the stream, and each trigger publishes with one conditional put.
  *
  * Scale shape: per-trigger cost is one parquet write of the batch plus
  * one commit record naming O(files) inherited files; file counts are
  * compaction's job — periodically `Compact.compactVersion` (cp2)
  * re-bases the table onto few files, after which
  * `Snapshots.retainLast` + `Snapshots.vacuum` reclaim the old records
  * and bytes. State lives in the stream's checkpoint; the sink itself
  * is stateless.
  */
object SnapshotSink {

  /** Start appending `stream` (an append-mode streaming DataFrame) into
    * the snapshot table at `tableDir`. `checkpointDir` is the streaming
    * checkpoint (offsets + commit log) — reusing it across restarts is
    * what makes batch ids stable, which is what the idempotence tag keys
    * on. The table path is resolved once at submission, so an
    * inadmissible store (an object store without declared conditional
    * writes, see [[ArtifactIo.forSnapshotPath]]) fails loudly at
    * `start()`, not inside the first micro-batch.
    */
  def start(stream: DataFrame, tableDir: String, checkpointDir: String,
      queryName: String = "graft-snapshot-sink"): StreamingQuery = {
    ArtifactIo.forSnapshotPath(tableDir): Unit
    stream.writeStream
      .outputMode("append")
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Snapshots.commitAppend(batch, tableDir, Some(s"batch-$batchId"))
        ()
      }
      .start()
  }
}
