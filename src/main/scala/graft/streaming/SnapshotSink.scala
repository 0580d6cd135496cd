package graft.streaming

import graft.meta.{SnapshotCatalog, SnapshotMeta}
import graft.sinks.Writers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingestion into the snapshot catalog: every micro-batch
  * lands as one transactional append snapshot (write files → single
  * metadata commit), so downstream readers get atomic visibility, time
  * travel over the ingest history, and incremental (CDC-style)
  * consumption via `SnapshotCatalog.readIncremental` — the reference's
  * streaming-ingestion + cache-refresh path (reference:
  * docs/arrow_iceberg_cache_design.md §4 "Streaming Ingestion";
  * snapshot consumption in src/iceberg_management/metadata.py).
  *
  * Scale: commit cost is O(files in batch) thanks to manifest metadata
  * reuse; the stream's only serialization point is the tiny JSON commit.
  */
object SnapshotSink {

  private val BatchIdProp = "graft.ingest.batchId"
  private val CheckpointProp = "graft.ingest.checkpoint"

  /** Highest batch id this (table, checkpoint) pair has committed, read
    * from the `batchIdProp` / `checkpointProp` pair the sink stamps on
    * each commit — the commit IS the record, so there is no window where
    * data landed but the batch id didn't. The one exactly-once ledger
    * every streaming sink reads, each under its own prop keys.
    *
    * Fast path: when the CURRENT snapshot belongs to this checkpoint
    * (the steady state for a single-writer stream), its batch id is the
    * maximum — batches commit in order per checkpoint — so the common
    * per-micro-batch check is one O(1) pointer read, not a listing of
    * the whole snapshot log. Interleaved writers fall back to the scan. */
  private[streaming] def lastCommittedBatch(
      catalog: SnapshotCatalog,
      table: String,
      checkpointDir: String,
      batchIdProp: String = BatchIdProp,
      checkpointProp: String = CheckpointProp): Long = {
    def batchOf(s: SnapshotMeta): Option[Long] =
      s.props.get(batchIdProp).filter(_ => s.props.get(checkpointProp).contains(checkpointDir))
        .map(_.toLong)
    catalog.currentSnapshot(table).flatMap(batchOf).getOrElse(
      catalog.snapshots(table).flatMap(batchOf).reduceOption(_ max _).getOrElse(-1L))
  }

  /** Commit one micro-batch exactly once: a batch re-delivered after a
    * crash between snapshot commit and checkpoint write (foreachBatch is
    * at-least-once) is recognized by its id in the last snapshot's props
    * and skipped, making ingestion idempotent end-to-end. */
  private[streaming] def commitBatch(
      catalog: SnapshotCatalog,
      table: String,
      dataDir: String,
      checkpointDir: String)(batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty && batchId > lastCommittedBatch(catalog, table, checkpointDir)) {
      Writers.writeSnapshot(catalog, table, batch, dataDir,
        props = Map(BatchIdProp -> batchId.toString, CheckpointProp -> checkpointDir))
      ()
    }

  def start(
      stream: DataFrame,
      catalog: SnapshotCatalog,
      table: String,
      dataDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(commitBatch(catalog, table, dataDir, checkpointDir) _)
      .start()
}
