package graft.streaming

import graft.meta.SnapshotCatalog
import graft.sinks.Writers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming UPSERT into the snapshot catalog (SURVEY §2.4 T7): every
  * micro-batch is one transactional MERGE INTO — matched keys take the
  * batch's version, new keys insert, everything else survives. The CDC
  * exactness of [[graft.sinks.Writers.mergeInto]] (net-new rows listed
  * in `insert_files`) carries over, so a downstream incremental reader
  * of the upserted table sees exactly the applied changes.
  *
  * Exactly-once: same discipline as [[SnapshotSink]] — the merge commit
  * carries (checkpoint, batchId) atomically with the data, so a batch
  * re-delivered after a crash between commit and checkpoint write is
  * recognized and skipped. There is no window where data landed but the
  * batch id didn't.
  *
  * In-batch ordering: a micro-batch may carry several versions of one
  * key (a hot row updated twice inside the trigger interval). When
  * `versionCol` is given, the HIGHEST version per key wins before the
  * merge (one bounded window over the batch, partitioned by key — never
  * the table); without it the batch must already be key-unique, which
  * [[graft.sinks.Writers.mergeInto]] requires for a well-defined result.
  *
  * Scale: per batch, the merge rewrites only the key-range-pruned file
  * slice (manifest min/max + blooms bound it); a steady update stream
  * against a 100 TB table touches the files its keys actually live in,
  * not the table. */
object UpsertSink {

  private val BatchIdProp = "graft.upsert.batchId"
  private val CheckpointProp = "graft.upsert.checkpoint"

  /** Merge one micro-batch exactly once. The FIRST batch against an
    * empty table bootstraps it as a plain snapshot append (a merge needs
    * a target); every later batch merges. */
  private[streaming] def mergeBatch(
      catalog: SnapshotCatalog,
      table: String,
      keyCols: Seq[String],
      dataDir: String,
      checkpointDir: String,
      versionCol: Option[String])(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty || batchId <= SnapshotSink.lastCommittedBatch(
        catalog, table, checkpointDir, BatchIdProp, CheckpointProp)) return
    val deduped = versionCol match {
      case Some(v) =>
        val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(v).desc)
        batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None => batch
    }
    val props = Map(
      BatchIdProp -> batchId.toString,
      CheckpointProp -> checkpointDir)
    if (catalog.currentSnapshot(table).isEmpty)
      Writers.writeSnapshot(catalog, table, deduped, dataDir, props = props)
    else
      Writers.mergeInto(batch.sparkSession, catalog, table, deduped, keyCols, dataDir, props)
    ()
  }

  def start(
      stream: DataFrame,
      catalog: SnapshotCatalog,
      table: String,
      keyCols: Seq[String],
      dataDir: String,
      checkpointDir: String,
      versionCol: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(mergeBatch(catalog, table, keyCols, dataDir, checkpointDir, versionCol) _)
      .start()
}
