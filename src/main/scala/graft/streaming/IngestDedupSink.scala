package graft.streaming

import graft.meta.SnapshotCatalog
import graft.ops.TextAnalysis
import graft.sinks.Writers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest with exact dedup against everything already
  * ingested (SURVEY §2.4 T10) — the DEPLOY shape of L36's incremental
  * dedup: a crawl/firehose streams in, and each micro-batch lands only
  * the documents whose normalized-text fingerprint has never been seen,
  * in this batch or any before it.
  *
  * State lives in TABLES, not in streaming state stores: the corpus
  * table plus a fingerprint index table (`<table>__fpindex`, one row
  * per distinct fingerprint with its keeper id — [[graft.ops.Dedup
  * .exactGroups]]' output shape, maintained incrementally). Restarting
  * the query, or pointing a SECOND query at the same tables, needs no
  * state migration — the disk format is the coordination point, same
  * as the CDC race pool. At 100 TB the per-batch cost is one co-keyed
  * join of the (small) batch against the fingerprint-count-sized
  * index, never a corpus scan.
  *
  * Exactly-once across TWO tables: each commit carries (checkpoint,
  * batchId); the corpus and index commits are checked independently on
  * re-delivery. A crash between the two commits re-delivers the batch,
  * recomputes the SAME survivor set (the index is unchanged until its
  * own commit lands), skips the already-landed corpus commit and
  * completes the index commit — deterministic recomputation makes the
  * two-table pair idempotent without a cross-table transaction.
  *
  * In-batch dups resolve before the index probe (min id per
  * fingerprint, a batch-sized aggregate), so a batch carrying the same
  * article from three mirrors lands it once. */
object IngestDedupSink {

  private[streaming] val BatchIdProp = "graft.ingestdedup.batchId"
  private[streaming] val CheckpointProp = "graft.ingestdedup.checkpoint"

  /** The fingerprint index table for `table`. */
  def indexTable(table: String): String = s"${table}__fpindex"

  private def lastCommitted(
      catalog: SnapshotCatalog, table: String, checkpointDir: String): Long =
    SnapshotSink.lastCommittedBatch(catalog, table, checkpointDir, BatchIdProp, CheckpointProp)

  private[graft] def ingestBatch(
      catalog: SnapshotCatalog,
      table: String,
      idCol: String,
      textCol: String,
      dataDir: String,
      checkpointDir: String)(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val props = Map(BatchIdProp -> batchId.toString, CheckpointProp -> checkpointDir)
    val spark = batch.sparkSession
    val idx = indexTable(table)

    // in-batch winners: lowest id per fingerprint (batch-sized agg)
    val fp = batch.withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
    val winners = fp.join(
      fp.groupBy(col("__fp")).agg(min(col(idCol)).as(idCol)),
      Seq("__fp", idCol), "left_semi")

    // novel = winners whose fingerprint is absent from the index; the
    // anti join co-keys on the fingerprint (index side is one row per
    // distinct fingerprint — bounded, never corpus-sized). Materialize
    // once: BOTH commits below consume it, and the source may be an
    // expensive plan the sink shouldn't evaluate twice
    val novel =
      (if (catalog.currentSnapshot(idx).isEmpty) winners
       else winners.join(
         catalog.read(spark, idx).select(col("fingerprint").as("__fp")),
         Seq("__fp"), "left_anti")).localCheckpoint(true)

    // both commits are per-table idempotent under re-delivery
    if (batchId > lastCommitted(catalog, table, checkpointDir))
      Writers.writeSnapshot(catalog, table, novel.drop("__fp"), dataDir, props = props)
    if (batchId > lastCommitted(catalog, idx, checkpointDir))
      Writers.writeSnapshot(catalog, idx,
        novel.select(col("__fp").as("fingerprint"), col(idCol).as("dup_of")),
        dataDir, props = props)
    ()
  }

  def start(
      stream: DataFrame,
      catalog: SnapshotCatalog,
      table: String,
      idCol: String,
      textCol: String,
      dataDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(ingestBatch(catalog, table, idCol, textCol, dataDir, checkpointDir) _)
      .start()

  /** The NEAR-dup variant's persistent LSH index tables: the band
    * buckets (probe side — (band, band_hash, doc_id)) and the sorted
    * shingle hashes (verify side — (id, sh)). Verification joins the
    * shingle index, NEVER re-reads corpus text: the index stores
    * exactly what the two phases consume. */
  def bandIndexTable(table: String): String = s"${table}__bandindex"
  def shingleIndexTable(table: String): String = s"${table}__shindex"

  /** One micro-batch of near-dup-filtered ingest (jaccard ≥ threshold
    * on word shingles). Drop rules, both deterministic one-pass forms:
    * in-batch, a doc drops iff a verified EARLIER-ID batch neighbor
    * exists (the SemDedup rule — no components, parallel-evaluable);
    * cross-batch, a doc drops iff ANY verified corpus neighbor exists.
    * Cost ∝ batch bands × bucket width + candidates — linear in corpus
    * size through the index, never a corpus scan. THREE tables commit
    * per batch (corpus, band index, shingle index), each idempotent
    * under re-delivery by the same (checkpoint, batchId) discipline as
    * the exact sink — any crash prefix re-delivers, recomputes the
    * same survivors against the unchanged not-yet-committed suffix,
    * skips what landed and completes the rest. */
  private[graft] def nearDupIngestBatch(
      catalog: SnapshotCatalog,
      table: String,
      idCol: String,
      textCol: String,
      dataDir: String,
      checkpointDir: String,
      threshold: Double,
      numBands: Int)(batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val props = Map(BatchIdProp -> batchId.toString, CheckpointProp -> checkpointDir)
    val spark = batch.sparkSession
    val bIdx = bandIndexTable(table)
    val sIdx = shingleIndexTable(table)

    // bands + sorted shingle hashes of the batch feed every phase below
    // (and the index commits) — materialize each once, batch-sized
    val bb = graft.ops.Dedup.bandedSignatures(batch, idCol, textCol, numBands)
      .localCheckpoint(true)
    val shB = graft.ops.Dedup.shingleHashes(batch, idCol, textCol)
      .localCheckpoint(true)

    // in-batch: earlier-id verified neighbor drops the later doc
    val inPairs = bb.as("x").join(bb.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id")).distinct()
    val inDrops = graft.ops.Dedup.verifyJaccardPairs(inPairs, "a_id", "b_id",
      shB, shB, threshold).select(col("b_id").as(idCol)).distinct()
    val inKept = batch.join(inDrops, Seq(idCol), "left_anti")

    // cross-batch: probe the band index, verify against the shingle
    // index (no corpus text re-read)
    val crossDrops =
      if (catalog.currentSnapshot(bIdx).isEmpty) inDrops.limit(0)
      else {
        val cand = bb.join(
            catalog.read(spark, bIdx)
              .select(col("band"), col("band_hash"), col("doc_id").as("corpus_id")),
            Seq("band", "band_hash"))
          .select(col("doc_id").as("batch_id"), col("corpus_id")).distinct()
        graft.ops.Dedup.verifyJaccardPairs(cand, "batch_id", "corpus_id",
          shB, catalog.read(spark, sIdx), threshold)
          .select(col("batch_id").as(idCol)).distinct()
      }
    val novel = inKept.join(crossDrops, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    val novelIds = novel.select(col(idCol).as("doc_id"))

    // COMMIT ORDER MATTERS: the band index is the only input to
    // candidate generation, so it commits LAST — a crash after any
    // prefix re-delivers the batch, recomputes against the UNCHANGED
    // band index (new shingle-index rows are inert: nothing probes
    // them without their bands) and gets the identical survivor set;
    // committing bands first would make a re-delivered batch match
    // ITSELF in the index and starve the remaining commits
    if (batchId > lastCommitted(catalog, table, checkpointDir))
      Writers.writeSnapshot(catalog, table, novel, dataDir, props = props)
    if (batchId > lastCommitted(catalog, sIdx, checkpointDir))
      Writers.writeSnapshot(catalog, sIdx,
        shB.join(novelIds, col("id") === col("doc_id"), "left_semi"),
        dataDir, props = props)
    if (batchId > lastCommitted(catalog, bIdx, checkpointDir))
      Writers.writeSnapshot(catalog, bIdx,
        bb.join(novelIds, Seq("doc_id"), "left_semi"), dataDir, props = props)
    ()
  }

  def startNearDup(
      stream: DataFrame,
      catalog: SnapshotCatalog,
      table: String,
      idCol: String,
      textCol: String,
      dataDir: String,
      checkpointDir: String,
      threshold: Double = 0.8,
      numBands: Int = graft.ops.Dedup.NumBands,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(nearDupIngestBatch(catalog, table, idCol, textCol,
        dataDir, checkpointDir, threshold, numBands) _)
      .start()
}
