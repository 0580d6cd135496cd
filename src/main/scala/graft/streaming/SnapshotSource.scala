package graft.streaming

import graft.meta.SnapshotCatalog
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Structured Streaming SOURCE over a [[SnapshotCatalog]] table — the
  * read-side complement of [[SnapshotSink]] (which commits micro-batches
  * as snapshots): a downstream job consumes the table AS A STREAM, one
  * micro-batch per snapshot range, the Delta/Iceberg `readStream`
  * pattern on this catalog's own metadata.
  *
  *   spark.readStream
  *     .format("graft.streaming.SnapshotSourceProvider")
  *     .option("catalogRoot", root).option("table", "docs")
  *     .load()
  *
  * Semantics, `mode=append` (default): the first batch is the full table
  * at the then-current snapshot; every later batch is
  * `readIncremental(lastSeen, current)` — appends only, folded over the
  * catalog's one walk of the range's commits (the walk the net and
  * per-commit feeds share), so COW deletes/rewrites, merges and
  * compactions between triggers are classified exactly like any other
  * incremental read (rewrite outputs never resurface as inserts; merge
  * insert-files and compaction lineage pass through).
  *
  * `mode=cdc` (the Delta `readChangeFeed` analogue): batches carry the
  * PER-COMMIT row-level change feed instead — table columns plus
  * `_change_type` (insert/delete), `_commit_snapshot_id` and
  * `_commit_timestamp_ms` — so a downstream consumer can maintain a
  * mirror or an incremental aggregate from the stream alone. The first
  * batch is the full table as `insert` rows attributed to the starting
  * snapshot; each later batch is `changesPerCommit(lastSeen, current)`,
  * the net fold of each commit of that same walk on its own
  * (deletes arrive as explicit `delete` rows; compactions are silent;
  * updates net to delete+insert pairs — exactly the semantics the batch
  * feed proves in `CdcLifecycleSpec`).
  *
  * Scale: `getOffset` is one pointer read (O(1) at any snapshot count —
  * this poll runs every trigger); a batch plans only the files the range
  * touched. Offsets are snapshot ids, so restart-from-checkpoint
  * resumes exactly where the stream stopped: streaming in AND out of the
  * catalog is end-to-end exactly-once (sink side: batch-id-in-props).
  */
final class SnapshotSource(
    sqlContext: SQLContext,
    root: String,
    table: String,
    maxSnapshotsPerTrigger: Option[Long] = None,
    cdc: Boolean = false) extends Source {

  private val catalog = new SnapshotCatalog(root)
  private def spark = sqlContext.sparkSession

  private val tableSchema: StructType = catalog.schema(table).getOrElse(
    throw new IllegalArgumentException(
      s"table $table has no snapshots under $root (the source needs a schema)"))

  override val schema: StructType =
    if (cdc) SnapshotSource.cdcSchema(tableSchema) else tableSchema

  // last end offset handed to getBatch — the rate-limit anchor. Restored
  // naturally on checkpoint restart: MicroBatchExecution replays the
  // last committed range through getBatch before polling getOffset.
  @volatile private var lastEnd: Option[Long] = None

  /** Latest offset to OFFER this trigger: the current snapshot, capped
    * to `lastEnd + maxSnapshotsPerTrigger` — a consumer catching up on a
    * deep backlog takes it in bounded micro-batches (the Delta
    * `maxFilesPerTrigger` analogue) instead of one unbounded batch. If
    * expiration removed the snapshot at the cap, the offer slides down
    * to the nearest surviving id (never past `lastEnd`). */
  override def getOffset: Option[Offset] =
    catalog.currentSnapshot(table).map { s =>
      val capped = (lastEnd, maxSnapshotsPerTrigger) match {
        case (Some(le), Some(m)) if le + m < s.snapshotId =>
          ((le + m) to (le + 1) by -1)
            .find(id => catalog.snapshotById(table, id).isDefined)
            .getOrElse(s.snapshotId)
        case _ => s.snapshotId
      }
      LongOffset(capped)
    }

  private def id(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  private def emptyBatch: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    lastEnd = Some(id(end))
    val batch = start match {
      // first batch: the whole table as of the end snapshot — in CDC
      // mode, as insert rows attributed to that snapshot (the Delta
      // readChangeFeed startingVersion behavior for the initial state)
      case None =>
        val full = catalog.read(spark, table, snapshotId = Some(id(end)))
        if (!cdc) full
        else {
          val snap = catalog.snapshotById(table, id(end)).get
          full.withColumn("_change_type", lit("insert"))
            .withColumn("_commit_snapshot_id", lit(snap.snapshotId))
            .withColumn("_commit_timestamp_ms", lit(snap.timestampMs))
        }
      case Some(s) if id(s) >= id(end) => emptyBatch
      case Some(s) if cdc =>
        catalog.changesPerCommit(spark, table, id(s), Some(id(end)))
      case Some(s) =>
        catalog.readIncremental(spark, table, id(s), Some(id(end)))
    }
    // fix column order to the declared schema (feed frames assemble
    // change columns by union, which may reorder); MicroBatchExecution
    // also asserts isStreaming on the returned frame
    val aligned = batch.select(schema.fieldNames.map(col).toSeq: _*)
    org.apache.spark.sql.GraftColumnShim.asStreamingFrame(aligned)
  }

  override def stop(): Unit = ()
}

object SnapshotSource {
  /** CDC-mode output schema: the table's columns plus the change-feed
    * attribution columns (the Delta CDF surface). */
  def cdcSchema(tableSchema: StructType): StructType =
    tableSchema
      .add("_change_type", StringType, nullable = false)
      .add("_commit_snapshot_id", LongType, nullable = false)
      .add("_commit_timestamp_ms", LongType, nullable = false)
}

/** `format("graft.streaming.SnapshotSourceProvider")` registration.
  * Options: `catalogRoot` (required), `table` (required),
  * `maxSnapshotsPerTrigger` (optional), `mode` (`append` default, or
  * `cdc` for the row-level change feed). */
final class SnapshotSourceProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshots"

  private def opt(parameters: Map[String, String], key: String): String =
    parameters.getOrElse(key,
      throw new IllegalArgumentException(s"missing required option: $key"))

  private def isCdc(parameters: Map[String, String]): Boolean =
    parameters.get("mode") match {
      case None | Some("append") => false
      case Some("cdc") => true
      case Some(other) =>
        throw new IllegalArgumentException(s"unknown mode: $other (append|cdc)")
    }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val cat = new SnapshotCatalog(opt(parameters, "catalogRoot"))
    val table = opt(parameters, "table")
    val base = schema.orElse(cat.schema(table)).getOrElse(
      throw new IllegalArgumentException(
        s"table $table has no snapshots (schema unknown)"))
    (shortName(), if (isCdc(parameters)) SnapshotSource.cdcSchema(base) else base)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new SnapshotSource(sqlContext, opt(parameters, "catalogRoot"), opt(parameters, "table"),
      parameters.get("maxSnapshotsPerTrigger").map(_.toLong),
      cdc = isCdc(parameters))
}
