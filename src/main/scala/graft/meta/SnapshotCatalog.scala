package graft.meta

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import java.nio.charset.StandardCharsets
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.Base64

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

import scala.jdk.CollectionConverters._

/** Per-column min/max for one data file. Numeric/date/timestamp columns
  * normalize to doubles (timestamps → epoch millis); strings keep
  * lexicographic bounds. The Spark-side analogue of the reference's
  * min/max index (reference: src/core/cache_node.py:208 `_build_indices`)
  * and of Iceberg's `lower_bounds`/`upper_bounds` (reference:
  * src/core/cache_data_model.py:36 `PartitionInfo`).
  */
final case class ColStats(
    minD: Option[Double] = None,
    maxD: Option[Double] = None,
    minS: Option[String] = None,
    maxS: Option[String] = None,
    // null-row count (Iceberg's null_value_counts): min/max say nothing
    // about null rows, so any GUARANTEE of "this file holds ≥ n rows
    // above x" needs the non-null count — the stats-ordered top-k read
    // depends on it. Optional: manifests written before this field
    // parse as None, and consumers must then treat the file
    // conservatively.
    nullCount: Option[Long] = None)

/** One data file in a snapshot, with pruning indices.
  * `partitionValues` are hive-layout `k=v` values parsed from the file's
  * directory path at commit time (the analogue of Iceberg's partition
  * tuple, reference: src/core/cache_data_model.py:36 `PartitionInfo`) —
  * they prune files on partition columns that aren't stored IN the data
  * files, closing the loop from partitioned writes (S21) to manifest
  * pruning (S4). */
final case class FileMeta(
    path: String,
    rowCount: Long,
    sizeBytes: Long,
    stats: Map[String, ColStats] = Map.empty,
    blooms: Map[String, String] = Map.empty,
    partitionValues: Map[String, String] = Map.empty,
    sketches: Map[String, String] = Map.empty,
    // physical-parquet-column → current-logical-name mapping, written
    // by renameColumn (SURVEY §2 S48): the Iceberg field-id mechanism
    // re-expressed name-wise. Empty for files written under the current
    // names; stats/blooms/sketches/partitionValues stay keyed by
    // LOGICAL name (re-keyed at rename), so pruning never consults
    // this — only the scan does, to alias physical columns back. */
    renames: Map[String, String] = Map.empty,
    // physical-parquet-column → its PHYSICAL type (catalogString),
    // written by widenColumn (Iceberg type promotion): files from
    // before a widen are read under their stored type and cast up at
    // scan time. Recorded ONCE per column (the bytes never change, so
    // a second widen keeps the original entry). Stats stay valid —
    // numeric min/max are held as doubles and string blooms don't
    // change a value's rendering, so pruning never consults this. */
    physTypes: Map[String, String] = Map.empty,
    // LOGICAL-column → SQL-literal default for columns ABSENT from this
    // file's bytes (Iceberg v3 default-values: `initial-default` for
    // files predating an ADD COLUMN ... DEFAULT, `write-default` for
    // files appended without the column while a default was in force).
    // The scan serves the literal instead of a null fill; re-keyed at
    // rename, dropped with the column. Pruning stays conservative (no
    // stats entry → file kept), which is always correct for a
    // constant-valued column. */
    defaults: Map[String, String] = Map.empty,
    // Commit-scoped PQ-codes sidecar dir holding this file's encoded
    // vectors (r17, [[VectorIndex]]): set by the commit hook for new
    // files while the sticky pq props are in force, carried like
    // blooms/sketches when the file is reused. One vector index per
    // table; the codes' id column rides the FIXED name `__vid`, so
    // this ref never needs re-keying on a column rename. */
    pqCodes: Option[String] = None) {

  /** Bloom values are ABSOLUTE sidecar file paths (current format) so
    * manifests stay O(stats) bytes; inline base64 (pre-sidecar
    * manifests) still reads back for compatibility. Discriminator: a
    * leading '/' means sidecar path. Safe for legacy blobs because the
    * sketch BloomFilter serial form begins with a small version byte
    * (< 0xFC), whose base64 encoding can never start with '/' — base64
    * only leads with '/' when the first byte's top 6 bits are all set. */
  def bloomFor(column: String): Option[BloomFilter] =
    blooms.get(column).flatMap { ref =>
      if (ref.startsWith("/"))
        // a sidecar another catalog instance dropped/vacuumed (e.g. a
        // clone's source in a different root) degrades to "no bloom":
        // pruning keeps the file instead of the read failing. Open-and-
        // catch, NOT exists-then-open — a concurrent vacuum between the
        // check and the open is exactly the race this guards against.
        try {
          val in = Files.newInputStream(Paths.get(ref))
          try Some(BloomFilter.readFrom(in)) finally in.close()
        } catch {
          case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException => None
        }
      else
        Some(BloomFilter.readFrom(new ByteArrayInputStream(Base64.getDecoder.decode(ref))))
    }
}

/** A merge-on-read position-delete file (the Iceberg v2 position-delete
  * analogue, format spec "Position Delete Files"): a small parquet of
  * `(_file: string, _pos: long)` rows marking individual data-file rows
  * as deleted WITHOUT rewriting the data files. `_file` holds the data
  * file's scan URI (the `_metadata.file_path` the row was read under) so
  * the read-side anti-join matches it natively; `dataPaths` are the
  * normalized data-file paths the entries reference, used for
  * carry-forward liveness (a delete file whose referenced data files
  * were ALL rewritten is dropped — its entries would match nothing) and
  * for scoping the read-side join to affected files only. Entries
  * pointing at paths no longer in the snapshot are inert by
  * construction: the anti-join key includes the file path. */
final case class DeleteFileMeta(
    path: String,
    rowCount: Long,
    sizeBytes: Long,
    dataPaths: Seq[String],
    equalityColumns: Seq[String] = Nil) {
  /** Position delete (`(_file,_pos)` entries) vs equality delete (key
    * tuples in `equalityColumns`, masking matching rows of `dataPaths`
    * — the files that existed when the delete committed, so a LATER
    * append of the same key is never masked: the Iceberg v2 sequence-
    * number rule expressed as an explicit file scope). */
  def isEquality: Boolean = equalityColumns.nonEmpty
}

/** A staged-but-unpublished append (write-audit-publish): file paths
  * written and recorded OUTSIDE the snapshot chain — prospective state,
  * never table metadata until published. `parentId` documents what the
  * stager saw; publish applies onto whatever is current then (append
  * cherry-pick). */
final case class StagedMeta(
    stagedId: String,
    parentId: Option[Long],
    timestampMs: Long,
    paths: Seq[String],
    props: Map[String, String] = Map.empty)

/** A committed table version (reference: pyiceberg `Snapshot` surfaced
  * through src/iceberg_management/metadata.py:160 `get_snapshot`).
  * `props` carries committer metadata (e.g. streaming batch ids for
  * idempotent ingest) atomically with the snapshot itself. */
final case class SnapshotMeta(
    snapshotId: Long,
    timestampMs: Long,
    parentId: Option[Long],
    schemaJson: String,
    files: Seq[FileMeta],
    props: Map[String, String] = Map.empty,
    deleteFiles: Seq[DeleteFileMeta] = Nil) {
  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  def totalRows: Long = files.map(_.rowCount).sum
  def totalBytes: Long = files.map(_.sizeBytes).sum
  /** Outstanding position-delete entries (raw count; entries whose data
    * file left the snapshot are inert but still counted here). */
  def totalDeleteRows: Long = deleteFiles.map(_.rowCount).sum
  /** Delete files whose entries could affect ANY of `paths`. */
  def deletesFor(paths: Seq[String]): Seq[DeleteFileMeta] = {
    val set = paths.toSet
    deleteFiles.filter(_.dataPaths.exists(set.contains))
  }
}

/** One stored version of a SQL view's definition (Iceberg view spec's
  * view-version entry): the SQL text plus when it became current. */
final case class ViewVersion(versionId: Long, timestampMs: Long, sql: String)

/** A stored SQL view: the full version history plus the current pointer
  * — `CREATE OR REPLACE` / `ALTER VIEW AS` append versions, so the
  * definition's evolution is auditable like table history. */
final case class ViewMeta(
    name: String,
    currentVersionId: Long,
    versions: Seq[ViewVersion])

/** A concurrent commit made this commit's plan unsafe to re-apply
  * (Iceberg's `ValidationException` on optimistic-commit retry): the
  * operation read rows at its basis snapshot, another committer changed
  * state the operation depends on, and blindly re-applying would lose
  * or resurrect rows. The right response is the same as Iceberg's:
  * re-plan against the new current snapshot and retry the WHOLE
  * operation, not just the publish. */
final class CommitConflictException(msg: String) extends RuntimeException(msg)

/** The INTENT of a commit: what it changes, declared relative to the
  * snapshot the writer planned against (`basisSnapshotId`). Like
  * Iceberg's `AppendFiles` / `RewriteFiles`, it names only the change,
  * never the survivors: every publish attempt builds the new file list
  * from its ACTUAL parent as
  *
  *   files = parent − `removedPaths` + the commit's added files + `addFiles`
  *
  * and there is no mode in which a caller lists the table's files
  * itself. So the optimistic-commit retry RECONCILES instead of
  * clobbering: a pure append (removedPaths empty) re-applies cleanly on
  * whatever the new current is (concurrent appends all survive — the
  * fast-append path a 1000-executor ingest fleet needs), while a
  * rewrite re-applies only after validating that nothing it depends on
  * changed, else throws [[CommitConflictException]]:
  *
  *  - every `removedPaths` entry must still be present (a concurrent
  *    rewrite/compaction of the same files is a lost-update otherwise);
  *  - no row-level delete file landed since basis over a removed path
  *    (the outputs were computed from basis-visible rows — re-applying
  *    them would resurrect the concurrently-masked rows);
  *  - every `addDeleteFiles` entry must reference only live data files
  *    (positions/scope are per-file — a rewritten file invalidates
  *    them);
  *  - no file added since basis may match `conflictOnAdded` (dynamic
  *    partition overwrite uses this: a concurrent append into a
  *    replaced partition has no serializable order).
  *
  * `addFiles` are entries already scanned elsewhere (a cherry-pick's
  * replayed files, a rollback target's), applied as they are; one the
  * parent already holds is not listed twice. `retireDeleteFiles` names
  * delete files this commit consumes (a materialization); concurrent
  * masks over untouched files carry forward untouched. `strictBasis`
  * refuses ANY head movement (rollback: "roll back from X" is
  * meaningless once X isn't current). `basisSnapshotId = None` means
  * "planned against an empty table"; `CommitIntent(None)`, the default
  * of [[SnapshotCatalog.commit]], is a plain append. */
final case class CommitIntent(
    basisSnapshotId: Option[Long],
    removedPaths: Seq[String] = Nil,
    addFiles: Seq[FileMeta] = Nil,
    addDeleteFiles: Seq[DeleteFileMeta] = Nil,
    retireDeleteFiles: Seq[String] = Nil,
    strictBasis: Boolean = false,
    conflictOnAdded: FileMeta => Boolean = _ => false)

/** What one publish attempt changes on its parent — all a commit path
  * states; [[SnapshotCatalog]]'s one snapshot constructor adds the rest.
  * Files, delete files and schema default to the parent's. `props` are
  * the commit's own props plus the table props it sets; `unset` names
  * the table props it clears. Every other table prop
  * ([[SnapshotCatalog.TableProps]]) carries from the parent. */
private[meta] final case class SnapshotChange(
    files: Option[Seq[FileMeta]] = None,
    deleteFiles: Option[Seq[DeleteFileMeta]] = None,
    schemaJson: Option[String] = None,
    props: Map[String, String] = Map.empty,
    unset: Seq[String] = Nil)

/** File-skipping predicates evaluated against manifest indices. */
sealed trait PruneFilter { def column: String }
/** Equality on a string column: min/max range check + bloom membership. */
final case class EqString(column: String, value: String) extends PruneFilter
/** Numeric/timestamp range overlap: keep file iff [lo,hi] ∩ [min,max] ≠ ∅. */
final case class RangeNum(column: String, lo: Double, hi: Double) extends PruneFilter
/** Lexicographic range overlap on a string column — the string analogue
  * of [[RangeNum]], used e.g. to bound a MERGE's rewrite set by the
  * source's key range. */
final case class RangeString(column: String, lo: String, hi: String) extends PruneFilter
/** IN-list on a string column (the multi-tenant id-list scan:
  * `WHERE tenant IN (...)`): a file survives iff ANY listed value
  * might be present by partition value, min/max range, and bloom —
  * an id list over a bloom-indexed table prunes to the handful of
  * files that could hold those ids, independent of table size. */
final case class InString(column: String, values: Seq[String]) extends PruneFilter

/** Distributive bloom-filter aggregator over (file, column, stringValue)
  * entries: partial blooms build map-side per partition, merge once per
  * (file, column) group. Buffer rides Kryo (the sketch BloomFilter is a
  * plain bit array + params); output is the `writeTo` wire format that
  * [[FileMeta.bloomFor]] reads back.
  *
  * Each bloom is sized from ITS file's actual row count (an upper bound
  * on distinct values per column), supplied by the same commit that
  * already computed per-file stats — not a flat global guess. Because
  * `zero` cannot see the group key, the buffer starts null and sizes
  * itself on first `reduce`, where the file path is in hand. A flat-1M
  * default made every (file, column) bloom ~900 KB regardless of file
  * size; row-count sizing makes manifest+sidecar bytes proportional to
  * the data actually committed. */
private[meta] final class BloomColumnAgg(rowsByFile: Map[String, Long], fpp: Double)
    extends Aggregator[(String, String, String), BloomFilter, Array[Byte]] {
  private def sized(file: String): BloomFilter =
    BloomFilter.create(
      math.max(rowsByFile.getOrElse(SnapshotCatalog.normalizePath(file), 4096L), 64L), fpp)
  def zero: BloomFilter = null
  def reduce(b: BloomFilter, a: (String, String, String)): BloomFilter = {
    val bf = if (b == null) sized(a._1) else b
    if (a._3 != null) bf.putString(a._3)
    bf
  }
  def merge(b1: BloomFilter, b2: BloomFilter): BloomFilter =
    if (b1 == null) b2
    else if (b2 == null) b1
    else { b1.mergeInPlace(b2); b1 }
  def finish(b: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val bf = if (b == null) BloomFilter.create(64L, fpp) else b
    bf.writeTo(bos)
    bos.toByteArray
  }
  def bufferEncoder: Encoder[BloomFilter] = Encoders.kryo[BloomFilter]
  def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** Snapshot/manifest catalog over parquet files — the Spark-first
  * re-expression of the reference's Iceberg metadata layer (reference:
  * src/iceberg_management/metadata.py:12 `IcebergMetadataManager`):
  * snapshot log, history, time travel by id or as-of timestamp, schema
  * and table stats, and manifest-level file pruning (min/max + bloom)
  * before the parquet scan — the same lever Iceberg manifests give the
  * reference's cache for partition filtering
  * (metadata.py:26 `get_data_files(partition_filter)`).
  *
  * Layout: `<root>/<table>/snap-<id>.json`, ids monotonically increasing.
  *
  * Scale note: stats for ALL files of a commit are computed in ONE Spark
  * job (`groupBy(input_file_name)`), so a 100k-file commit is a single
  * scan, not 100k driver round-trips. Bloom construction is opt-in
  * per-column and runs once per commit.
  */
final class SnapshotCatalog(root: String, clock: () => Long = () => System.currentTimeMillis()) {

  private implicit val formats: Formats = DefaultFormats

  // EVERY path-addressed table access validates the ref shape here —
  // CALL-procedure arguments and backquoted SQL identifiers are
  // arbitrary strings, and a name carrying '..' (or any non-branch '/')
  // must never address a directory outside the catalog root (the same
  // discipline the view store applies to view names).
  private def tableDir(table: String): Path = {
    require(SnapshotCatalog.validTableRef(table), s"invalid table name: $table")
    Paths.get(root, table)
  }

  private def normalize(p: String): String = SnapshotCatalog.normalizePath(p)

  // ---- commit ----------------------------------------------------------

  /** Commit a new snapshot that adds `added`, the data files this commit
    * wrote, and applies `intent` (see [[CommitIntent]]): the new
    * snapshot's files are the publish attempt's parent, minus
    * `intent.removedPaths`, plus `added`, plus `intent.addFiles`. Only
    * `added` is scanned: per-file row counts, sizes and min/max stats in
    * one job, bloom filters for `bloomColumns` optionally. Every other
    * file keeps its manifest entry, so a commit that touches k of n
    * files costs O(k), which is what keeps copy-on-write deletes and
    * appends viable on 100k-file tables. The default intent is a plain
    * append.
    *
    * Bloom-indexed columns are STICKY table metadata (recorded in
    * snapshot props): once a commit indexes columns, every later commit
    * re-indexes its NEW files on the same columns automatically — a
    * merge/delete/compact rewrite can't silently strip the index the
    * IN-list scan path depends on. Passing `bloomColumns` explicitly
    * replaces the sticky set. (Iceberg analogue: table write properties
    * driving puffin/stats maintenance across rewrites.) Which columns
    * the new files index is read from the head before the stats job;
    * the table props themselves carry from the publish attempt's parent,
    * so a prop set by a commit that lands meanwhile survives. `props`
    * holding [[SnapshotCatalog.MvSrcProp]] restates a materialized
    * view's whole definition: spec props it omits are cleared. */
  def commit(
      spark: SparkSession,
      table: String,
      added: Seq[String],
      bloomColumns: Seq[String] = Nil,
      bloomFpp: Double = 0.03,
      props: Map[String, String] = Map.empty,
      sketchColumns: Seq[String] = Nil,
      deleteFilesOverride: Option[Seq[DeleteFileMeta]] = None,
      intent: CommitIntent = CommitIntent(None),
      declaredSchema: Option[StructType] = None): SnapshotMeta = {
    // deleteFilesOverride replaces the whole delete-file list verbatim —
    // deterministic only when the head can't drift under the commit
    require(deleteFilesOverride.isEmpty || intent.strictBasis,
      "deleteFilesOverride requires strictBasis: a drifting head makes a verbatim delete-file list a lost-update")
    val newPaths = added.map(normalize)
    // MoR delete-file carry-forward: unless the caller overrides (a
    // rollback restores the target's), the parent's delete files
    // survive iff they still reference a live data file — a rewrite
    // that replaced every referenced file retires the delete file with
    // it (Iceberg's rewrite_data_files does the same). Retired files
    // drop and added files append; `prev` here is the ACTUAL parent of
    // this publish attempt, so concurrent masks over untouched files
    // always carry.
    def carriedDeletes(prev: Option[SnapshotMeta], live: Set[String]): Seq[DeleteFileMeta] =
      deleteFilesOverride.getOrElse {
        val retire = intent.retireDeleteFiles.map(normalize).toSet
        prev.map(_.deleteFiles
            .filterNot(d => retire.contains(d.path))
            .filter(_.dataPaths.exists(live.contains))).getOrElse(Nil) ++
          intent.addDeleteFiles
      }
    // The file list of one publish attempt, rebuilt from the ATTEMPT's
    // actual parent: concurrent appends merge in, removed files drop
    // out, the scanned new files and the intent's `addFiles` apply.
    // Validation runs first — a commit that can't be reconciled throws
    // instead of clobbering.
    def resolveFiles(prev: Option[SnapshotMeta], newFiles: Seq[FileMeta]): Seq[FileMeta] = {
      validateIntent(table, intent, prev)
      val removed = intent.removedPaths.map(normalize).toSet
      val survivors = prev.map(_.files.filterNot(f => removed.contains(f.path))).getOrElse(Nil)
      val present = survivors.map(_.path).toSet ++ newFiles.map(_.path)
      newFiles ++ survivors ++ intent.addFiles.filterNot(f => present.contains(f.path))
    }
    // the change on top of the attempt's parent: explicitly passed index
    // columns replace the sticky sets; every other table prop carries
    def change(prev: Option[SnapshotMeta], newFiles: Seq[FileMeta],
        schemaJson: Option[String]): SnapshotChange = {
      val files = resolveFiles(prev, newFiles)
      SnapshotChange(Some(files), Some(carriedDeletes(prev, files.map(_.path).toSet)),
        schemaJson,
        props ++ Seq(SnapshotCatalog.BloomColumnsProp -> bloomColumns,
            SnapshotCatalog.SketchColumnsProp -> sketchColumns)
          .collect { case (k, cs) if cs.nonEmpty => k -> cs.mkString(",") },
        unset = if (props.contains(SnapshotCatalog.MvSrcProp)) SnapshotCatalog.MvSpecProps else Nil)
    }
    // no new files to scan: metadata-only commits AND fully-empty
    // commits (e.g. a delete that removed every row) carry the schema
    // forward
    if (newPaths.isEmpty)
      return publishOn(table)(prev => change(Some(prev), Nil, None))
    val head = currentSnapshot(table)
    def indexed(given: Seq[String], prop: String): Seq[String] =
      if (given.nonEmpty) given
      else head.flatMap(_.props.get(prop)).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val bloomCols = indexed(bloomColumns, SnapshotCatalog.BloomColumnsProp)
    val df = spark.read.parquet(newPaths: _*)
    val schema = df.schema

    // non-null count per column rides the same aggregate (the Iceberg
    // null_value_counts analogue): nullCount = rows - count(c). ALL
    // columns count (not just stat'd types) — the partition-value
    // bytes-win rule below needs to know whether a file's bytes carry
    // real values for a column its path also spells as k=v
    val cntAggs = schema.fields.map(f => count(col(f.name)).as(s"cnt__${f.name}")).toSeq
    val statAggs = schema.fields.flatMap { f =>
      f.dataType match {
        case _: NumericType =>
          Seq(min(col(f.name)).cast("double").as(s"minD__${f.name}"),
            max(col(f.name)).cast("double").as(s"maxD__${f.name}"))
        case _: TimestampType =>
          // exact epoch-millis bounds with sub-second precision, widened
          // by 1µs so IEEE division rounding can never shrink the range:
          // unix_timestamp() truncates to whole seconds, which would let
          // a millisecond-bounded prune wrongly skip a file
          Seq((unix_micros(min(col(f.name))) / lit(1000.0) - lit(0.001)).as(s"minD__${f.name}"),
            (unix_micros(max(col(f.name))) / lit(1000.0) + lit(0.001)).as(s"maxD__${f.name}"))
        case _: DateType =>
          Seq((unix_timestamp(min(col(f.name)).cast("timestamp")) * 1000).cast("double").as(s"minD__${f.name}"),
            (unix_timestamp(max(col(f.name)).cast("timestamp")) * 1000).cast("double").as(s"maxD__${f.name}"))
        case _: StringType =>
          Seq(min(col(f.name)).as(s"minS__${f.name}"),
            max(col(f.name)).as(s"maxS__${f.name}"))
        case _ => Nil
      }
    }.toSeq

    // NDV sketches ride the SAME stats job: one datasketches HLL per
    // (file, sketch column), aggregated map-side alongside min/max —
    // zero extra scans. Values sketch as strings (consistent with the
    // bloom index), so any column type is sketchable.
    val sketchCols = indexed(sketchColumns, SnapshotCatalog.SketchColumnsProp)
      .filter(c => schema.fieldNames.contains(c))
    val sketchAggs = sketchCols.map(c =>
      hll_sketch_agg(col(c).cast("string")).as(s"sk__$c"))

    // _metadata.file_path, not input_file_name(): the hidden column adds
    // to the scan schema, so Spark's CacheManager never substitutes a
    // cached InMemoryRelation (where input_file_name() yields "").
    val perFileAgg = df
      .withColumn("__file", col("_metadata.file_path"))
      .groupBy(col("__file"))
      .agg(count(lit(1)).as("__rows"), statAggs ++ cntAggs ++ sketchAggs: _*)

    // sketch sidecars, like bloom sidecars: manifests stay stats-sized
    val perFile: Array[Row] =
      if (sketchCols.isEmpty) perFileAgg.collect()
      else collectSketchSidecars(table, perFileAgg, sketchCols)
    val sketchRefs = sketchRefsOf(perFile, "__file", sketchCols)

    val fileSizes: Map[String, Long] = newPaths.map { p =>
      val f = Paths.get(p)
      p -> (if (Files.exists(f)) Files.size(f) else 0L)
    }.toMap

    // per-file row counts from the stats pass size each file's blooms —
    // see BloomColumnAgg; the flat-1M default wrote ~900 KB per
    // (file, column) no matter how small the file
    val rowsByFile: Map[String, Long] = perFile.map { r =>
      normalize(r.getAs[String]("__file")) -> r.getAs[Long]("__rows")
    }.toMap
    val blooms: Map[String, Map[String, String]] =
      if (bloomCols.isEmpty) Map.empty
      else buildBlooms(spark, table, newPaths, bloomCols, rowsByFile, bloomFpp)

    // committed vector index (r17): while the sticky pq props are in
    // force, every commit's NEW files encode under the table's frozen
    // model — the S13 re-index rule for vectors, so appends/compaction
    // rewrites/merge outputs stay searchable with zero extra calls.
    // One codes job over the new files (per-row output can't ride the
    // per-file stats aggregate); cost O(new data), like the bloom build.
    val pqRef: Option[String] = VectorIndex.encodeForCommit(
      spark, head.map(_.props).getOrElse(Map.empty),
      schema, newPaths, pqIndexDir(table))

    val newFiles = perFile.map { row =>
      val path = normalize(row.getAs[String]("__file"))
      val stats = schema.fields.flatMap { f =>
        def nulls: Option[Long] =
          Option(row.getAs[Any](s"cnt__${f.name}"))
            .map(c => row.getAs[Long]("__rows") - c.asInstanceOf[Long])
        f.dataType match {
          case _: NumericType | _: TimestampType | _: DateType =>
            val mi = Option(row.getAs[Any](s"minD__${f.name}")).map(_.asInstanceOf[Double])
            val ma = Option(row.getAs[Any](s"maxD__${f.name}")).map(_.asInstanceOf[Double])
            // an all-null column still records its (full) nullCount so
            // readers can prove the file holds no usable values
            if (mi.isDefined || nulls.exists(_ > 0))
              Some(f.name -> ColStats(minD = mi, maxD = ma, nullCount = nulls))
            else None
          case _: StringType =>
            val mi = Option(row.getAs[String](s"minS__${f.name}"))
            val ma = Option(row.getAs[String](s"maxS__${f.name}"))
            if (mi.isDefined || nulls.exists(_ > 0))
              Some(f.name -> ColStats(minS = mi, maxS = ma, nullCount = nulls))
            else None
          case _ => None
        }
      }.toMap
      // bytes win over the path: a k=v directory segment spelling a
      // column whose BYTES in this file carry actual values is a
      // coincidence of layout (a hand-landed file under a col=value
      // dir), not a partition encoding — recording it would silently
      // shadow the file's data with the directory literal on every
      // read. A partition-aware writer always strips the column from
      // the bytes, so "file has non-null byte values" exactly
      // separates the two; an absent or all-null byte column keeps the
      // hive semantics (the path value IS the column).
      def bytesCarry(c: String): Boolean =
        schema.fieldNames.contains(c) &&
          Option(row.getAs[Any](s"cnt__$c")).exists(_.asInstanceOf[Long] > 0L)
      FileMeta(
        path = path,
        rowCount = row.getAs[Long]("__rows"),
        sizeBytes = fileSizes.getOrElse(path, 0L),
        stats = stats,
        blooms = blooms.getOrElse(path, Map.empty),
        partitionValues = SnapshotCatalog.partitionValuesOf(path).filter {
          case (k, _) => !bytesCarry(k)
        },
        sketches = sketchRefs.getOrElse(path, Map.empty),
        pqCodes = pqRef)
    }.toSeq

    publish(table) { prev =>
      // additive evolution (the Iceberg model): the table schema is the
      // union of history — prior field order kept, new columns appended,
      // and a narrow append into a WIDENED column keeps the wide type
      // while the new files record their stored narrow type (the scan
      // casts them up, exactly like widenColumn-era files)
      val merged0 = prev.map(p => SnapshotCatalog.mergeSchemas(p.schema, schema))
        .getOrElse(schema)
      // a DECLARED schema (CREATE TABLE with contracts) overlays what the
      // parquet footers can't carry: nullability and column defaults —
      // the footer read always comes back nullable with empty metadata
      val merged = declaredSchema.map(decl => StructType(merged0.fields.map(f =>
        decl.fields.find(_.name == f.name)
          .map(d => f.copy(nullable = d.nullable, metadata = d.metadata))
          .getOrElse(f)))).getOrElse(merged0)
      val narrowed: Map[String, String] = schema.fields.flatMap { nf =>
        merged.fields.find(_.name == nf.name) match {
          case Some(mf) if SnapshotCatalog.canWiden(nf.dataType, mf.dataType) =>
            Some(nf.name -> nf.dataType.catalogString)
          case _ => None
        }
      }.toMap
      val stamped =
        if (narrowed.isEmpty) newFiles
        else newFiles.map(f => f.copy(physTypes = f.physTypes ++ narrowed))
      // columns ABSENT from the appended frame read their write-default
      // (stamped per file, like the ADD-time initial-default) — the
      // additive-evolution null fill only when no default is in force
      val absentDefaults: Map[String, String] = merged.fields.toSeq
        .filterNot(f => schema.fieldNames.contains(f.name))
        .flatMap(f => SnapshotCatalog.writeDefaultOf(f)
          .filter(_ != "NULL").map(f.name -> _)).toMap
      val defaulted =
        if (absentDefaults.isEmpty) stamped
        else stamped.map(f => f.copy(defaults = f.defaults ++ absentDefaults))
      // NOT NULL enforcement, free from the stats pass above: a new file
      // carrying a null in a NOT NULL column (or omitting the column
      // with no non-null default) aborts the commit before publish —
      // the written files never enter a snapshot and fall to orphan GC
      SnapshotCatalog.enforceNotNull(
        table, merged, schema.fieldNames.toSeq, absentDefaults, defaulted)
      change(prev, defaulted, Some(merged.json))
    }
  }

  /** Reconciliation guard for one commit attempt: no-op
    * when the attempt's parent IS the basis (no concurrency); otherwise
    * enforce the [[CommitIntent]] contract against the actual parent.
    * If the basis snapshot was itself concurrently expired, its file /
    * delete-file sets resolve empty and every check degrades
    * CONSERVATIVELY (more conflicts, never fewer) — an expire racing a
    * rewrite is the rare case, and a spurious abort is recoverable
    * where a lost update is not. */
  private def validateIntent(
      table: String, it: CommitIntent, prevOpt: Option[SnapshotMeta]): Unit = {
    val prevId = prevOpt.map(_.snapshotId)
    if (prevId == it.basisSnapshotId) return
    def basisStr = it.basisSnapshotId.map(_.toString).getOrElse("<empty table>")
    if (it.strictBasis)
      throw new CommitConflictException(
        s"$table: head moved from basis $basisStr to ${prevId.map(_.toString).getOrElse("<none>")} — " +
          "this operation requires an unchanged head; re-plan against the current snapshot")
    val prev = prevOpt.getOrElse(throw new CommitConflictException(
      s"$table: planned against snapshot $basisStr but the table now has no snapshots"))
    val prevPaths = prev.files.map(_.path).toSet
    val removed = it.removedPaths.map(normalize)
    val gone = removed.filterNot(prevPaths.contains)
    if (gone.nonEmpty)
      throw new CommitConflictException(
        s"$table: files this commit rewrites were concurrently removed: " +
          gone.take(3).mkString(", ") +
          (if (gone.size > 3) s" (+${gone.size - 3} more)" else ""))
    val basisSnap = it.basisSnapshotId.flatMap(snapshotById(table, _))
    val removedSet = removed.toSet
    if (removedSet.nonEmpty) {
      val basisDel = basisSnap.map(_.deleteFiles.map(_.path).toSet).getOrElse(Set.empty)
      val masked = prev.deleteFiles
        .filterNot(d => basisDel.contains(d.path))
        .filter(_.dataPaths.exists(removedSet.contains))
      if (masked.nonEmpty)
        throw new CommitConflictException(
          s"$table: concurrent row-level delete file(s) ${masked.map(_.path).take(2).mkString(", ")} " +
            "mask rows in files this commit rewrites — re-applying outputs computed from " +
            "basis-visible rows would resurrect the masked rows")
    }
    val staleMask = it.addDeleteFiles.flatMap(_.dataPaths).distinct.filterNot(prevPaths.contains)
    if (staleMask.nonEmpty)
      throw new CommitConflictException(
        s"$table: this commit's delete file references data files concurrently rewritten: " +
          staleMask.take(3).mkString(", "))
    val basisFiles = basisSnap.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    val badAdds = prev.files.filterNot(f => basisFiles.contains(f.path)).filter(it.conflictOnAdded)
    if (badAdds.nonEmpty)
      throw new CommitConflictException(
        s"$table: concurrently added file(s) conflict with this commit's scope: " +
          badAdds.map(_.path).take(3).mkString(", "))
  }

  /** One bloom per (file, column), built in ONE Spark job for the whole
    * commit: a single scan fans each row out to (file, column, value)
    * entries, then one shuffle groups by (file, column) into a
    * [[BloomColumnAgg]]. A 100k-file bloom-enabled commit is one job +
    * one shuffle — never 100k sequential driver round-trips. Values are
    * indexed as strings (`putString`), matching the read side's
    * `mightContainString` in [[SnapshotCatalog.fileMatches]] — blooms
    * are string-equality pruning indexes.
    *
    * Bloom bytes land in SIDECAR files under `<table>/blooms/`, one per
    * (file, column); the manifest stores only the sidecar path. Inlining
    * them base64 made a 1k-file 2-column commit a multi-GB manifest JSON
    * parsed on every read — the Iceberg analogue is puffin/stats files
    * referenced from manifests, not embedded in them. */
  private def buildBlooms(
      spark: SparkSession,
      table: String,
      paths: Seq[String],
      columns: Seq[String],
      rowsByFile: Map[String, Long],
      fpp: Double): Map[String, Map[String, String]] = {
    val df = spark.read.parquet(paths: _*)
    val present = columns.filter(df.columns.contains)
    if (present.isEmpty) return Map.empty
    buildBloomsCore(spark, table,
      df.withColumn("__f", col("_metadata.file_path")), "__f",
      present, rowsByFile, fpp)
  }

  /** Executor-side bloom-sidecar build over any frame carrying a
    * file-path column — shared by the commit path (raw new files) and
    * the index backfill (logical scan of old eras). */
  private def buildBloomsCore(
      spark: SparkSession,
      table: String,
      df: org.apache.spark.sql.DataFrame,
      fileCol: String,
      present: Seq[String],
      rowsByFile: Map[String, Long],
      fpp: Double): Map[String, Map[String, String]] = {
    import spark.implicits._
    val entries = present.map(c => struct(lit(c).as("c"), col(c).cast("string").as("v")))
    val flat = df
      .select(col(fileCol).as("f"), explode(array(entries: _*)).as("e"))
      .select(col("f"), col("e.c").as("c"), col("e.v").as("v"))
      .as[(String, String, String)]
    val agg = new BloomColumnAgg(rowsByFile, fpp)
    val bloomDir = tableDir(table).resolve(SnapshotCatalog.BloomDir)
    Files.createDirectories(bloomDir)
    // sidecars are written EXECUTOR-side, on the reduce task that built
    // each bloom; only the path strings (KBs for a 100k-file commit)
    // ever reach the driver. Collecting the serialized blooms instead
    // would push O(n_files × bloom_size) — ~100 GB for a 100k-file
    // bulk load with row-count-sized blooms — through driver memory.
    // A retried/speculative task leaves at most an unreferenced UUID
    // sidecar, which vacuumSidecars reclaims.
    val bloomDirStr = bloomDir.toAbsolutePath.toString
    flat.groupByKey(t => (t._1, t._2)).agg(agg.toColumn.name("bloom"))
      .map { case ((file, c), bytes) =>
        val sidecar = Paths.get(bloomDirStr,
          s"bloom-${java.util.UUID.randomUUID().toString.take(12)}-$c.bin")
        Files.write(sidecar, bytes)
        (file, c, sidecar.toAbsolutePath.toString)
      }.collect()
      .groupBy { case (file, _, _) => normalize(file) }
      .map { case (file, rows) =>
        file -> rows.map { case (_, c, sidecar) => c -> sidecar }.toMap
      }
  }

  /** Collect `perFile`, each `sk__<col>` sketch column of `cols`
    * rewritten to the path of an `hll-<uuid>-<col>.bin` sidecar under
    * the table's sketch dir. The sidecars are written EXECUTOR-side, so
    * the driver receives path strings, never serialized sketches — the
    * bloom build's scale rule. A retried task leaves at most an
    * unreferenced sidecar, which [[vacuumSidecars]] reclaims. Shared by
    * the commit path and the [[indexColumns]] backfill. */
  private def collectSketchSidecars(
      table: String, perFile: DataFrame, cols: Seq[String]): Array[Row] = {
    val dir = tableDir(table).resolve(SnapshotCatalog.SketchDir)
    Files.createDirectories(dir)
    val dirStr = dir.toAbsolutePath.toString
    val outSchema = StructType(perFile.schema.map(f =>
      if (f.name.startsWith("sk__")) f.copy(dataType = StringType) else f))
    val skIdx = cols.map(c => perFile.schema.fieldIndex(s"sk__$c") -> c)
    perFile.map { row =>
      val vals = row.toSeq.toArray
      skIdx.foreach { case (i, c) =>
        vals(i) = Option(row.getAs[Array[Byte]](i)).map { bytes =>
          val sidecar = Paths.get(dirStr,
            s"hll-${java.util.UUID.randomUUID().toString.take(12)}-$c.bin")
          Files.write(sidecar, bytes)
          sidecar.toAbsolutePath.toString
        }.orNull
      }
      Row.fromSeq(vals.toIndexedSeq)
    }(org.apache.spark.sql.Encoders.row(outSchema)).collect()
  }

  /** Per-file sketch refs (file → column → sidecar path) of rows that
    * [[collectSketchSidecars]] returned, keyed by `fileCol`. */
  private def sketchRefsOf(rows: Array[Row], fileCol: String,
      cols: Seq[String]): Map[String, Map[String, String]] =
    rows.map { row =>
      normalize(row.getAs[String](fileCol)) ->
        cols.flatMap(c => Option(row.getAs[String](s"sk__$c")).map(c -> _)).toMap
    }.toMap

  /** Enable index maintenance on columns of a LIVE table — the Delta
    * `CREATE BLOOMFILTER INDEX` surface generalized to both index
    * kinds: merges the columns into the sticky bloom/sketch props
    * (every future commit keeps indexing them) and BACKFILLS existing
    * files that lack an entry, in one metadata commit. The backfill
    * scans ONLY the missing files, through the logical-era scan
    * (renamed/widened files index under their current names), and
    * sidecars are written executor-side like the commit path — the
    * driver sees path strings, never serialized filters. The file set
    * is unchanged, so CDC and incremental readers see nothing; the
    * commit is labeled [[SnapshotCatalog.OpIndex]]. Re-running
    * converges (files already indexed are skipped). */
  def indexColumns(
      spark: SparkSession,
      table: String,
      bloomColumns: Seq[String] = Nil,
      sketchColumns: Seq[String] = Nil,
      bloomFpp: Double = 0.03): SnapshotMeta = {
    require(bloomColumns.nonEmpty || sketchColumns.nonEmpty,
      s"indexColumns on $table: pass at least one column")
    val fields0 = resolveSnapshot(table).schema.fieldNames.toSet
    (bloomColumns ++ sketchColumns).foreach(c =>
      require(fields0.contains(c), s"no column $c on $table"))

    // Backfill-until-converged: a file committed concurrently between
    // the scan below and the publish carries no index entry yet — the
    // loop re-scans ONLY the still-missing files and converges (each
    // round's entries stick; re-running is idempotent). A file that can
    // never yield an entry (0 rows → no aggregate row) stops the loop
    // via the no-progress guard instead of spinning.
    var last: SnapshotMeta = null
    var prevMissing = Int.MaxValue
    var done = false
    while (!done) {
      val current = currentSnapshot(table).getOrElse(throw new IllegalStateException(
        s"table $table vanished during index build"))
      val rowsByFile = current.files.map(f => f.path -> f.rowCount).toMap

      // 0-row files can never yield an aggregate row, hence never an
      // entry — excluding them keeps the no-progress guard from paying
      // one extra identical commit before tripping
      val indexable = current.files.filter(_.rowCount > 0)
      val needBloomPaths = indexable
        .filter(f => bloomColumns.exists(c => !f.blooms.contains(c))).map(_.path)
      val bloomRefs: Map[String, Map[String, String]] =
        if (needBloomPaths.isEmpty) Map.empty
        else {
          val sub = StructType(current.schema.fields.filter(f => bloomColumns.contains(f.name)))
          buildBloomsCore(spark, table,
            readLogical(spark, sub, current, needBloomPaths, withLineage = true),
            "_file", bloomColumns, rowsByFile, bloomFpp)
        }

      val needSketchPaths = indexable
        .filter(f => sketchColumns.exists(c => !f.sketches.contains(c))).map(_.path)

      // Converged with nothing to do AND the sticky props already in
      // force: return without publishing — an idempotent re-run must not
      // burn a snapshot id on an identical commit.
      def stickyHas(prop: String, cols: Seq[String]): Boolean =
        cols.isEmpty || current.props.get(prop)
          .exists(p => cols.forall(p.split(",").contains))
      if (needBloomPaths.isEmpty && needSketchPaths.isEmpty &&
          stickyHas(SnapshotCatalog.BloomColumnsProp, bloomColumns) &&
          stickyHas(SnapshotCatalog.SketchColumnsProp, sketchColumns))
        return current
      val sketchRefs: Map[String, Map[String, String]] =
        if (needSketchPaths.isEmpty) Map.empty
        else {
          val sub = StructType(current.schema.fields.filter(f => sketchColumns.contains(f.name)))
          val base = readLogical(spark, sub, current, needSketchPaths, withLineage = true)
          val skAggs = sketchColumns.map(c => hll_sketch_agg(col(c).cast("string")).as(s"sk__$c"))
          val per = base.groupBy(col("_file")).agg(skAggs.head, skAggs.tail: _*)
          sketchRefsOf(collectSketchSidecars(table, per, sketchColumns), "_file", sketchColumns)
        }

      last = publishOn(table) { prev =>
        // sticky merge recomputed from THIS attempt's actual parent —
        // a concurrent indexColumns on OTHER columns keeps its sticky
        // set instead of losing a last-writer-wins race on the props
        def merged(prop: String, add: Seq[String]): Seq[String] =
          (prev.props.get(prop).map(_.split(",").toSeq.filter(_.nonEmpty))
            .getOrElse(Nil) ++ add).distinct
        SnapshotChange(
          files = Some(prev.files.map(f => f.copy(
            blooms = f.blooms ++ bloomRefs.getOrElse(f.path, Map.empty),
            sketches = f.sketches ++ sketchRefs.getOrElse(f.path, Map.empty)))),
          props = Map(
            SnapshotCatalog.BloomColumnsProp ->
              merged(SnapshotCatalog.BloomColumnsProp, bloomColumns).mkString(","),
            SnapshotCatalog.SketchColumnsProp ->
              merged(SnapshotCatalog.SketchColumnsProp, sketchColumns).mkString(","))
            .filter(_._2.nonEmpty) +
            (SnapshotCatalog.OperationProp -> SnapshotCatalog.OpIndex))
      }
      val missing = last.files.count(f => f.rowCount > 0 &&
        (bloomColumns.exists(c => !f.blooms.contains(c)) ||
          sketchColumns.exists(c => !f.sketches.contains(c))))
      if (missing == 0 || missing >= prevMissing) done = true
      else prevMissing = missing
    }
    last
  }

  /** Disable index maintenance on columns and drop their per-file
    * entries — the inverse of [[indexColumns]], for when the index's
    * write-amplification outweighs its pruning (e.g. a high-cardinality
    * column that stopped being filtered on). One metadata commit;
    * orphaned sidecar files fall to [[vacuumSidecars]]. */
  def dropIndexColumns(
      spark: SparkSession,
      table: String,
      columns: Seq[String],
      dropBlooms: Boolean = true,
      dropSketches: Boolean = true): SnapshotMeta = {
    require(columns.nonEmpty, s"dropIndexColumns on $table: pass at least one column")
    require(dropBlooms || dropSketches,
      s"dropIndexColumns on $table: nothing to drop")
    publishOn(table) { prev =>
      // the index-column lists left after the drop; an emptied one clears
      val left = Seq(SnapshotCatalog.BloomColumnsProp -> dropBlooms,
          SnapshotCatalog.SketchColumnsProp -> dropSketches).collect { case (p, true) =>
        p -> prev.props.get(p).toSeq.flatMap(_.split(","))
          .filter(c => c.nonEmpty && !columns.contains(c)).mkString(",")
      }
      SnapshotChange(
        files = Some(prev.files.map(f => f.copy(
          blooms = if (dropBlooms) f.blooms -- columns else f.blooms,
          sketches = if (dropSketches) f.sketches -- columns else f.sketches))),
        props = left.filter(_._2.nonEmpty).toMap +
          (SnapshotCatalog.OperationProp -> SnapshotCatalog.OpIndex),
        unset = left.filter(_._2.isEmpty).map(_._1))
    }
  }

  // ---- snapshot log ----------------------------------------------------

  /** Optimistic commit protocol (mirrors Iceberg's): build the snapshot
    * against the observed current id, attempt an atomic fail-if-exists
    * publish, and on id collision (a concurrent committer won) rebuild
    * against the new current and retry. A crash mid-write never leaves a
    * partial snap-*.json — content lands in a temp file first and
    * publishes via hard-link (atomic, fails if the id is taken).
    *
    * `change` states only what the commit changes on the attempt's
    * parent ([[SnapshotChange]]); [[snapshotOf]] builds the snapshot.
    * Table props ([[SnapshotCatalog.TableProps]]) carry from that same
    * parent unless the change sets or clears them, so a prop set by a
    * commit that wins a race is never reverted by the retry. */
  private[meta] def publish(table: String)(
      change: Option[SnapshotMeta] => SnapshotChange): SnapshotMeta = {
    var attempts = 0
    while (attempts < 100) {
      val prev = currentSnapshot(table)
      // name arbitration holds at the Scala-API surface too, not just
      // SQL CREATE: a FIRST commit under a name a stored view holds
      // would make viewPlan silently prefer the table
      if (prev.isEmpty && viewMeta(table).isDefined)
        throw new IllegalArgumentException(
          s"a view named $table exists in this catalog; a table cannot shadow it")
      val snap = snapshotOf(table, prev, change(prev))
      if (write(table, snap)) return snap
      attempts += 1
    }
    throw new IllegalStateException(s"snapshot commit contention on $table: gave up after $attempts attempts")
  }

  /** [[publish]] of a change that needs an existing parent. */
  private[meta] def publishOn(table: String)(change: SnapshotMeta => SnapshotChange): SnapshotMeta =
    publish(table)(prev => change(prev.getOrElse(
      throw new IllegalArgumentException(s"No snapshots for table $table"))))

  /** The one place a snapshot is made: id = parent + 1 (or 1), stamped with
    * `clock()` after the parent is resolved, lineage to the parent, and
    * the parent's table props less `unset`, plus `props`. */
  private def snapshotOf(
      table: String, prev: Option[SnapshotMeta], c: SnapshotChange): SnapshotMeta = {
    def parent = prev.getOrElse(throw new IllegalArgumentException(s"No snapshots for table $table"))
    val carried = prev.map(_.props.filter { case (k, _) =>
      SnapshotCatalog.TableProps.contains(k) }).getOrElse(Map.empty)
    SnapshotMeta(
      snapshotId = prev.map(_.snapshotId + 1).getOrElse(1L),
      timestampMs = clock(),
      parentId = prev.map(_.snapshotId),
      schemaJson = c.schemaJson.getOrElse(parent.schemaJson),
      files = c.files.getOrElse(parent.files),
      props = carried -- c.unset ++ c.props,
      deleteFiles = c.deleteFiles.getOrElse(parent.deleteFiles))
  }

  /** Atomically publish one snapshot file; false iff the id is taken.
    * On success the `current` pointer advances and the parsed manifest
    * is pre-seeded into the memo cache (its file is now immutable). */
  private def write(table: String, snap: SnapshotMeta): Boolean = {
    val dir = tableDir(table)
    Files.createDirectories(dir)
    val target = snapPath(table, snap.snapshotId)
    val tmp = Files.createTempFile(dir, ".snap-", ".tmp")
    val ok =
      try {
        Files.write(tmp, Serialization.writePretty(snap).getBytes(StandardCharsets.UTF_8))
        try {
          Files.createLink(target, tmp) // atomic + CREATE_NEW on POSIX
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: UnsupportedOperationException =>
            // filesystem without hard links: atomic move, best-effort
            // existence check for collision detection
            if (Files.exists(target)) false
            else {
              Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              true
            }
        }
      } finally {
        Files.deleteIfExists(tmp)
        ()
      }
    if (ok) {
      cachePut(target, snap)
      writePointer(table, snap.snapshotId)
    }
    ok
  }

  // ---- manifest resolution (the streaming-scale path) ------------------
  // Snapshot files are immutable once published (write-once hard-link
  // publish), so parsed manifests memoize by path with no invalidation,
  // and a `current` pointer file makes current-snapshot resolution O(1)
  // file probes instead of an O(all-snapshots) list + parse — the moral
  // equivalent of Iceberg's current-metadata pointer, which is what the
  // reference leans on via its pyiceberg table cache (metadata.py:66).
  // Without this, a streaming table (one commit per micro-batch → 10k+
  // snapshots) pays 10k driver-side JSON parses per read and commits
  // race quadratically through the publish retry loop.

  /** Manifest JSON parses actually performed — the spec hook proving
    * reads stay O(1) as the snapshot count grows. */
  private[meta] val manifestParses = new java.util.concurrent.atomic.AtomicLong(0)

  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, SnapshotMeta]()
  /** Bound on memoized manifests; sidecar blooms keep entries small
    * (stats only), so 8k entries is a few hundred MB worst-case. */
  private val ManifestCacheCap = 8192

  private def cachePut(p: Path, snap: SnapshotMeta): Unit = {
    if (manifestCache.size >= ManifestCacheCap) manifestCache.clear()
    manifestCache.put(p.toAbsolutePath.toString, snap)
    ()
  }

  private def snapPath(table: String, id: Long): Path =
    tableDir(table).resolve(f"snap-$id%06d.json")

  private def parseSnap(p: Path): SnapshotMeta = {
    val hit = manifestCache.get(p.toAbsolutePath.toString)
    if (hit != null) hit
    else {
      manifestParses.incrementAndGet()
      val snap = JsonMethods.parse(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).extract[SnapshotMeta]
      cachePut(p, snap)
      snap
    }
  }

  /** Reference: metadata.py:324 `get_cache_stats`. */
  def metaCacheStats: Map[String, Long] = Map(
    "cached_manifests" -> manifestCache.size.toLong,
    "manifest_parses" -> manifestParses.get())

  private def pointerPath(table: String): Path = tableDir(table).resolve("current")

  /** Last-writer-wins pointer update; a racing slower committer leaving
    * it stale is healed by the forward probe in [[currentSnapshot]]. */
  private def writePointer(table: String, id: Long): Unit =
    try replaceAtomically(pointerPath(table), id.toString)
    catch { case _: Exception => () } // the pointer is an optimization only

  /** All snapshots, oldest first (reference: metadata.py:222
    * `list_snapshots`). One directory listing; parses only manifests
    * not already memoized. */
  /** Tables this catalog manages (reference: the pyiceberg catalog's
    * `list_tables` surface): every root subdirectory holding at least
    * one snapshot manifest. Driver-side directory listing — O(tables). */
  def tables(): Seq[String] = {
    val rootPath = Paths.get(root)
    if (!Files.isDirectory(rootPath)) return Nil
    val stream = Files.list(rootPath)
    val dirs = try stream.iterator().asScala.filter(Files.isDirectory(_)).toList
      finally stream.close()
    dirs.map(_.getFileName.toString)
      .filter(t => scala.util.Try(currentSnapshot(t)).toOption.flatten.nonEmpty)
      .sorted
  }

  // ---- SQL views (versioned definitions — Iceberg view spec) -----------
  // A view is STORED SQL, not data: `<root>/views/<name>.json` holds the
  // full version history (Iceberg's view-version list), reads expand the
  // CURRENT version's text into the query plan at resolution time, and
  // `CREATE OR REPLACE` / `ALTER VIEW AS` append a version rather than
  // overwrite — the definition history stays auditable the same way
  // table history does. Writes are atomic tmp+move; view DDL is
  // last-writer-wins (a racing REPLACE pair both land, one wins the
  // pointer — same as Iceberg's view metadata swap).

  private def viewsDir: Path = Paths.get(root, "views")
  // EVERY read/delete path re-validates the name, not just createView:
  // the store resolves `<name>.json` under viewsDir, and a name carrying
  // '/' or '..' (reachable through SQL backquoted identifiers) must never
  // address a path outside it — DROP VIEW graft.`../t/snap-…` would
  // otherwise delete another table's manifest.
  private def validViewName(name: String): Boolean =
    name.matches("[A-Za-z_][A-Za-z0-9_]*")
  private def viewPath(name: String): Path = {
    require(validViewName(name), s"invalid view name: $name")
    viewsDir.resolve(s"$name.json")
  }

  /** All stored view names, sorted. */
  def views(): Seq[String] = {
    if (!Files.isDirectory(viewsDir)) return Nil
    val stream = Files.list(viewsDir)
    val files = try stream.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".json")).toList
      finally stream.close()
    files.map(_.getFileName.toString.stripSuffix(".json")).sorted
  }

  def viewMeta(name: String): Option[ViewMeta] = {
    // resolution probes this with arbitrary relation names — an invalid
    // name is simply "not a view", never a path under viewsDir
    if (!validViewName(name)) return None
    val p = viewPath(name)
    if (!Files.exists(p)) None
    else scala.util.Try(JsonMethods.parse(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).extract[ViewMeta]).toOption
  }

  /** The CURRENT version's SQL text, if the view exists. */
  def viewSql(name: String): Option[String] =
    viewMeta(name).flatMap(m =>
      m.versions.find(_.versionId == m.currentVersionId).map(_.sql))

  /** A HISTORICAL version's SQL text (Iceberg view spec: the version
    * list is the auditable history): by version id, or the version in
    * force at a timestamp. Data still reads CURRENT table state — only
    * the view DEFINITION time-travels (a view has no data of its own). */
  def viewSqlAt(name: String, versionId: Option[Long] = None,
      asOfMs: Option[Long] = None): Option[String] =
    viewMeta(name).flatMap { m =>
      (versionId, asOfMs) match {
        case (Some(id), _) => m.versions.find(_.versionId == id).map(_.sql)
        case (_, Some(ts)) =>
          m.versions.filter(_.timestampMs <= ts).sortBy(_.versionId).lastOption.map(_.sql)
        case _ => m.versions.find(_.versionId == m.currentVersionId).map(_.sql)
      }
    }

  /** Relation names (bare or `graft.`-qualified last part) referenced by
    * a view body — the cycle-check input. Parse-level only: names that
    * resolve to tables/temp views are fine either way, we only need the
    * VIEW-to-view edges. */
  private def referencedNames(sql: String): Seq[String] =
    referencedNamesIn(
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parsePlan(sql))

  private def referencedNamesIn(
      body: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] = {
    val names = scala.collection.mutable.ListBuffer[String]()
    def walk(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
      plan.foreach { node =>
        node match {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
            names += u.multipartIdentifier.last
          case _ =>
        }
        // subquery plans hang off EXPRESSIONS (EXISTS / IN / scalar
        // subqueries), which TreeNode.foreach does not descend into
        node.expressions.foreach(_.foreach {
          case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
            walk(sq.plan)
          case _ =>
        })
      }
    walk(body)
    names.distinct.toList
  }

  // Parsed view bodies, memoized by the SQL TEXT itself: dependency
  // arbitration parses every stored view per DDL — noise at O(100)
  // views, O(views) parser invocations per DDL at thousands. Text-keyed
  // entries can NEVER go stale — equal text parses to an equal plan —
  // including across catalog instances sharing one root (a DROP +
  // recreate through another instance restarts version ids at 1 with
  // different text; a version-id key would serve the OLD body there).
  // None = unparseable (counts as dependent, conservative). Bounded
  // like the manifest memo.
  private val viewBodyCache = new java.util.concurrent.ConcurrentHashMap[
    String, Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]()

  private def parsedCurrentBody(v: String):
      Option[Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    viewMeta(v).map { m =>
      m.versions.find(_.versionId == m.currentVersionId) match {
        case None => None // missing current version: conservatively dependent
        case Some(ver) =>
          val hit = viewBodyCache.get(ver.sql)
          if (hit != null) hit
          else {
            if (viewBodyCache.size >= 4096) viewBodyCache.clear()
            val parsed =
              try Some(org.apache.spark.sql.catalyst.parser.CatalystSqlParser
                .parsePlan(ver.sql))
              catch { case _: Exception => None }
            viewBodyCache.put(ver.sql, parsed)
            parsed
          }
      }
    }

  /** Stored views whose CURRENT definition references `table` — and,
    * when `column` is set, whose body also touches that column (an
    * attribute with the name anywhere in the body, or a star, which may
    * expand to it). Direct dependents only: a stacked view breaks
    * through its parent, which is the first name a user must deal with.
    * An unparseable body counts as dependent (conservative). */
  def dependentViews(table: String, column: Option[String] = None): Seq[String] =
    views().filter { v =>
      parsedCurrentBody(v).exists {
        case None => true // unparseable body: conservatively dependent
        case Some(plan) =>
          referencedNamesIn(plan).exists(_.equalsIgnoreCase(table)) &&
            column.forall(c => referencesColumnIn(plan, c))
      }
    }

  /** Parse-level check: does the body mention an attribute whose last
    * name part is `column`, or a star (which may expand to it)? */
  private def referencesColumnIn(
      body: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      column: String): Boolean = {
    var hit = false
    def walk(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
      plan.foreach { node =>
        node.expressions.foreach(_.foreach {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if a.nameParts.last.equalsIgnoreCase(column) => hit = true
          case _: org.apache.spark.sql.catalyst.analysis.UnresolvedStar => hit = true
          case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
            walk(sq.plan)
          case _ =>
        })
      }
    walk(body)
    hit
  }

  /** Refuse a DDL operation while stored views depend on it — the
    * Postgres discipline (refuse, name the dependents) over Hive's
    * (dangle, fail later deep in analysis with an unresolved error). */
  private def requireNoDependentViews(table: String, column: Option[String],
      op: String): Unit = {
    val deps = dependentViews(table, column)
    require(deps.isEmpty,
      s"cannot $op: view(s) ${deps.mkString(", ")} depend on it; " +
        "drop or redefine the view(s) first")
  }

  /** Create (or replace) a view. Refuses: invalid names, collision with
    * a TABLE (a name must mean one thing), unparseable SQL, and any
    * definition whose view-reference graph reaches back to `name` — the
    * acyclicity invariant that makes resolution-time expansion
    * terminate. REPLACE appends a new version (history kept);
    * `ifNotExists` makes an existing view a quiet no-op. */
  def createView(name: String, sql: String, replace: Boolean = false,
      ifNotExists: Boolean = false): ViewMeta = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid view name: $name")
    require(!tables().contains(name),
      s"a table named $name exists in this catalog; a view cannot shadow it")
    val existing = viewMeta(name)
    if (existing.isDefined && !replace) {
      if (ifNotExists) return existing.get
      throw new IllegalArgumentException(
        s"view $name already exists (use CREATE OR REPLACE VIEW)")
    }
    // cycle check over the stored-view graph WITH this definition in
    // place of name's: DFS from the new body's references
    def reaches(from: String, seen: Set[String]): Boolean = {
      if (from == name) return true
      if (seen.contains(from)) return false
      viewSql(from) match {
        case None => false // a table or unknown name: not a view edge
        case Some(s) => referencedNames(s).exists(reaches(_, seen + from))
      }
    }
    val refs = referencedNames(sql) // also validates the SQL parses
    refs.foreach { r =>
      if (reaches(r, Set.empty)) throw new IllegalArgumentException(
        s"view $name would be self-referential through $r; view graphs must be acyclic")
    }
    val nextId = existing.map(_.currentVersionId + 1).getOrElse(1L)
    val meta = ViewMeta(name, nextId,
      existing.map(_.versions).getOrElse(Nil) :+ ViewVersion(nextId, clock(), sql))
    Files.createDirectories(viewsDir)
    replaceAtomically(viewPath(name), Serialization.writePretty(meta))
    meta
  }

  /** Drop a view (its whole version history). Refuses while other
    * stored views reference it — same discipline as table DDL. */
  def dropView(name: String, ifExists: Boolean = false): Unit = {
    if (viewMeta(name).isDefined)
      requireNoDependentViews(name, None, s"drop view $name")
    val existed = Files.deleteIfExists(viewPath(name))
    // no memo invalidation needed: viewBodyCache is keyed by the SQL
    // text itself, which a later CREATE under this name cannot alias
    if (!existed && !ifExists)
      throw new IllegalArgumentException(s"no view $name in this catalog")
  }

  /** Refuse-and-name when a materialized aggregate view's stored
    * definition ([[SnapshotCatalog.MvSrcProp]]) feeds from `table` —
    * the same Postgres discipline stored views get: a dropped or
    * renamed source would strand the view's refresh. O(tables)
    * memoized manifest reads; maintenance-op cost. */
  private def requireNoDependentMvs(table: String, action: String): Unit = {
    val deps = tables().filter(t => t != table &&
      currentSnapshot(t).exists(_.props.get(SnapshotCatalog.MvSrcProp).contains(table)))
    if (deps.nonEmpty) throw new UnsupportedOperationException(
      s"cannot $action: materialized views feed from it: " +
        s"${deps.sorted.mkString(", ")} (drop or rebuild them first)")
  }

  /** Drop a table or a branch ref: its manifests, current pointer,
    * tags, staged entries and branch metadata are deleted, the memoized
    * parses purged and the directories left empty removed. Payload
    * ([[SnapshotCatalog.PayloadDirs]] of the table and of every branch
    * directory) is never touched: manifests address those files by
    * path, and a zero-copy clone or a branch may still read them. Bytes
    * go only through the liveness-checked [[purgeTable]] and the
    * vacuums — vacuum BEFORE dropping if they should go, because
    * liveness information dies with the metadata. False when no
    * metadata is left to drop. Maintenance op: don't race it with
    * in-flight commits on the same table. */
  def dropTable(table: String): Boolean = {
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) return false
    requireNoDependentViews(table, None, s"drop table $table")
    requireNoDependentMvs(table, s"drop table $table")
    val spared = payloadDirs(table)
    val stream = Files.walk(dir)
    val all = try stream.iterator().asScala.map(_.toAbsolutePath).toList finally stream.close()
    // a payload dir, anything under one and every ancestor of one stays
    val (kept, doomed) = all.partition(p => spared.exists(s => p.startsWith(s) || s.startsWith(p)))
    doomed.sortBy(-_.getNameCount).foreach(p => Files.deleteIfExists(p))
    pruneEmptyDirs(kept.filter(Files.isDirectory(_)))
    val prefix = dir.toAbsolutePath.toString
    manifestCache.keySet.removeIf(_.startsWith(prefix))
    doomed.nonEmpty
  }

  /** `DROP TABLE ... PURGE`: [[dropTable]], then delete the bytes the
    * dropped histories reference (the Iceberg purge contract), bounded
    * so it is safe among zero-copy clones and branches:
    *   - the candidates are every path the dropped refs' snapshots
    *     reference — main plus every branch of a base table, just the
    *     branch for a branch ref — plus every file under the dropped
    *     ref's [[reclaimDirs]] (failed-write orphans die with the table,
    *     and so do the sidecars a rename left under the old name);
    *   - a candidate another ref still references survives
    *     ([[foreignWalkRefs]] bounds which refs are walked): a clone
    *     lists its source's files verbatim, so purging either side must
    *     spare the other's.
    * The directories the deletions leave holding nothing but Spark's
    * commit bookkeeping ([[dropDeadWriteDirs]]) or nothing at all are
    * removed up to the catalog root, so an unshared table vanishes
    * whole, also under a name it was renamed from. Deletion is
    * best-effort, like a vacuum. */
  def purgeTable(table: String): Unit = {
    val dropped = if (table.contains("/branches/")) Seq(table) else refsOf(table)
    val dirs = reclaimDirs(table)
    val candidates = (dropped.flatMap(r => snapshots(r).flatMap(referencedPaths)) ++
      dirs.flatMap(filesUnder)).distinct
    val foreign = liveSet(foreignWalkRefs(dropped.toSet, table, candidates))
    val doomed = candidates.filterNot(isLive(foreign, _))
    dropTable(table)
    doomed.foreach(p => try deletePayload(p) catch { case _: IOException => false })
    dropDeadWriteDirs(Paths.get(root), doomed)
    pruneEmptyDirs((doomed.flatMap(p => Option(Paths.get(p).getParent)) ++ dirs).distinct)
  }

  /** Foreign refs whose FULL snapshot histories must be consulted before
    * purging `candidates` — the bound that keeps a purge from parsing
    * every other table's 10k-snapshot history on a large catalog. A
    * foreign table can reference a candidate only through file sharing,
    * and the supported sharing verbs (clone, branch) all surface the
    * shared paths in a ref's FIRST (fork-point) or CURRENT snapshot, or
    * place candidates under that table's own directory tree (the
    * dropped table was cloned FROM it). So a table is walked iff any
    * cheap probe hits: tree-prefix containment, or candidate membership
    * in its refs' first/current snapshots (two memoized manifest parses
    * per ref). If any candidate lies OUTSIDE every known table tree
    * (external shared dataDir deployments), attribution is impossible
    * and every ref is walked. Residual, accepted: a ref whose ONLY
    * references to candidates sit in mid-history snapshots while both
    * endpoint probes are clean (hand-committed foreign paths later
    * rewritten away, or an expire-then-rollback lineage dance) is not
    * walked; the clone/branch verbs never produce that shape. */
  private[graft] def foreignWalkRefs(
      droppedRefs: Set[String],
      droppedTable: String,
      candidates: Seq[String]): Seq[String] = {
    val candidateSet = candidates.toSet
    def liveRefsOf(t: String): Seq[String] = refsOf(t).filterNot(droppedRefs.contains)
    val droppedTree = tableDirOf(droppedTable) + "/"
    val trees = tables().filterNot(t => droppedRefs.contains(t) || t == droppedTable)
      .map(t => t -> (tableDirOf(t) + "/"))
    if (candidates.exists(p => !p.startsWith(droppedTree) &&
        !trees.exists { case (_, tr) => p.startsWith(tr) }))
      return trees.flatMap(x => liveRefsOf(x._1))
    def hits(snap: Option[SnapshotMeta]): Boolean =
      snap.exists(referencedPaths(_).exists(candidateSet.contains))
    trees.filter { case (t, tr) =>
      candidates.exists(_.startsWith(tr)) ||
        liveRefsOf(t).exists(r => hits(firstSnapshot(r)) || hits(currentSnapshot(r)))
    }.flatMap(x => liveRefsOf(x._1))
  }

  /** A table and its branch refs. */
  private def refsOf(table: String): Seq[String] =
    table +: branches(table).map(branchRef(table, _))

  /** Every path `snap` references, normalized: data and delete files,
    * bloom and sketch sidecars (legacy inline bloom values are not
    * paths), PQ codes directories and the PQ model. The one reference
    * list the vacuums and the purge read. */
  private def referencedPaths(snap: SnapshotMeta): Iterator[String] =
    (snap.files.iterator.flatMap(f => Iterator(f.path) ++
      (f.blooms.valuesIterator ++ f.sketches.valuesIterator).filter(_.startsWith("/")) ++
      f.pqCodes) ++
      snap.deleteFiles.iterator.map(_.path) ++
      snap.props.get(SnapshotCatalog.PqModelProp)).map(normalize)

  /** Every path any snapshot of `refs` references. */
  private def liveSet(refs: Seq[String]): Set[String] =
    refs.iterator.flatMap(r => snapshots(r).iterator.flatMap(referencedPaths)).toSet

  /** Is `p` live: referenced itself, or under a referenced directory
    * (a PQ codes dir protects every file in it)? */
  private def isLive(live: Set[String], p: String): Boolean =
    Iterator.iterate(Paths.get(normalize(p)))(_.getParent).takeWhile(_ != null)
      .exists(a => live.contains(a.toString))

  /** Delete one payload path; a directory (PQ codes) goes whole. */
  private def deletePayload(p: String): Boolean = {
    val path = Paths.get(p)
    if (Files.isDirectory(path)) SnapshotCatalog.deleteRecursively(path)
    else Files.deleteIfExists(path)
  }

  /** Every regular file under `dir` (none when it is absent). */
  private def filesUnder(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val stream = Files.walk(dir)
      try stream.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.toAbsolutePath.toString).toList
      finally stream.close()
    }

  /** Best-effort removal of the empty directories among `dirs` and
    * their ancestors, deepest first, up to (not including) the catalog
    * root; a non-empty directory stays and ends its climb. */
  private def pruneEmptyDirs(dirs: Seq[Path]): Unit = {
    val rootAbs = Paths.get(root).toAbsolutePath
    dirs.map(_.toAbsolutePath).sortBy(-_.getNameCount).foreach { start =>
      var d = start
      while (d != null && d.startsWith(rootAbs) && d != rootAbs && Files.isDirectory(d) &&
          scala.util.Try(Files.delete(d)).isSuccess)
        d = d.getParent
    }
  }

  /** The payload dirs of `table` and of each of its branch directories,
    * absolute. Branch dirs come from DISK, not [[branches]]: a dropped
    * branch leaves its payload behind with no live snapshot, and a
    * clone taken from it before the drop may still reference those
    * bytes. */
  private def payloadDirs(table: String): Seq[Path] = {
    val dir = tableDir(table)
    val brDir = dir.resolve("branches")
    val onDisk =
      if (!Files.isDirectory(brDir)) Nil
      else {
        val stream = Files.list(brDir)
        try stream.iterator().asScala.filter(Files.isDirectory(_)).toList
        finally stream.close()
      }
    (dir +: onDisk).flatMap(d => SnapshotCatalog.PayloadDirs.map(d.resolve))
      .map(_.toAbsolutePath)
  }

  /** [[payloadDirs]] plus the sidecar dirs of every FORMER table
    * directory `table`'s snapshots still read from: a rename leaves the
    * payload under the old name's directory ([[renameTable]]), which no
    * table claims afterwards. A former directory is found through the
    * files the table still references there, so once none is left
    * (every file rewritten under the new name and the old snapshots
    * expired) its unreferenced bytes fall to nothing. Former data dirs
    * are left out: a data dir outside every table tree may be an
    * external one that other tables share. */
  private def reclaimDirs(table: String): Seq[Path] = {
    val rootAbs = Paths.get(root).toAbsolutePath
    val claimed = tables().map(tableDir(_).toAbsolutePath)
    val former = refsOf(table).iterator
      .flatMap(r => snapshots(r).iterator.flatMap(referencedPaths))
      .flatMap(p => Iterator.iterate(Paths.get(p).getParent)(_.getParent).takeWhile(_ != null)
        .find(a => SnapshotCatalog.PayloadDirs.contains(String.valueOf(a.getFileName)))
        .map(_.getParent))
      .toSet
      .filter(d => d.startsWith(rootAbs) && d != rootAbs && !claimed.exists(d.startsWith))
    payloadDirs(table) ++ former.toSeq.sortBy(_.toString).flatMap(d =>
      SnapshotCatalog.PayloadDirs.filterNot(_ == SnapshotCatalog.DataDir).map(d.resolve))
  }

  /** Rename a table: a METADATA-ONLY move of its manifests, pointer,
    * tags, staged WAP entries and branch metadata into the new name's
    * directory. Payload — data files, bloom/sketch sidecars and the
    * vector index ([[SnapshotCatalog.PayloadDirs]]) — is PATH-ADDRESSED
    * by the manifests (absolute paths), so it STAYS where it is and
    * every snapshot keeps reading verbatim — time travel, branches,
    * CDC eras and zero-copy clones taken from this table all survive
    * unchanged, and a later vacuum under either name still sees the
    * files through the cross-table liveness walk. The sidecar vacuum
    * and the purge of the new name reach the sidecars left under the
    * old name while the table still references a file there
    * ([[reclaimDirs]]); the data vacuum walks only the `dataDir` it is
    * given. Refuses under
    * dependent views (stored view bodies reference the OLD name — the
    * S62 refuse-and-name discipline) and on any name collision.
    * O(metadata) driver-side file copies + deletes, zero data I/O.
    *
    * CRASH-ATOMIC via two markers: the destination carries
    * `.rename-pending` (invisible to reads) while metadata copies in;
    * deleting that marker is the single atomic COMMIT point, after
    * which the source is tombstoned with `.renamed-to` (invisible to
    * reads) while its metadata deletes. A crash at ANY step leaves the
    * old name fully readable (pre-commit) or the new name fully
    * readable (post-commit) — never neither, never a split history —
    * and RE-RUNNING THE SAME RENAME heals either kind of debris.
    * Maintenance op: don't race it with in-flight commits on the same
    * table. */
  def renameTable(table: String, newName: String): Unit = {
    require(newName.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"invalid table name: $newName")
    require(!table.contains("/"),
      s"cannot rename a branch ref: $table (rename the base table)")
    require(newName != table, s"rename $table: the new name is the same")
    val src = tableDir(table)
    val dst = tableDir(newName)
    // resume: a prior attempt crashed AFTER its commit point (source
    // tombstoned toward THIS destination) — finish the deletion phase.
    // A tombstone toward a DIFFERENT name refuses with the heal recipe
    // rather than a bare "no table".
    renameMarker(table, SnapshotCatalog.RenamedToMarker) match {
      case Some(dst0) if dst0 == newName =>
        finishRenameCleanup(src)
        return
      case Some(other) => throw new IllegalStateException(
        s"table $table is mid-rename to $other (crash debris); re-run the " +
          s"rename to $other to finish it, then rename again")
      case None =>
    }
    if (currentSnapshot(table).isEmpty)
      throw new IllegalArgumentException(s"no table $table in this catalog")
    requireNoDependentViews(table, None, s"rename table $table")
    requireNoDependentMvs(table, s"rename table $table")
    require(!tables().contains(newName),
      s"a table named $newName already exists in this catalog")
    require(viewMeta(newName).isEmpty,
      s"a view named $newName exists in this catalog; a table cannot shadow it")
    // a prior attempt crashed BEFORE its commit point: the destination
    // holds never-visible pending debris — wipe its metadata and redo
    if (renameMarker(newName, SnapshotCatalog.RenamePendingMarker).isDefined)
      deleteTableMeta(dst)
    Files.createDirectories(dst)
    replaceAtomically(dst.resolve(SnapshotCatalog.RenamePendingMarker), table)
    copyTableMeta(src, dst)
    // COMMIT: one atomic delete makes the destination visible
    Files.delete(dst.resolve(SnapshotCatalog.RenamePendingMarker))
    // tombstone the source (one atomic write hides it), then delete
    replaceAtomically(src.resolve(SnapshotCatalog.RenamedToMarker), newName)
    finishRenameCleanup(src)
  }

  /** Post-commit tail of [[renameTable]]: delete the source's metadata,
    * drop its tombstone last, and purge memoized manifests keyed under
    * the old directory (a table later re-created at that name must
    * never hit stale entries). The old directory survives exactly when
    * path-addressed payload stayed in it. */
  private def finishRenameCleanup(src: Path): Unit = {
    deleteTableMeta(src)
    Files.deleteIfExists(src.resolve(SnapshotCatalog.RenamedToMarker))
    try { Files.delete(src); () }
    catch { case _: java.nio.file.DirectoryNotEmptyException => () }
    val prefix = src.toAbsolutePath.toString
    manifestCache.keySet.removeIf(_.startsWith(prefix))
    ()
  }

  /** Is `table`'s BASE directory mid-rename (either marker present)? A
    * branch ref is hidden by its base table's marker too. */
  private def midRename(table: String): Boolean = {
    val base = tableDir(table.split("/").head)
    Files.exists(base.resolve(SnapshotCatalog.RenamePendingMarker)) ||
      Files.exists(base.resolve(SnapshotCatalog.RenamedToMarker))
  }

  /** The content of a rename marker in `table`'s BASE directory (a
    * branch ref is hidden by its base table's marker too), or None. */
  private def renameMarker(table: String, marker: String): Option[String] = {
    val p = tableDir(table.split("/").head).resolve(marker)
    if (Files.exists(p))
      Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim)
    else None
  }

  /** Replace `path` with `content` atomically: a temp file in the same
    * directory, moved over the target — a reader sees the old bytes or
    * the new, never a torn file. The one way a metadata file other than
    * a snapshot manifest is written (pointer, view, tag, staged
    * manifest, rename marker); a snapshot is link-created instead, so a
    * taken id can never be overwritten. */
  private def replaceAtomically(path: Path, content: String): Unit = {
    val tmp = Files.createTempFile(path.getParent, SnapshotCatalog.ReplaceTmpPrefix, ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** A table-dir file the rename protocol copies and deletes: not a
    * rename marker, not an in-flight [[replaceAtomically]] temp. */
  private def isTableMetaFile(name: String): Boolean =
    !name.startsWith(".rename") && !name.startsWith(SnapshotCatalog.ReplaceTmpPrefix)

  /** Everything except the payload dirs ([[SnapshotCatalog.PayloadDirs]])
    * and rename markers copies; `branches/` (and `tags/`) recurse — a
    * branch is a nested table dir with the same layout, keeping ITS
    * payload dirs behind too. Source untouched. */
  private def copyTableMeta(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    val stream = Files.list(src)
    val entries = try stream.iterator().asScala.toList finally stream.close()
    entries.foreach { p =>
      val n = p.getFileName.toString
      if (Files.isDirectory(p)) {
        if (!SnapshotCatalog.PayloadDirs.contains(n)) copyTableMeta(p, dst.resolve(n))
      } else if (isTableMetaFile(n)) {
        Files.copy(p, dst.resolve(n),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    }
  }

  /** Inverse of [[copyTableMeta]]: delete a dir's metadata files,
    * keeping payload dirs and rename markers (handled explicitly by the
    * caller); empty subdirs fall bottom-up. */
  private def deleteTableMeta(dir: Path): Unit = {
    if (!Files.isDirectory(dir)) return
    val stream = Files.list(dir)
    val entries = try stream.iterator().asScala.toList finally stream.close()
    entries.foreach { p =>
      val n = p.getFileName.toString
      if (Files.isDirectory(p)) {
        if (!SnapshotCatalog.PayloadDirs.contains(n)) {
          deleteTableMeta(p)
          try { Files.delete(p); () }
          catch { case _: java.nio.file.DirectoryNotEmptyException => () }
        }
      } else if (isTableMetaFile(n)) {
        Files.deleteIfExists(p)
        ()
      }
    }
  }

  /** Absolute table-directory path — purge attribution compares file
    * paths against table trees through this. */
  def tableDirOf(table: String): String = tableDir(table).toAbsolutePath.toString

  /** Oldest RETAINED snapshot — one directory listing + ONE memoized
    * manifest parse. The purge-attribution probe: any file a clone or
    * branch shares sits in its fork-point snapshot, which (until
    * expired) is its oldest. */
  private def firstSnapshot(table: String): Option[SnapshotMeta] = {
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) return None
    val stream = Files.list(dir)
    val paths = try stream.iterator().asScala.toList finally stream.close()
    val re = "snap-(\\d+)\\.json".r
    paths.flatMap(p => re.findFirstMatchIn(p.getFileName.toString)
        .map(m => m.group(1).toLong -> p))
      .sortBy(_._1).headOption.map(x => parseSnap(x._2))
  }

  def snapshots(table: String): Seq[SnapshotMeta] = {
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) return Nil
    val stream = Files.list(dir)
    val paths = try stream.iterator().asScala.toList finally stream.close()
    paths
      .filter(_.getFileName.toString.matches("snap-\\d+\\.json"))
      .map(parseSnap)
      .sortBy(_.snapshotId)
  }

  /** O(1) parses: pointer read + forward probe past any committer that
    * won a race after the pointer was written. Falls back to a full
    * listing only when the pointer is missing or dangling. */
  def currentSnapshot(table: String): Option[SnapshotMeta] = {
    // a dir carrying a rename marker is mid-rename state — pending
    // copy-in (never committed) or tombstoned source (committed under
    // the new name) — and must read as absent, never as split history
    if (midRename(table)) return None
    val ptr = pointerPath(table)
    val hinted =
      if (Files.exists(ptr))
        scala.util.Try(
          new String(Files.readAllBytes(ptr), StandardCharsets.UTF_8).trim.toLong).toOption
      else None
    hinted match {
      case Some(hint) if Files.exists(snapPath(table, hint)) =>
        var id = hint
        while (Files.exists(snapPath(table, id + 1))) id += 1
        Some(parseSnap(snapPath(table, id)))
      case _ => snapshots(table).lastOption
    }
  }

  /** O(1): direct path probe, no listing. */
  def snapshotById(table: String, id: Long): Option[SnapshotMeta] = {
    val p = snapPath(table, id)
    if (Files.exists(p)) Some(parseSnap(p)) else None
  }

  // ---- named refs (tags) ----------------------------------------------

  private def tagDir(table: String): Path = tableDir(table).resolve("tags")
  private def tagPath(table: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9._-]{1,128}"), s"invalid tag name: $name")
    tagDir(table).resolve(name)
  }

  /** Tag a snapshot with a stable name (the Iceberg named-ref analogue):
    * a tag is a tiny pointer file, so resolution is O(1) at any snapshot
    * count and retagging is an atomic last-writer-wins move — the
    * "production", "validated", "training-run-17" handles a pipeline
    * pins itself to instead of raw snapshot ids. */
  def tag(table: String, name: String, snapshotId: Long): Unit = {
    require(snapshotById(table, snapshotId).isDefined,
      s"cannot tag: snapshot $snapshotId not found for $table")
    Files.createDirectories(tagDir(table))
    replaceAtomically(tagPath(table, name), snapshotId.toString)
  }

  /** All tags of a table (name → snapshot id). */
  def tags(table: String): Map[String, Long] = {
    val dir = tagDir(table)
    if (!Files.isDirectory(dir)) return Map.empty
    val stream = Files.list(dir)
    val names = try stream.iterator().asScala.toList finally stream.close()
    names.filterNot(_.getFileName.toString.startsWith(".")).flatMap { p =>
      scala.util.Try(
        p.getFileName.toString ->
          new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong).toOption
    }.toMap
  }

  def dropTag(table: String, name: String): Boolean =
    Files.deleteIfExists(tagPath(table, name))

  /** Resolve a tag to its snapshot: one pointer read + one (memoized)
    * manifest parse. */
  def snapshotByTag(table: String, name: String): Option[SnapshotMeta] = {
    val p = tagPath(table, name)
    if (!Files.exists(p)) None
    else scala.util.Try(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong).toOption
      .flatMap(snapshotById(table, _))
  }

  /** Latest snapshot committed at or before `tsMs` (reference:
    * metadata.py:160 `get_snapshot(as_of_timestamp=...)`).
    *
    * O(log n) manifest parses: ids are dense (the publish protocol mints
    * prev+1) and commit timestamps are non-decreasing in id (each commit
    * stamps `clock()` at publish), so binary search over the id range
    * resolves the as-of point without listing or parsing the whole log —
    * the same reason Iceberg's metadata keeps a snapshot-log array it
    * can bisect. Falls back to the full listing when the id range has
    * holes (partial expiration). */
  def snapshotAsOf(table: String, tsMs: Long): Option[SnapshotMeta] = {
    val cur = currentSnapshot(table).getOrElse(return None)
    if (cur.timestampMs <= tsMs) return Some(cur)
    // lower boundary of the dense id run ending at current, found with
    // O(log n) existence probes (exponential bracket + bisect) — probes
    // stat the file, they never parse JSON. Tag-preserved islands below
    // an expiration hole can fool the bracket; every such case lands in
    // the full-listing fallback below, trading speed for correctness.
    val lowest = {
      var step = 1L
      var known = cur.snapshotId
      while (known - step >= 1 && Files.exists(snapPath(table, known - step))) {
        known -= step; step *= 2
      }
      var lo = math.max(1L, known - step + 1)
      var hi = known
      while (lo < hi) {
        val mid = (lo + hi) / 2
        if (Files.exists(snapPath(table, mid))) hi = mid else lo = mid + 1
      }
      hi
    }
    val lo0 = snapshotById(table, lowest).getOrElse(return None)
    if (lo0.timestampMs > tsMs)
      // the as-of point predates the dense tail: a tag-preserved
      // snapshot below an expiration hole may still match — full scan
      return snapshots(table).filter(_.timestampMs <= tsMs).lastOption
    var lo = lowest
    var hi = cur.snapshotId
    while (lo < hi) { // invariant: ts(lo) <= tsMs < ts(hi+1 side)
      val mid = lo + (hi - lo + 1) / 2
      snapshotById(table, mid) match {
        case Some(s) if s.timestampMs <= tsMs => lo = mid
        case Some(_) => hi = mid - 1
        case None => return snapshots(table).filter(_.timestampMs <= tsMs).lastOption
      }
    }
    snapshotById(table, lo)
  }

  /** Newest-first history summaries (reference: metadata.py:189
    * `get_snapshot_history`). */
  def history(table: String, limit: Option[Int] = None): Seq[Map[String, Any]] = {
    val h = snapshots(table).reverse.map { s =>
      Map[String, Any](
        "snapshot_id" -> s.snapshotId,
        "timestamp_ms" -> s.timestampMs,
        "parent_snapshot_id" -> s.parentId.getOrElse(-1L),
        "total_rows" -> s.totalRows,
        "total_bytes" -> s.totalBytes,
        "file_count" -> s.files.size)
    }
    limit.fold(h)(h.take)
  }

  def schema(table: String): Option[StructType] = currentSnapshot(table).map(_.schema)

  /** Reference: metadata.py:110 `get_table_stats`. A table with no
    * snapshots yields only its id; a snapshot id that names none throws. */
  def tableStats(table: String, snapshotId: Option[Long] = None): Map[String, Any] = {
    val snapOpt =
      if (snapshotId.isEmpty) currentSnapshot(table) else Some(resolveSnapshot(table, snapshotId))
    snapOpt.map { s =>
      Map[String, Any](
        "table_id" -> table,
        "snapshot_id" -> s.snapshotId,
        "timestamp_ms" -> s.timestampMs,
        "total_records" -> s.totalRows,
        "total_files_size" -> s.totalBytes,
        "file_count" -> s.files.size,
        "delete_file_count" -> s.deleteFiles.size,
        "masked_delete_rows" -> s.totalDeleteRows,
        "current_snapshot_id" -> currentSnapshot(table).map(_.snapshotId).getOrElse(-1L))
    }.getOrElse(Map("table_id" -> table))
  }

  /** Iceberg `table$snapshots` metadata table: one row per live
    * snapshot, queryable/joinable like any DataFrame. Driver-side
    * assembly is bounded by metadata size (one row per snapshot), never
    * by data size. */
  def snapshotsDf(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    snapshots(table).map { s =>
      (s.snapshotId, s.parentId.getOrElse(-1L), s.timestampMs,
        s.props.getOrElse(SnapshotCatalog.OperationProp, SnapshotCatalog.OpAppend),
        s.files.size, s.totalRows, s.totalBytes)
    }.toDF("snapshot_id", "parent_id", "timestamp_ms", "operation",
      "n_files", "total_rows", "total_bytes")
  }

  /** Iceberg `table$files` metadata table: one row per data file of a
    * snapshot (default current) with its manifest metadata — size, row
    * count, hive partition values, and which columns carry min/max
    * stats. The file-skipping debugging surface: join against a
    * predicate's bounds to see which files a prune would keep. */
  def filesDf(spark: SparkSession, table: String, snapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val snap = resolveSnapshot(table, snapshotId)
    snap.files.map { f =>
      (f.path, f.sizeBytes, f.rowCount, f.partitionValues,
        f.stats.keys.toSeq.sorted, f.blooms.keys.toSeq.sorted,
        f.sketches.keys.toSeq.sorted)
    }.toDF("path", "size_bytes", "row_count", "partition_values",
      "stat_columns", "bloom_columns", "sketch_columns")
  }

  /** Iceberg `table$partitions` metadata table: one row per distinct
    * partition tuple of the snapshot, rolled up from manifest metadata
    * alone — file/row/byte counts plus the outstanding MoR delete-entry
    * count charged to the partition's files. The small-file and skew
    * monitor: `WHERE n_files > 100 AND total_bytes/n_files < 32MB` IS
    * the compaction work list, computed without opening a data file.
    * Unpartitioned files roll up under the empty tuple. Driver-side
    * assembly bounded by manifest size. */
  def partitionsDf(spark: SparkSession, table: String, snapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val snap = resolveSnapshot(table, snapshotId)
    val delRows: Map[String, Long] = snap.deleteFiles
      .flatMap(d => d.dataPaths.map(_ -> d.rowCount))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    snap.files.groupBy(_.partitionValues).map { case (pv, fs) =>
      (pv, fs.size.toLong, fs.map(_.rowCount).sum, fs.map(_.sizeBytes).sum,
        fs.map(f => delRows.getOrElse(f.path, 0L)).sum)
    }.toSeq.toDF("partition_values", "n_files", "total_rows", "total_bytes",
      "delete_entry_count")
  }

  /** Iceberg `table$delete_files` metadata table: one row per live MoR
    * delete file of the snapshot (position or equality), with the data
    * files its entries reference. Bounded by metadata size. */
  def deleteFilesDf(spark: SparkSession, table: String, snapshotId: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val snap = resolveSnapshot(table, snapshotId)
    snap.deleteFiles.map { d =>
      (d.path,
        if (d.isEquality) "equality" else "position",
        d.rowCount, d.sizeBytes, d.equalityColumns, d.dataPaths)
    }.toDF("path", "kind", "entry_count", "size_bytes",
      "equality_columns", "data_paths")
  }

  // ---- snapshot management: rollback + cherry-pick ---------------------

  /** Roll the table back to an earlier snapshot's state (Iceberg
    * `rollback_to_snapshot`): a NEW commit whose file list is exactly
    * the target's — history moves forward only (the bad commits stay
    * inspectable and expirable; nothing is deleted here). The commit is
    * labeled `rewrite`, so the change feed across the rollback nets to
    * exactly the inverse of the rolled-back changes and an incremental
    * reader never resurrects the undone rows as fresh appends. O(1)
    * data work: every file is metadata-reused, none re-scanned. */
  def rollbackTo(spark: SparkSession, table: String, snapshotId: Long): SnapshotMeta = {
    val target = snapshotById(table, snapshotId).getOrElse(
      throw new IllegalArgumentException(s"Snapshot $snapshotId not found for $table"))
    val basis = currentSnapshot(table)
    val targetPaths = target.files.map(_.path).toSet
    commit(spark, table, Nil,
      props = Map(
        SnapshotCatalog.OperationProp -> SnapshotCatalog.OpRewrite,
        SnapshotCatalog.RollbackOfProp -> snapshotId.toString),
      // restoring a state restores its delete files too: visible rows at
      // the rollback must equal visible rows at the target exactly
      deleteFilesOverride = Some(target.deleteFiles),
      // "roll back from X" is only meaningful while X is current: a
      // commit landing mid-rollback must conflict, not be silently undone
      intent = CommitIntent(
        basisSnapshotId = basis.map(_.snapshotId),
        removedPaths = basis.map(_.files.map(_.path).filterNot(targetPaths.contains)).getOrElse(Nil),
        addFiles = target.files,
        strictBasis = true))
  }

  /** Re-apply an APPEND commit's added files onto the current head
    * (Iceberg `cherrypick_snapshot`, append case — the one that is
    * always safe): the files `snapshotId` added over its parent are
    * committed again on top of whatever is current. Rejects non-append
    * sources (a rewrite's outputs carry surviving old rows — replaying
    * them would duplicate data). With [[rollbackTo]] this is the
    * revert-then-replay toolkit: roll back a bad commit, cherry-pick
    * the good ones that followed it. */
  def cherryPick(spark: SparkSession, table: String, snapshotId: Long): SnapshotMeta = {
    val src = snapshotById(table, snapshotId).getOrElse(
      throw new IllegalArgumentException(s"Snapshot $snapshotId not found for $table"))
    val op = src.props.getOrElse(SnapshotCatalog.OperationProp, SnapshotCatalog.OpAppend)
    require(op == SnapshotCatalog.OpAppend,
      s"cherryPick supports append snapshots only; $snapshotId is a $op")
    val basis = currentSnapshot(table)
    // the files `snapshotId` added over its parent, less those the basis
    // already holds: one a concurrent rewrite removes must stay removed
    val held = (src.parentId.flatMap(snapshotById(table, _)).toSeq ++ basis)
      .flatMap(_.files.map(_.path)).toSet
    val added = src.files.filterNot(f => held.contains(f.path))
    commit(spark, table, Nil,
      props = Map(
        SnapshotCatalog.OperationProp -> SnapshotCatalog.OpAppend,
        SnapshotCatalog.CherryPickOfProp -> snapshotId.toString),
      // append intent: the replayed files apply on whatever head the
      // publish lands on — concurrent commits merge, never clobbered
      intent = CommitIntent(basis.map(_.snapshotId), addFiles = added))
  }

  // ---- schema evolution v2: rename + drop (metadata-only) --------------

  /** Rename a column — one metadata commit, zero data bytes (Iceberg
    * `ALTER TABLE ... RENAME COLUMN`, whose field-id indirection is
    * re-expressed here as a per-file physical→logical name map, S48).
    * Every file's stats/blooms/sketches/partitionValues re-key to the
    * new logical name, so manifest pruning on the renamed column keeps
    * working without touching a footer; scans alias each file's
    * physical column back (see `readLogical`). Sticky index-column
    * props follow the rename, so later commits keep indexing. Refuses
    * while an outstanding equality-delete file keys on the column (its
    * key parquet is written under the old name — `materializeDeletes`
    * first); position deletes are name-free and carry across. */
  def renameColumn(table: String, from: String, to: String): SnapshotMeta = {
    require(to.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid column name: $to")
    requireNoDependentViews(table, Some(from), s"rename column $table.$from")
    publishOn(table) { prev =>
      val sch = prev.schema
      require(sch.fieldNames.contains(from), s"no column $from on $table")
      require(!sch.fieldNames.contains(to), s"column $to already exists on $table")
      require(!prev.deleteFiles.exists(_.equalityColumns.contains(from)),
        s"outstanding equality-delete files key on $from; materializeDeletes first")
      def rekey[V](m: Map[String, V]): Map[String, V] =
        m.map { case (k, v) => (if (k == from) to else k) -> v }
      val files = prev.files.map { f =>
        // the column's physical name in THIS file: its existing rename
        // source if any, else the literal name
        val phys = f.renames.collectFirst { case (p, l) if l == from => p }.getOrElse(from)
        f.copy(stats = rekey(f.stats), blooms = rekey(f.blooms),
          sketches = rekey(f.sketches), partitionValues = rekey(f.partitionValues),
          renames = f.renames - phys + (phys -> to), defaults = rekey(f.defaults))
      }
      schemaEvolved(sch.fields.map(f => if (f.name == from) f.copy(name = to) else f),
        Some(files), stickyRenamed(prev, from, Some(to)) +
          (SnapshotCatalog.RenameProp -> s"$from->$to"))
        .copy(unset = SnapshotCatalog.StickyProps)
    }
  }

  /** Drop a column — one metadata commit, zero data bytes. The physical
    * bytes stay in old files but become unreachable: each file gets a
    * tombstone mapping, so a LATER column re-added under the same name
    * reads as null from pre-drop files instead of resurrecting dead
    * values (Iceberg's drop-then-re-add semantics). Stats/blooms/
    * sketches for the column leave the manifests. Refuses while an
    * equality-delete file keys on the column. */
  def dropColumn(table: String, name: String): SnapshotMeta = {
    requireNoDependentViews(table, Some(name), s"drop column $table.$name")
    publishOn(table) { prev =>
      val sch = prev.schema
      require(sch.fieldNames.contains(name), s"no column $name on $table")
      require(sch.fields.length > 1, s"cannot drop the only column of $table")
      require(!prev.deleteFiles.exists(_.equalityColumns.contains(name)),
        s"outstanding equality-delete files key on $name; materializeDeletes first")
      val files = prev.files.map { f =>
        val phys = f.renames.collectFirst { case (p, l) if l == name => p }.getOrElse(name)
        f.copy(stats = f.stats - name, blooms = f.blooms - name,
          sketches = f.sketches - name, partitionValues = f.partitionValues - name,
          renames = f.renames - phys + (phys -> s"__graft_dropped__$name"),
          defaults = f.defaults - name)
      }
      schemaEvolved(sch.fields.filterNot(_.name == name), Some(files),
        stickyRenamed(prev, name, None) + (SnapshotCatalog.DropProp -> name))
        .copy(unset = SnapshotCatalog.StickyProps)
    }
  }

  /** Add a column — one metadata commit, zero data bytes (Iceberg
    * `ALTER TABLE ... ADD COLUMN`): the field appends to the schema as
    * NULLABLE (pre-existing rows have no value for it, so a NOT NULL
    * add is unsatisfiable without a rewrite — refused at the SQL
    * surface); every existing file reads NULL for the new column via
    * the same missing-column fill that additive append evolution uses.
    * If a same-named column was dropped earlier, the per-file tombstone
    * mapping keeps the old physical bytes unreachable — the re-added
    * column reads null from pre-drop files, never resurrected values
    * (Iceberg's drop-then-re-add semantics, S26). */
  def addColumn(table: String, name: String,
      dataType: org.apache.spark.sql.types.DataType,
      defaultSql: Option[String] = None,
      nullable: Boolean = true): SnapshotMeta = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"invalid column name: $name")
    // an ADD-time DEFAULT is both the initial-default (every existing
    // file reads it — stamped per file below) and the write-default
    // (future writes omitting the column fill it — commit stamps them);
    // rendered ONCE here so both stamps agree to the byte
    val rendered = defaultSql.map(
      SnapshotCatalog.renderDefaultSql(_, dataType, s"ADD COLUMN $name"))
    if (!nullable) {
      require(rendered.exists(_ != "NULL"),
        s"ADD COLUMN $name NOT NULL is unsatisfiable on existing rows without a " +
          "non-null DEFAULT (old files would read null)")
      require(SnapshotCatalog.notNullEnforceable(dataType),
        s"NOT NULL on ${dataType.catalogString} cannot be enforced from commit " +
          "stats; supported: numeric, string, date, timestamp")
    }
    publishOn(table) { prev =>
      require(!prev.schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"column $name already exists on $table")
      val meta = rendered.map { r =>
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString(SnapshotCatalog.InitialDefaultMetaKey, r)
          .putString(SnapshotCatalog.WriteDefaultMetaKey, r)
          .build()
      }.getOrElse(org.apache.spark.sql.types.Metadata.empty)
      // every file in the pre-ADD snapshot lacks the column: stamp its
      // initial-default so the scan serves the literal, not a null fill
      val files = rendered match {
        case Some(r) => prev.files.map(f => f.copy(defaults = f.defaults + (name -> r)))
        case None => prev.files
      }
      schemaEvolved(prev.schema.fields :+ org.apache.spark.sql.types.StructField(
        name, dataType, nullable = nullable, metadata = meta), Some(files))
    }
  }

  /** Set or clear a column's WRITE-DEFAULT (`ALTER COLUMN c SET DEFAULT
    * lit` / `DROP DEFAULT`) — one metadata commit, zero data bytes.
    * Affects FUTURE writes that omit the column only: files already
    * stamped (pre-ADD initial-defaults, prior write-default appends)
    * keep the literal they were committed under, exactly Iceberg v3's
    * initial-default vs write-default split. */
  /** Set (Some) or clear (None) the table's COMMENT — one metadata-only
    * commit; the text rides the sticky-prop carry so every later commit
    * keeps it. */
  def setTableComment(table: String, comment: Option[String]): SnapshotMeta =
    setStickyValueProp(table, SnapshotCatalog.CommentProp, comment)

  /** Set (Some) or clear (None) ONE sticky table-level value prop
    * (comment, retention policy) — one metadata-only commit restating
    * the prop; every OTHER sticky prop carries untouched. The single
    * write path for table-level metadata, so SET/UNSET TBLPROPERTIES,
    * COMMENT ON TABLE and any future owned prop share one commit shape. */
  def setStickyValueProp(
      table: String, key: String, value: Option[String]): SnapshotMeta = {
    require(SnapshotCatalog.StickyValueProps.contains(key),
      s"not a sticky table-level value prop: $key " +
        s"(owned: ${SnapshotCatalog.StickyValueProps.mkString(", ")})")
    publishOn(table) { prev =>
      SnapshotChange(
        props = value.map(key -> _).toMap +
          (SnapshotCatalog.OperationProp -> SnapshotCatalog.OpSchemaEvolve),
        unset = Seq(key))
    }
  }

  /** Set (Some) or clear (None) a column's COMMENT — stored in the
    * schema's field metadata under Spark's own `comment` key, so the
    * text survives schema merges exactly like the S61 default stamps
    * and renders wherever Spark renders comments. Metadata-only. */
  def setColumnComment(table: String, name: String,
      comment: Option[String]): SnapshotMeta =
    publishOn(table) { prev =>
      val field = prev.schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name on $table"))
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(field.metadata)
        .remove("comment")
      comment.foreach(mb.putString("comment", _))
      schemaEvolved(prev.schema.fields.map(f =>
        if (f.name == name) f.copy(metadata = mb.build()) else f))
    }

  def setColumnDefault(table: String, name: String,
      defaultSql: Option[String]): SnapshotMeta =
    publishOn(table) { prev =>
      val field = prev.schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name on $table"))
      val rendered = defaultSql.map(
        SnapshotCatalog.renderDefaultSql(_, field.dataType, s"ALTER COLUMN $name"))
      if (!field.nullable) require(rendered.exists(_ != "NULL"),
        s"column $name is NOT NULL; a missing/null DEFAULT would make writes " +
          "omitting it unsatisfiable")
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(field.metadata)
        .remove(SnapshotCatalog.WriteDefaultMetaKey)
      rendered.foreach(mb.putString(SnapshotCatalog.WriteDefaultMetaKey, _))
      schemaEvolved(prev.schema.fields.map(f =>
        if (f.name == name) f.copy(metadata = mb.build()) else f))
    }

  /** Tighten or relax a column's nullability (`ALTER COLUMN c SET NOT
    * NULL` / `DROP NOT NULL`). Relaxing is pure metadata. Tightening
    * must PROVE no visible null exists first: per-file null-count stats
    * and default stamps settle almost every file from the manifest
    * alone; only files with no metadata proof (e.g. a null count hidden
    * behind an outstanding MoR mask) pay a bounded existence scan. Once
    * set, every future commit enforces the contract from the stats pass
    * it already runs — a violating write aborts before publish. */
  def setColumnNullability(spark: SparkSession, table: String, name: String,
      nullable: Boolean): SnapshotMeta =
    publishOn(table) { prev =>
      val field = prev.schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name on $table"))
      if (!nullable) {
        require(SnapshotCatalog.notNullEnforceable(field.dataType),
          s"NOT NULL on ${field.dataType.catalogString} cannot be enforced from " +
            "commit stats; supported: numeric, string, date, timestamp")
        require(SnapshotCatalog.writeDefaultOf(field).forall(_ != "NULL"),
          s"column $name has DEFAULT NULL; drop or replace the default first")
        // proof runs INSIDE the publish attempt (against ITS parent, so
        // a concurrent null append can't slip between check and commit):
        // zero rows, a non-null default stamp for an absent column, or a
        // stats null count of exactly 0 settle files from the manifest;
        // only unproven files (e.g. nulls hidden behind a MoR mask) pay
        // a bounded existence scan
        val unproven = prev.files.filterNot { f =>
          f.rowCount == 0L ||
            f.defaults.get(name).exists(_ != "NULL") ||
            f.stats.get(name).flatMap(_.nullCount).contains(0L)
        }
        if (unproven.nonEmpty) {
          val hasNull = !visibleRows(spark, prev, unproven.map(_.path))
            .filter(col(name).isNull).isEmpty
          require(!hasNull,
            s"SET NOT NULL on $table.$name: visible null values exist " +
              s"(checked ${unproven.size} file(s) without a manifest proof)")
        }
      }
      schemaEvolved(prev.schema.fields.map(f =>
        if (f.name == name) f.copy(nullable = nullable) else f))
    }

  /** Widen a column's type along the Iceberg promotion lattice
    * (int→long, float→double, decimal precision growth) — one
    * metadata commit, zero data bytes (`ALTER TABLE ... ALTER COLUMN c
    * TYPE bigint`). Each file records its stored physical type ONCE in
    * [[FileMeta.physTypes]] (keyed by the column's physical name, so
    * later renames don't re-key it); the scan reads old files under the
    * stored type and casts up — never relying on parquet reader
    * promotion. Stats and blooms stay valid (numeric min/max are held
    * as doubles; blooms are string-indexed), so manifest pruning on the
    * widened column remains exact across eras. Narrowing and
    * cross-family changes are refused — they would corrupt or lose
    * data. Refuses while an equality-delete file keys on the column
    * (its stored key tuples would compare under a different type). */
  def widenColumn(table: String, name: String,
      to: org.apache.spark.sql.types.DataType): SnapshotMeta =
    publishOn(table) { prev =>
      val sch = prev.schema
      val field = sch.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name on $table"))
      val from = field.dataType
      require(SnapshotCatalog.canWiden(from, to),
        s"cannot change column $name from ${from.catalogString} to ${to.catalogString}: " +
          "only widening along the promotion lattice (int->long, float->double, " +
          "decimal precision growth) is a metadata-only evolution")
      require(!prev.deleteFiles.exists(_.equalityColumns.contains(name)),
        s"outstanding equality-delete files key on $name; materializeDeletes first")
      val files = prev.files.map { f =>
        val phys = f.renames.collectFirst { case (p, l) if l == name => p }.getOrElse(name)
        if (f.physTypes.contains(phys)) f // bytes unchanged since first widen
        else f.copy(physTypes = f.physTypes + (phys -> from.catalogString))
      }
      schemaEvolved(sch.fields.map(f => if (f.name == name) f.copy(dataType = to) else f),
        Some(files),
        Map(SnapshotCatalog.WidenProp -> s"$name:${from.catalogString}->${to.catalogString}"))
    }

  /** A schema change to `fields`, labeled schema-evolve, with `extra`
    * commit props; files default to the parent's. */
  private def schemaEvolved(fields: Seq[StructField], files: Option[Seq[FileMeta]] = None,
      extra: Map[String, String] = Map.empty): SnapshotChange =
    SnapshotChange(files, schemaJson = Some(StructType(fields).json),
      props = extra + (SnapshotCatalog.OperationProp -> SnapshotCatalog.OpSchemaEvolve))

  /** Sticky bloom/sketch column props with `from` renamed to `to`
    * (dropped when `to` is None); the table comment rides verbatim —
    * it names no column, so a column rename/drop never touches it. */
  private def stickyRenamed(
      prev: SnapshotMeta, from: String, to: Option[String]): Map[String, String] =
    SnapshotCatalog.StickyColumnProps.flatMap { k =>
      prev.props.get(k).map { v =>
        val cols = v.split(",").toSeq.filter(_.nonEmpty)
          .flatMap(c => if (c == from) to else Some(c))
        k -> cols.mkString(",")
      }.filter(_._2.nonEmpty)
    }.toMap ++
      {
        // a column drop that hits the vector index drops the index with
        // it (all three props together — matching how a dropped bloom
        // column simply stops being indexed); a rename re-keys the
        // columns prop and the frozen model/codes stay valid (the model
        // file carries no column names, codes ride the fixed `__vid`)
        val pqDropped = to.isEmpty &&
          prev.props.get(SnapshotCatalog.PqColumnsProp)
            .exists(_.split(":").contains(from))
        SnapshotCatalog.StickyValueProps.flatMap { k =>
          prev.props.get(k).flatMap { v =>
            // the row-TTL retention prop NAMES a column: a rename follows
            // it (the policy stays valid under the new name); a drop
            // refuses — silently shedding a compliance policy is the one
            // thing a column drop must not do
            if (k == SnapshotCatalog.RetentionRowsColumnProp && v == from) to match {
              case Some(t) => Some(k -> t)
              case None => throw new IllegalArgumentException(
                s"column $from is the table's row-TTL retention column " +
                  s"($k); UNSET TBLPROPERTIES ('$k') first")
            }
            else if (pqDropped && (k == SnapshotCatalog.PqColumnsProp ||
                k == SnapshotCatalog.PqModelProp ||
                k == SnapshotCatalog.PqGenerationProp)) None
            else if (k == SnapshotCatalog.PqColumnsProp && v.split(":").contains(from))
              Some(k -> v.split(":", -1).map(c => if (c == from) to.get else c).mkString(":"))
            else Some(k -> v)
          }
        }
      }

  // ---- branches (isolated writable refs) -------------------------------
  // A branch is a SELF-CONTAINED snapshot chain rooted at
  // `<table>/branches/<name>` — the Iceberg/Nessie writable-ref model
  // (Iceberg spec "Branching and Tagging"; the reference consumes refs
  // through pyiceberg's snapshot metadata). Because every catalog API
  // addresses tables by path-shaped name, the branch REF returned by
  // [[branchRef]] is a first-class table: reads, time travel, CDC walks,
  // MoR deletes, MERGE, compaction, tags and streaming sources all work
  // against it with zero special cases. Forking is one metadata commit
  // (every data file reused); data files are SHARED with the main table
  // until a branch commit rewrites them.

  /** The catalog name a branch is addressed by. Validated so a branch
    * name can never traverse out of the table's directory. */
  def branchRef(table: String, name: String): String = {
    require(name.matches("[A-Za-z0-9._-]{1,128}"), s"invalid branch name: $name")
    require(!table.contains("/branches/"),
      s"cannot branch a branch ref: $table (fork from the base table instead)")
    s"$table/branches/$name"
  }

  /** Fork a branch from a snapshot of `table` (default: current head).
    * Metadata-only: the branch's snapshot 1 lists exactly the fork
    * point's files and outstanding delete files, carries its schema and
    * sticky index columns, and records the fork lineage in props. O(1)
    * data work at any table size. */
  def createBranch(
      table: String,
      name: String,
      fromSnapshotId: Option[Long] = None): SnapshotMeta = {
    val src = resolveSnapshot(table, fromSnapshotId)
    val ref = branchRef(table, name)
    val sticky = src.props.filter { case (k, _) =>
      SnapshotCatalog.StickyProps.contains(k) }
    publish(ref) { prev =>
      if (prev.isDefined)
        throw new IllegalStateException(s"branch $name already exists on $table")
      SnapshotChange(Some(src.files), Some(src.deleteFiles), Some(src.schemaJson),
        sticky ++ Map(
          SnapshotCatalog.OperationProp -> SnapshotCatalog.OpAppend,
          SnapshotCatalog.ForkTableProp -> table,
          SnapshotCatalog.ForkIdProp -> src.snapshotId.toString))
    }
  }

  /** Zero-copy table clone (SURVEY §2 S51; the Delta SHALLOW CLONE /
    * Iceberg register-snapshot analogue — reference serves one table
    * namespace per node, src/cache_node.py:208, so cheap logical copies
    * are the multi-tenant substitute): `dst` starts life at `src`'s
    * current (or pinned) snapshot by referencing the SAME data and
    * delete files — O(manifest) metadata, zero data bytes move.
    * Lifecycles are independent from then on: commits to either side
    * never touch the other (unlike a branch, the clone is a first-class
    * table — own refs, branches, staging, expiry). Sticky bloom/sketch
    * props carry, so index maintenance continues on the clone's future
    * commits; existing sidecar references carry file-for-file.
    *
    * CAVEAT (narrower than Delta shallow clones since r10): the clone
    * references files under the SOURCE's payload directories (data,
    * sidecars and the vector index). A drop or rename of the source
    * leaves them in place, and within the SAME catalog both vacuums and
    * [[purgeTable]] treat any path another table's history references
    * as live, so expiring the cloned-from snapshot and vacuuming or
    * purging the source cannot delete bytes the clone still needs
    * (search on a clone's vector index included). The hazard remains
    * only for clones tracked by a DIFFERENT catalog instance root —
    * there, keep clones inside the source's retention window, or
    * `compact` the clone (rewrites its live rows into its own
    * directories) to sever the tie. */
  def cloneTable(src: String, dst: String, fromSnapshotId: Option[Long] = None): SnapshotMeta = {
    val s = resolveSnapshot(src, fromSnapshotId)
    val sticky = s.props.filter { case (k, _) =>
      SnapshotCatalog.StickyProps.contains(k) }
    publish(dst) { prev =>
      if (prev.isDefined)
        throw new IllegalStateException(s"table $dst already exists; clone targets must be new")
      SnapshotChange(Some(s.files), Some(s.deleteFiles), Some(s.schemaJson),
        sticky ++ Map(
          SnapshotCatalog.OperationProp -> SnapshotCatalog.OpAppend,
          SnapshotCatalog.ForkTableProp -> src,
          SnapshotCatalog.ForkIdProp -> s.snapshotId.toString))
    }
  }

  /** Branch names of a table (those with at least one committed
    * snapshot). One directory listing — O(branches). */
  def branches(table: String): Seq[String] = {
    val dir = tableDir(table).resolve("branches")
    if (!Files.isDirectory(dir)) return Nil
    val stream = Files.list(dir)
    val names = try stream.iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toList finally stream.close()
    names.filter(n => currentSnapshot(s"$table/branches/$n").isDefined).sorted
  }

  /** Delete a branch: its manifests, pointer and tags ([[dropTable]] on
    * the branch ref). The data files and sidecars the branch wrote stay
    * on disk — a zero-copy clone taken FROM the branch may still
    * reference them — and stop being live the moment the branch
    * metadata is gone: [[vacuumDataFiles]] and [[vacuumSidecars]]
    * reclaim them once nothing else references them. */
  def dropBranch(table: String, name: String): Boolean =
    dropTable(branchRef(table, name))

  /** Publish a branch into its table (Iceberg `fast_forward`): replays
    * every branch commit after the fork point onto the table head, in
    * order, each with its ORIGINAL file list, delete files, schema and
    * props — operation labels and merge/compaction lineage survive, so
    * the table's change feed across the publish is exactly the branch's
    * own feed. Requires the table head to still BE the fork point (the
    * fast-forward condition); a diverged table refuses — rebase by
    * re-forking and replaying, or cherry-pick appends individually.
    * Metadata-only: zero data bytes move. Returns the new table head. */
  def fastForward(table: String, name: String): SnapshotMeta = {
    val ref = branchRef(table, name)
    val chain = snapshots(ref)
    require(chain.nonEmpty, s"branch $name of $table does not exist")
    val fork = chain.head
    require(fork.props.get(SnapshotCatalog.ForkTableProp).contains(table),
      s"branch $name was not forked from $table")
    val forkId = fork.props(SnapshotCatalog.ForkIdProp).toLong
    val cur = currentSnapshot(table).getOrElse(
      throw new IllegalStateException(s"table $table has no snapshots"))
    require(cur.snapshotId == forkId,
      s"cannot fast-forward $table to branch $name: table advanced past the fork " +
        s"(head ${cur.snapshotId}, fork $forkId) — re-fork and replay, or cherry-pick")
    var head = cur
    chain.tail.foreach { bs =>
      val expectedParent = head.snapshotId
      head = publishOn(table) { prev =>
        // a concurrent committer interleaving mid-publish would silently
        // reorder history — abort instead (the branch is untouched)
        if (prev.snapshotId != expectedParent)
          throw new IllegalStateException(
            s"concurrent commit on $table during fast-forward of $name " +
              s"(expected head $expectedParent, found ${prev.snapshotId})")
        // the branch commit's props replace the head's, table props too
        SnapshotChange(Some(bs.files), Some(bs.deleteFiles), Some(bs.schemaJson),
          bs.props - SnapshotCatalog.ForkTableProp - SnapshotCatalog.ForkIdProp +
            (SnapshotCatalog.FastForwardOfProp -> s"$name@${bs.snapshotId}"),
          unset = SnapshotCatalog.TableProps)
      }
    }
    head
  }

  // ---- write-audit-publish (staged commits) ----------------------------

  /** Stage an append WITHOUT touching the table (Iceberg's WAP pattern:
    * `spark.wap.branch` / stage-only commits): the data files are
    * written and their paths recorded in a staged manifest OUTSIDE the
    * dense snapshot chain, so readers, CDC and streaming sources see
    * nothing until [[publishStaged]]. Returns the staged id the audit
    * step passes around. */
  def stageAppend(
      table: String,
      paths: Seq[String],
      props: Map[String, String] = Map.empty): String = {
    val dir = tableDir(table)
    Files.createDirectories(dir)
    val stagedId = java.util.UUID.randomUUID().toString.take(12)
    val meta = StagedMeta(
      stagedId = stagedId,
      parentId = currentSnapshot(table).map(_.snapshotId),
      timestampMs = clock(),
      paths = paths.map(SnapshotCatalog.normalizePath),
      props = props)
    // atomic, like every other metadata file: a racing reader (vacuum
    // building its staged-live set, an audit listing) must see the whole
    // manifest or none of it — a torn read here would drop the stage's
    // files from the live set mid-sweep
    replaceAtomically(stagedPath(table, stagedId), Serialization.writePretty(meta))
    stagedId
  }

  /** The staged manifest, or None if unknown/already published. */
  def staged(table: String, stagedId: String): Option[StagedMeta] = {
    val p = stagedPath(table, stagedId)
    if (!Files.exists(p)) None
    else
      // a concurrent publish/discard may delete the file between the
      // exists check and the read — same answer as "already published"
      try Some(JsonMethods.parse(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).extract[StagedMeta])
      catch { case _: java.nio.file.NoSuchFileException => None }
  }

  /** Staged-but-unpublished ids for a table (audit queue). */
  def listStaged(table: String): Seq[String] = {
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) return Nil
    val stream = Files.list(dir)
    val names = try stream.iterator().asScala.map(_.getFileName.toString).toList
      finally stream.close()
    names
      .filter(n => n.startsWith("staged-") && n.endsWith(".json"))
      .map(_.stripPrefix("staged-").stripSuffix(".json"))
      .sorted
  }

  /** Publish a staged append: its files land on top of the CURRENT
    * snapshot through the normal atomic-optimistic commit — commits that
    * happened after staging are preserved (append cherry-pick, the only
    * WAP publish that is always safe), and the staged record is
    * consumed. Stats/blooms/sketches are computed here, at publish — the
    * staged state was never table metadata. */
  def publishStaged(
      spark: SparkSession,
      table: String,
      stagedId: String): SnapshotMeta = {
    val st = staged(table, stagedId).getOrElse(throw new IllegalArgumentException(
      s"no staged commit $stagedId for table $table"))
    val snap = commit(spark, table, st.paths,
      props = Map(
        SnapshotCatalog.OperationProp -> SnapshotCatalog.OpAppend,
        SnapshotCatalog.WapIdProp -> stagedId) ++ st.props,
      intent = CommitIntent(currentSnapshot(table).map(_.snapshotId)))
    discardStaged(table, stagedId)
    snap
  }

  /** Drop a staged commit that failed its audit. Data files are left for
    * [[vacuumDataFiles]] (they were never referenced by any snapshot). */
  def discardStaged(table: String, stagedId: String): Unit = {
    Files.deleteIfExists(stagedPath(table, stagedId))
    ()
  }

  private def stagedPath(table: String, id: String): Path =
    tableDir(table).resolve(s"staged-$id.json")

  /** Metadata-only approximate NDV (Iceberg puffin theta-sketch
    * analogue): merge the per-file HLL sketches of a column into one
    * estimate WITHOUT touching a data file — the answer a query planner
    * or profiling sweep wants at 100 TB, where an exact distinct is a
    * full-table shuffle. Mergeability is the point: sketches compose
    * across files, appends, rewrites and snapshots, so the estimate is
    * always current at metadata cost (one tiny local job over ≤ nFiles
    * sketch binaries).
    *
    * Returns None when any non-empty file lacks a sketch for `column`
    * (an estimate that silently ignored files would be a lie). */
  def approxCountDistinct(
      spark: SparkSession,
      table: String,
      column: String,
      snapshotId: Option[Long] = None): Option[Long] = {
    val snap = resolveSnapshot(table, snapshotId)
    if (snap.files.exists(f => f.rowCount > 0 && !f.sketches.contains(column))) None
    else {
      // a sidecar another catalog dropped/vacuumed makes the estimate
      // un-derivable for that file — answer None (exact-scan fallback),
      // never a silent undercount
      val refs = snap.files.flatMap(_.sketches.get(column))
      if (refs.exists(p => !Files.exists(Paths.get(p)))) return None
      val bins = refs.map(p => Files.readAllBytes(Paths.get(p)))
      if (bins.isEmpty) Some(0L)
      else {
        import spark.implicits._
        Some(bins.toDF("sk")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("ndv"))
          .collect()(0).getLong(0))
      }
    }
  }

  // ---- pruning + read --------------------------------------------------

  /** File survives iff no filter can prove it empty. Partition values
    * are checked first — exact, no footer or stats needed — then column
    * stats and blooms. */
  private[meta] def fileMatches(f: FileMeta, filters: Seq[PruneFilter]): Boolean =
    filters.forall(matches(f, _))

  private def matches(f: FileMeta, filter: PruneFilter): Boolean =
    filter match {
      case EqString(c, v) =>
        f.partitionValues.get(c) match {
          case Some(pv) => pv == v
          case None =>
            val rangeOk = f.stats.get(c).forall { st =>
              (st.minS, st.maxS) match {
                case (Some(mi), Some(ma)) => mi <= v && v <= ma
                case _ => true
              }
            }
            val bloomOk = f.bloomFor(c).forall(_.mightContainString(v))
            rangeOk && bloomOk
        }
      case RangeNum(c, lo, hi) =>
        f.partitionValues.get(c).flatMap(pv => scala.util.Try(pv.toDouble).toOption) match {
          case Some(d) => d >= lo && d <= hi
          case None =>
            f.stats.get(c).forall { st =>
              (st.minD, st.maxD) match {
                case (Some(mi), Some(ma)) => ma >= lo && mi <= hi
                case _ => true
              }
            }
        }
      case RangeString(c, lo, hi) =>
        f.partitionValues.get(c) match {
          case Some(pv) => pv >= lo && pv <= hi
          case None =>
            f.stats.get(c).forall { st =>
              (st.minS, st.maxS) match {
                case (Some(mi), Some(ma)) => ma >= lo && mi <= hi
                case _ => true
              }
            }
        }
      case InString(c, vs) => vs.exists(v => matches(f, EqString(c, v)))
    }

  /** Project `df` into `target`'s columns and order: missing columns
    * null-fill, present ones cast to the target type — how an evolved
    * table renders rows written under an older schema (old files read
    * through the current schema). */
  private def renderAs(target: StructType, df: DataFrame): DataFrame =
    df.select(target.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else SnapshotCatalog.initialDefaultOf(f) match {
        // rows from an era predating the column read its initial-default
        // (matching the per-file stamp the scan serves), not a null fill
        case Some(sql) => expr(sql).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)

  /** Files of a snapshot surviving manifest pruning. */
  def planFiles(
      table: String,
      filters: Seq[PruneFilter] = Nil,
      snapshotId: Option[Long] = None,
      asOfTimestampMs: Option[Long] = None): Seq[FileMeta] =
    resolveSnapshot(table, snapshotId, asOfTimestampMs).files.filter(fileMatches(_, filters))

  /** The snapshot a read names: `snapshotId` if given, else the one
    * current at `asOfTimestampMs` if given, else the head. Throws when
    * the named snapshot does not exist — a reader that asked for a
    * version never silently gets another one. */
  private[graft] def resolveSnapshot(
      table: String,
      snapshotId: Option[Long] = None,
      asOfTimestampMs: Option[Long] = None): SnapshotMeta =
    (snapshotId, asOfTimestampMs) match {
      case (Some(id), _) => snapshotById(table, id).getOrElse(
        throw new IllegalArgumentException(s"Snapshot $id not found for table $table"))
      case (None, Some(ts)) => snapshotAsOf(table, ts).getOrElse(
        throw new IllegalArgumentException(s"No snapshot of $table at or before $ts ms"))
      case _ => currentSnapshot(table).getOrElse(
        throw new IllegalArgumentException(s"No snapshots for table $table"))
    }

  /** One commit of a feed range: `parent` is the previous SURVIVING
    * snapshot (the range start for the first step), so the commits of
    * expired interior snapshots fold into the next step. What the feeds
    * classify: the data files the commit removed and added, and (net
    * feed only) the files whose merge-on-read delete coverage changed. */
  private final class FeedStep(val parent: SnapshotMeta, val snap: SnapshotMeta) {
    private val parentPaths = parent.files.map(_.path).toSet
    val paths: Set[String] = snap.files.map(_.path).toSet
    val removed: Set[String] = parentPaths.diff(paths)
    val added: Seq[String] = snap.files.map(_.path).filterNot(parentPaths.contains)

    /** Files that stayed put while their MoR delete-entry coverage
      * changed (a new position delete masked rows, a rollback unmasked
      * them): a rewrite-in-place whose visible rows changed with zero
      * file churn. */
    lazy val morTouched: Set[String] =
      if (parent.deleteFiles == snap.deleteFiles) Set.empty
      else {
        def coverage(m: SnapshotMeta): Map[String, Set[String]] =
          m.deleteFiles.flatMap(d => d.dataPaths.map(_ -> d.path))
            .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val (pc, cc) = (coverage(parent), coverage(snap))
        (pc.keySet ++ cc.keySet)
          .filter(p => pc.getOrElse(p, Set.empty) != cc.getOrElse(p, Set.empty))
          .intersect(parentPaths).intersect(paths)
      }

    /** A RENAME re-labels columns mid-range: row-level parts built
      * BEFORE it carry the old names and would mis-render in the end
      * schema (null-filled, not mapped) — refuse, like Iceberg's
      * incremental scan refuses overwrites. Parts built after the last
      * in-range rename are in the end era and flow through; a rename
      * with no prior parts is a clean boundary. */
    def refuseRenameAfter(partsPending: Boolean, range: => String): Unit =
      for (rename <- snap.props.get(SnapshotCatalog.RenameProp) if partsPending &&
          snap.props.get(SnapshotCatalog.OperationProp).contains(SnapshotCatalog.OpSchemaEvolve))
        throw new UnsupportedOperationException(
          s"$range spans row-level rewrites followed by a column rename at snapshot " +
            s"${snap.snapshotId} ($rename); split the range at the rename commit")
  }

  /** The one walk over a feed range: a step per surviving snapshot in
    * (`from`, `to`], in commit order. Each snapshot is one O(1) manifest
    * probe; no data file is opened. */
  private def feedSteps(table: String, from: SnapshotMeta, to: SnapshotMeta): Seq[FeedStep] = {
    var parent = from
    ((from.snapshotId + 1) to to.snapshotId).flatMap(snapshotById(table, _)).map { s =>
      val step = new FeedStep(parent, s)
      parent = s
      step
    }
  }

  /** The `added` files still in `to`, read under `to`'s delete mask: an
    * appended row MoR-deleted inside the range did not survive, and must
    * not surface. */
  private def survivingAppends(
      spark: SparkSession, to: SnapshotMeta, added: Iterable[String]): DataFrame = {
    val toPaths = to.files.map(_.path).toSet
    visibleAs(spark, to.schema, to, added.iterator.filter(toPaths.contains).toSeq)
  }

  /** Incremental read: rows APPENDED between `fromSnapshotId`
    * (exclusive) and `toSnapshotId` (inclusive; default current) — the
    * Iceberg incremental-append-scan pattern for CDC-style consumption.
    * A fold over the range's commits ([[feedSteps]], the walk the net
    * and per-commit feeds share), classified by each commit's
    * `operation` label, so copy-on-write rewrites are never misread as
    * inserts: `append` (the default for legacy snapshots) contributes
    * its added files; a delete/rewrite commit's outputs carry surviving
    * OLD rows and are excluded, and a file removed mid-range drops out
    * of the result (its appended rows did not survive intact to `to` —
    * the same "appends only, no overwrites in range" contract Iceberg's
    * incremental scan enforces). Three rewrite kinds keep their appends
    * anyway: a `merge` contributes exactly its net-new files (recorded
    * in `insert_files` at commit), an `overwrite`'s outputs hold only
    * new rows, and a row-preserving `compact` substitutes outputs for
    * in-range inputs — path-wise when all its inputs were in-range,
    * row-wise (outputs minus pre-existing rows) when the bin mixed eras.
    * An expired interior snapshot folds into the next commit (a path
    * diff across the gap); an expired `from` throws. MoR delete coverage
    * changes classify nothing here: appended rows are read under `to`'s
    * mask. */
  def readIncremental(
      spark: SparkSession,
      table: String,
      fromSnapshotId: Long,
      toSnapshotId: Option[Long] = None): DataFrame = {
    val from = resolveSnapshot(table, Some(fromSnapshotId))
    val to = resolveSnapshot(table, toSnapshotId)
    val added = scala.collection.mutable.LinkedHashSet[String]()
    // row-level parts for rewrites whose appends can't be carved out
    // path-wise (a compaction that bin-packed pre-existing files together
    // with in-range appends), keyed by the rewrite's output paths so a
    // LATER commit rewriting those outputs invalidates the part
    val extraParts = scala.collection.mutable.ArrayBuffer[(Set[String], DataFrame)]()
    feedSteps(table, from, to).foreach { step =>
      step.refuseRenameAfter(extraParts.nonEmpty,
        s"readIncremental($fromSnapshotId,${to.snapshotId}) on $table")
      val removed = step.removed
      // a commit that rewrites any output of an earlier mixed
      // compaction may have retired some of that carve-out's rows; the
      // row-level lineage can't tell which, so the whole part is
      // dropped — conservative under-report (this feed promises
      // appended-rows-that-survive, never resurrection)
      extraParts.filterInPlace { case (outs, _) => outs.intersect(removed).isEmpty }
      step.snap.props.getOrElse(SnapshotCatalog.OperationProp, SnapshotCatalog.OpAppend) match {
        case SnapshotCatalog.OpAppend | SnapshotCatalog.OpOverwrite =>
          // a dynamic partition overwrite's outputs hold only brand-new
          // rows (replaced files drop wholesale, they are never read) —
          // the removed paths fall out of `added` below
          added ++= step.added
        case SnapshotCatalog.OpMerge =>
          // a merge commit separates its outputs: survivor rewrites
          // (old rows — excluded) vs pure net-new files (listed in
          // insert_files — these ARE appends: new keys and new
          // versions of updated keys)
          added ++= step.snap.props.get(SnapshotCatalog.InsertFilesProp).toSeq
            .flatMap(_.split(',')).filter(step.paths.contains)
        case SnapshotCatalog.OpCompact if removed.forall(added.contains) =>
          // row-preserving rewrite whose inputs were ALL appended
          // in-range: the outputs hold exactly those appended rows, so
          // lineage substitutes outputs for inputs — compaction does
          // not eat in-range appends
          added ++= step.added
        case SnapshotCatalog.OpCompact if removed.exists(added.contains) =>
          // mixed-input compaction: outputs interleave pre-existing
          // rows with in-range appends. Row-level lineage recovers the
          // appends exactly — outputs minus the pre-existing inputs'
          // rows (compaction preserves rows, so the multiset
          // difference IS the in-range contribution). Cost is bounded
          // by the compacted bytes, not the table. Visible rows on both
          // sides: the pre-existing inputs as the compaction saw them
          // (the parent's delete mask — compact reads visible rows), the
          // outputs under `to`'s mask (a LATER MoR delete on an output
          // must not resurface those rows as in-range appends)
          val preExisting = removed.filterNot(added.contains)
          extraParts += ((step.added.toSet,
            visibleAs(spark, step.snap.schema, to, step.added)
              .exceptAll(visibleAs(spark, step.snap.schema, step.parent, preExisting.toSeq))))
        case _ => // delete / generic rewrite / all-pre-existing compact:
          // outputs carry surviving OLD rows — never appends
      }
      // files this commit removed (rewritten or fully deleted) no
      // longer hold their appended rows intact
      removed.foreach(added.remove)
    }
    val toPaths = to.files.map(_.path).toSet
    extraParts.collect { case (outs, df) if outs.subsetOf(toPaths) => df }
      .foldLeft(survivingAppends(spark, to, added))(_.unionByName(_, allowMissingColumns = true))
  }

  /** Row-level NET change feed between two snapshots, in a
    * `_change_type` column: `insert` = rows present at `to` but not at
    * `from`; `delete` = rows present at `from` but not at `to` — so
    * applying the feed to the `from` state reproduces the `to` state.
    * A fold over the range's commits ([[feedSteps]], shared with
    * [[readIncremental]] and [[changesPerCommit]]) that classifies each
    * commit by its file delta, not its label ([[netChanges]] has the
    * rules): appends are file-level scans, rewrites diff only their own
    * inputs and outputs, and row versions introduced and retired inside
    * the range cancel. An expired interior snapshot folds into the next
    * commit; an expired `from` throws.
    *
    * Guarantees (property-tested over random op interleavings in
    * `CdcLifecycleSpec`): applying the feed to the `from` state
    * reproduces the `to` state as a multiset; every `delete` row was
    * present at `from`; every `insert` row is present at `to`. A row
    * present at both endpoints whose physical copy turned over (deleted
    * from a pre-existing file, re-appended later) may appear as a
    * matched insert+delete pair — net-equivalent under apply.
    *
    * Scale: per delete commit this reads only the files that commit
    * actually rewrote (bounded by the delete's prune set), and the
    * except-all is a hash anti-semantics shuffle on those rows alone —
    * never a diff of whole snapshots. */
  def changesBetween(
      spark: SparkSession,
      table: String,
      fromSnapshotId: Long,
      toSnapshotId: Option[Long] = None): DataFrame = {
    val from = resolveSnapshot(table, Some(fromSnapshotId))
    val to = resolveSnapshot(table, toSnapshotId)
    netChanges(spark, to, feedSteps(table, from, to),
      s"changesBetween($fromSnapshotId,${to.snapshotId}) on $table")
  }

  /** Per-commit change feed (the Delta CDF surface: `_change_type` plus
    * `_commit_snapshot_id` / `_commit_timestamp_ms` attribution): the
    * net fold of each commit of ONE walk over the range, on its own,
    * unioned in commit order. Use this when the consumer needs to know
    * WHICH commit changed a row (audit trails, ordered replay); use the
    * net [[changesBetween]] when only the endpoint delta matters — the
    * net feed cancels intra-range churn, this one preserves it.
    *
    * Cost: each commit's part is bounded by that commit's rewritten
    * bytes (appends are file-level scans, rewrites diff only their
    * inputs/outputs), so the whole feed costs the sum of the commits'
    * own work — never commits × table. Expired interior snapshots fold
    * into the next surviving commit, attributed to it; an expired `from`
    * starts the feed at the first surviving snapshot after it. An empty
    * range is an empty frame with the attribution columns. */
  def changesPerCommit(
      spark: SparkSession,
      table: String,
      fromSnapshotId: Long,
      toSnapshotId: Option[Long] = None): DataFrame = {
    val to = resolveSnapshot(table, toSnapshotId)
    def attributed(s: SnapshotMeta, steps: Seq[FeedStep]): DataFrame =
      netChanges(spark, s, steps, s"changesPerCommit($fromSnapshotId,${to.snapshotId}) on $table")
        .withColumn("_commit_snapshot_id", lit(s.snapshotId))
        .withColumn("_commit_timestamp_ms", lit(s.timestampMs))
    snapshotById(table, fromSnapshotId).orElse(snapshots(table).find(_.snapshotId > fromSnapshotId))
      .toSeq.flatMap(feedSteps(table, _, to)).map(step => attributed(step.snap, Seq(step)))
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(attributed(to, Nil).limit(0))
  }

  /** The net fold over `steps`, rendered in `to`'s schema. A commit
    * that removes no file only adds rows, whatever its label (plain
    * append, insert-only merge). Otherwise the rewrite is classified by
    * whether its inputs were themselves appended inside the range:
    *
    *   - pure in-range rewrite (all inputs appended since `from`): the
    *     outputs carry only surviving in-range rows, so they remain on
    *     the insert side and nothing is a `from`-row delete;
    *   - pre-existing or mixed inputs: the rewrite contributes `before
    *     EXCEPT ALL after` deletes and `after EXCEPT ALL before` inserts
    *     (visible rows, each side under its own snapshot's delete mask),
    *     and the two row-level sides are multiset-cancelled against each
    *     other at the end, so a row version that was both introduced AND
    *     retired inside the range (a merge's insert later re-merged, a
    *     delete of a row a rewrite had produced) never surfaces.
    *
    * A file whose MoR coverage changed counts as removed and re-added,
    * so a MoR delete diffs to exactly its killed rows and a delete
    * materialization (same visible rows, new files) to nothing. */
  private def netChanges(
      spark: SparkSession,
      to: SnapshotMeta,
      steps: Seq[FeedStep],
      range: => String): DataFrame = {
    val added = scala.collection.mutable.LinkedHashSet[String]()
    val deleteParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val insertParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    steps.foreach { step =>
      step.refuseRenameAfter(insertParts.nonEmpty || deleteParts.nonEmpty, range)
      val removed = step.removed ++ step.morTouched
      val newPaths = step.added ++ step.morTouched.toSeq.sorted
      // a true append never removes files: a commit that does (e.g. a
      // legacy COW delete whose manifest predates the operation prop)
      // takes the rewrite classification regardless of the labeled op
      val removedPreExisting = removed.filterNot(added.contains)
      removed.foreach(added.remove)
      if (removedPreExisting.isEmpty) added ++= newPaths
      else {
        val before = visibleAs(spark, step.snap.schema, step.parent, removedPreExisting.toSeq)
        val after = visibleAs(spark, step.snap.schema, step.snap, newPaths)
        // parts render in the END schema (columns evolved later in the
        // range null-fill; the within-commit diff runs on the commit's
        // own schema first, so its cancellation is exact)
        deleteParts += renderAs(to.schema, before.exceptAll(after))
        insertParts += renderAs(to.schema, after.exceptAll(before))
      }
    }
    // Net the row-level sides against each other (a row version
    // introduced by one in-range rewrite and retired by a later one
    // appears in both). Both sides are bounded by the range's rewritten
    // bytes, so the two except-alls stay cheap at scale; the file-level
    // append side can't produce phantom rows and is deliberately left
    // out of the netting so bulk appends remain a straight parquet scan.
    val (netIns, netDel) =
      (insertParts.reduceOption(_ unionByName _), deleteParts.reduceOption(_ unionByName _)) match {
        case (Some(i), Some(d0)) =>
          // exceptAll resolves POSITIONALLY; parts from different
          // commits can carry the same columns in evolved order — align
          // by name first (differing column SETS already fail loudly in
          // the unionByName reduce above)
          val d = d0.select(i.columns.map(col): _*)
          (Some(i.exceptAll(d)), Some(d.exceptAll(i)))
        case other => other
      }
    val inserted = netIns
      .foldLeft(survivingAppends(spark, to, added))(_ unionByName _)
      .withColumn("_change_type", lit("insert"))
    val deleted = netDel.getOrElse(visibleAs(spark, to.schema, to, Nil))
      .withColumn("_change_type", lit("delete"))
    inserted.unionByName(deleted, allowMissingColumns = true)
  }

  /** Expire old snapshots, keeping the most recent `keepLast` manifests
    * plus any snapshot a tag references (ref-reachability, as Iceberg's
    * expire_snapshots honors refs). Metadata-only: data files are
    * untouched ([[vacuumDataFiles]]) and so are index sidecars
    * ([[vacuumSidecars]] — expire must not GC blooms inline, because a
    * branch forked before the expire can still reference them, and an
    * in-flight commit's sidecars land before its manifest publishes;
    * the vacuum's branch-aware liveness + grace window cover both).
    * Returns the number removed. The age-free case of
    * [[expireSnapshotsOlderThan]]. */
  def expireSnapshots(table: String, keepLast: Int, dryRun: Boolean = false): Int =
    expireSnapshotsOlderThan(table, Long.MaxValue, keepLast, dryRun)

  /** Age-based expiration (Iceberg's `expire_snapshots(older_than,
    * retain_last)`): drop snapshots committed strictly before
    * `olderThanMs`, always retaining the newest `retainLast` and every
    * tag-reachable snapshot regardless of age — the retention-policy
    * sweep a streaming table schedules (time-bounded history instead
    * of count-bounded). Metadata-only, like [[expireSnapshots]]. */
  def expireSnapshotsOlderThan(table: String, olderThanMs: Long, retainLast: Int = 1,
      dryRun: Boolean = false): Int = {
    require(retainLast >= 1, "must retain at least one snapshot")
    val snaps = snapshots(table)
    val tagged = tags(table).values.toSet
    val toDrop = snaps.dropRight(retainLast)
      .filter(_.timestampMs < olderThanMs)
      .filterNot(s => tagged.contains(s.snapshotId))
    if (!dryRun) toDrop.foreach { s => Files.deleteIfExists(snapPath(table, s.snapshotId)) }
    toDrop.size
  }

  /** Enforce the table's OWN declared retention policy — the sticky
    * `graft.retention.snapshots` (count bound) / `graft.retention.ms`
    * (age bound) props set via `ALTER TABLE SET TBLPROPERTIES`. Age
    * alone: drop snapshots older than the age, always keeping the head.
    * Count alone: keep the newest N. Both: age drives expiry, count is
    * the keep-floor (Iceberg `expire_snapshots(older_than, retain_last)`
    * semantics). Tags are always retained, like every expire path.
    * Refuses loudly when the table declares no history policy — a
    * maintenance sweep must never silently trim a table that never
    * opted in. Returns the number expired (with `dryRun`, the number
    * that WOULD expire, nothing touched — the safety valve before
    * declaring an aggressive policy). Metadata-only, O(snapshots).
    * The ROW-TTL half of the policy (the `graft.retention.rows.*`
    * props) needs a data commit, so it lives in
    * `Writers.enforceRetention`, which composes both. */
  def enforceRetention(table: String, dryRun: Boolean = false): Int = {
    val props = resolveSnapshot(table).props
    val keep = props.get(SnapshotCatalog.RetentionSnapshotsProp).map { v =>
      val n = v.toInt
      require(n >= 1, s"${SnapshotCatalog.RetentionSnapshotsProp} must be >= 1; got $v")
      n
    }
    val ageMs = props.get(SnapshotCatalog.RetentionAgeMsProp).map { v =>
      val n = v.toLong
      require(n >= 0, s"${SnapshotCatalog.RetentionAgeMsProp} must be >= 0; got $v")
      n
    }
    require(keep.nonEmpty || ageMs.nonEmpty,
      s"table $table declares no retention policy; ALTER TABLE $table SET " +
        s"TBLPROPERTIES ('${SnapshotCatalog.RetentionSnapshotsProp}'='N') and/or " +
        s"('${SnapshotCatalog.RetentionAgeMsProp}'='MS') first")
    ageMs match {
      case Some(a) =>
        expireSnapshotsOlderThan(table, clock() - a, keep.getOrElse(1), dryRun = dryRun)
      case None => expireSnapshots(table, keep.get, dryRun = dryRun)
    }
  }

  /** Does `table` declare any retention policy (history OR row-TTL)?
    * The no-arg `CALL graft.enforce_retention()` sweep enforces exactly
    * the tables where this holds. */
  def hasRetentionPolicy(table: String): Boolean =
    currentSnapshot(table).exists(s =>
      s.props.contains(SnapshotCatalog.RetentionSnapshotsProp) ||
        s.props.contains(SnapshotCatalog.RetentionAgeMsProp) ||
        s.props.contains(SnapshotCatalog.RetentionRowsMsProp) ||
        // a column-only HALF policy counts too: the sweep must reach the
        // table and refuse loudly there, never silently skip a typo
        s.props.contains(SnapshotCatalog.RetentionRowsColumnProp))

  /** The catalog's clock — injectable for tests/replay; every retention
    * cutoff (history AND row TTL) must come from the SAME clock or one
    * enforce call gets a split-brain sweep. */
  private[graft] def now(): Long = clock()

  /** Does `table` declare a HISTORY retention bound (count/age)? */
  def hasHistoryRetention(table: String): Boolean =
    currentSnapshot(table).exists(s =>
      s.props.contains(SnapshotCatalog.RetentionSnapshotsProp) ||
        s.props.contains(SnapshotCatalog.RetentionAgeMsProp))

  /** Orphan data-file GC (the Iceberg remove_orphan_files analogue):
    * delete `.parquet` files under `dataDir` that no surviving snapshot
    * references ([[sweep]] has the liveness rule) — the data-side
    * complement of [[expireSnapshots]] (which is metadata-only). COW
    * rewrites and compactions strand their input files once the
    * snapshots that referenced them expire; without GC, storage grows
    * with write amplification instead of live data.
    *
    * `dataDir` must belong exclusively to this table (the same contract
    * Iceberg's action has for a table location). Files newer than
    * `graceMs` are kept: an in-flight commit writes data files BEFORE
    * its manifest publishes, and the grace window keeps the race away.
    * The write directories the deletions leave without a data file go
    * too ([[dropDeadWriteDirs]]). Returns the deleted `.parquet` paths. */
  def vacuumDataFiles(table: String, dataDir: String, graceMs: Long = 3600 * 1000L,
      dryRun: Boolean = false): Seq[String] = {
    // Walk must tolerate a racing writer: Spark deletes `_temporary/`
    // commit-protocol dirs at job end, and Files.walk throws
    // NoSuchFileException when an entry vanishes mid-walk — a vacuum
    // that dies whenever a writer is active is useless, so use a
    // visitor that skips in-flight commit dirs and ignores vanished
    // entries (they were never vacuum candidates anyway).
    val found = List.newBuilder[String]
    Files.walkFileTree(Paths.get(dataDir), new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes): FileVisitResult =
        if (d.getFileName != null && d.getFileName.toString == "_temporary")
          FileVisitResult.SKIP_SUBTREE
        else FileVisitResult.CONTINUE
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (f.getFileName.toString.endsWith(".parquet"))
          found += f.toAbsolutePath.toString
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    val deleted = sweep(table, found.result(), graceMs, dryRun)
    if (!dryRun) dropDeadWriteDirs(Paths.get(dataDir), deleted)
    deleted
  }

  /** Remove each directory under `base` that the deletion of the
    * `deleted` files left holding nothing but Spark's commit bookkeeping
    * (`_SUCCESS`, `.crc` files) — no data file, no sidecar, no
    * `_temporary` entry of a commit in flight: every write goes to a
    * fresh directory, so without this each vacuumed write leaves one
    * behind. Climbs toward `base`, never removing `base` itself; a
    * directory that changes mid-check stays. */
  private def dropDeadWriteDirs(base: Path, deleted: Seq[String]): Unit =
    deleted.flatMap(p => Option(Paths.get(p).getParent)).distinct.sortBy(-_.getNameCount)
      .foreach { start =>
        var d = start
        while (d.startsWith(base.toAbsolutePath) && d != base.toAbsolutePath &&
            scala.util.Try(filesUnder(d).forall(p => !p.contains("/_temporary/") &&
              (p.endsWith("/_SUCCESS") || p.endsWith(".crc")))).getOrElse(false) &&
            SnapshotCatalog.deleteRecursively(d))
          d = d.getParent
      }

  /** The step both vacuums share: delete the `candidates` of `table`'s
    * vacuum that no snapshot references and that are older than
    * `graceMs` (an in-flight commit writes its files BEFORE its
    * manifest publishes). Live are the paths any snapshot of ANY table
    * or branch in this catalog references — a branch shares its table's
    * directories, and a zero-copy clone lists the source's files and
    * sidecars verbatim, so expiring the cloned-from snapshot must not
    * free them — plus the staged-but-unpublished WAP paths of `table`
    * and its branches (an in-audit stage survives a routine vacuum;
    * discard is the explicit path out). O(catalog metadata), memoized
    * manifests — a maintenance-op cost. With `dryRun`, reports what
    * WOULD go (the VACUUM DRY RUN safety valve). Returns the deleted
    * paths. */
  private def sweep(table: String, candidates: Seq[String], graceMs: Long,
      dryRun: Boolean): Seq[String] = {
    val own = refsOf(table)
    val live = liveSet(own ++ tables().filterNot(_ == table).flatMap(refsOf)) ++
      own.flatMap(r => listStaged(r).flatMap(staged(r, _)).flatMap(_.paths)).map(normalize)
    val cutoff = clock() - graceMs
    val doomed = candidates
      .filterNot(isLive(live, _))
      .filter(p => scala.util.Try(
        Files.getLastModifiedTime(Paths.get(p)).toMillis < cutoff).getOrElse(false))
    if (dryRun) doomed else doomed.filter(deletePayload)
  }

  // ---- committed vector index accessors (r17, [[VectorIndex]]) ---------

  /** Sidecar dir of the committed vector index (model JSONs + per-commit
    * codes parquet dirs). */
  private[meta] def pqIndexDir(table: String): Path =
    tableDir(table).resolve(SnapshotCatalog.PqIndexDir)

  /** Logical-era scan of `paths` with `_file` lineage for index
    * backfills ([[VectorIndex.indexVectors]]): renamed/widened/
    * partition-landed files encode under their current logical names,
    * the same read the [[indexColumns]] backfill uses. */
  private[meta] def scanFilesWithLineage(
      spark: SparkSession, snap: SnapshotMeta, paths: Seq[String]): DataFrame =
    readLogical(spark, snap.schema, snap, paths, withLineage = true)

  /** GC orphan SIDECARS (blooms, sketches, vector-index models and
    * codes): every rewrite retires its inputs' index files, and after
    * the inputs' snapshots expire nothing references those sidecars —
    * on a streaming table (a commit per micro-batch, sticky indexing)
    * they otherwise accumulate forever. Candidates are the entries of
    * the sidecar payload dirs of the table, of every branch directory
    * on disk (a dropped branch's sidecars are reclaimed too) and of
    * the directory a rename left them in ([[reclaimDirs]]); a PQ codes
    * dir goes whole. Liveness, grace window and dry run
    * are the data vacuum's ([[vacuumDataFiles]]). Returns deleted
    * paths. */
  def vacuumSidecars(table: String, graceMs: Long = 3600 * 1000L,
      dryRun: Boolean = false): Seq[String] = {
    val candidates = reclaimDirs(table)
      .filter(d => d.getFileName.toString != SnapshotCatalog.DataDir && Files.isDirectory(d))
      .flatMap { dir =>
        val stream = Files.list(dir)
        try stream.iterator().asScala.map(_.toAbsolutePath.toString).toList
        finally stream.close()
      }
    sweep(table, candidates, graceMs, dryRun)
  }

  /** The rows of `paths` VISIBLE under `snap` — raw parquet rows minus
    * the snapshot's outstanding merge-on-read position deletes. This is
    * the one read primitive every consumer (table reads, CDC walks,
    * copy-on-write rewrites, compaction) routes through, so a MoR delete
    * is indistinguishable from a COW delete everywhere above it.
    *
    * Fast path: no delete file references any of `paths` → a plain
    * parquet scan, byte-identical plan to the pre-MoR engine (pushdown,
    * pruning and codegen untouched). Slow path: the scan adds the
    * constant-per-file `_metadata` columns and LEFT ANTI joins the
    * (file, pos) entries; delete files are tiny relative to data (a 1-row
    * delete on a 1 GB file is ~100 bytes), so the join side is
    * explicitly broadcast — at 100 TB the apply is a map-side hash probe
    * per row, never a shuffle of the data. */
  def visibleRows(spark: SparkSession, snap: SnapshotMeta, paths: Seq[String]): DataFrame =
    visibleAs(spark, snap.schema, snap, paths)

  /** [[visibleRows]] with independent schema and delete-entry sources:
    * the CDC walks read one commit's files under a LATER snapshot's
    * delete mask (e.g. a mixed compaction's outputs masked by `to`'s
    * entries) or an EARLIER one's (the before-image of a rewrite). */
  /** Scan `paths` rendering the LOGICAL `schema` of `entrySnap`'s era:
    * files whose manifest entry carries column renames (S48) are read
    * under their PHYSICAL schema and aliased back — one scan per
    * distinct mapping (= rename eras touched, tiny), unioned by name.
    * A physical column claimed by a rename or drop tombstone is never
    * readable under its literal name again: a later re-added column of
    * the same name reads as null from old files instead of resurrecting
    * the dead bytes (the Iceberg field-id guarantee, name-mapped).
    * `withLineage` appends the `_file`/`_pos` columns the MoR masks key
    * on. */
  private def readLogical(
      spark: SparkSession,
      schema: StructType,
      entrySnap: SnapshotMeta,
      paths: Seq[String],
      withLineage: Boolean): DataFrame = {
    if (paths.isEmpty) {
      val s = if (!withLineage) schema
        else schema.add("_file", StringType).add("_pos", LongType)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    }
    val schemaNames = schema.fieldNames.toSet
    val renOf: Map[String, (Map[String, String], Map[String, String], Map[String, String],
        Map[String, String])] =
      entrySnap.files.map(f => f.path ->
        // a hive-layout file's partition columns live in its DIRECTORY
        // name, not its bytes — restrict to schema fields so unrelated
        // k=v path segments can never shadow a real column
        (f.renames, f.physTypes, f.defaults,
          f.partitionValues.filter(kv => schemaNames.contains(kv._1)))).toMap
    def entryOf(p: String): (Map[String, String], Map[String, String], Map[String, String],
        Map[String, String]) =
      renOf.getOrElse(normalize(p),
        (Map.empty[String, String], Map.empty[String, String],
          Map.empty[String, String], Map.empty[String, String]))
    // group by the SHAPE of the mapping — rename era, stored types,
    // defaults, and the partition-served column SET, never the partition
    // VALUES: the key space is bounded by schema-evolution history
    // (tiny), not partition cardinality, so a year of days(ts) landings
    // plans ONE scan + one broadcast join, not 365 union legs. The
    // per-file values are served WITHIN the scan below.
    paths.groupBy { p => val e = entryOf(p); (e._1, e._2, e._3, e._4.keySet) }
      .map { case ((ren, ptypes, defs, pvCols), ps) =>
      val inv = ren.map(_.swap) // logical -> physical
      def physName(logical: String): String =
        inv.getOrElse(logical,
          // the literal name belongs to a renamed-away or dropped
          // physical column in THIS file: read absent (nulls), never
          // the dead bytes
          if (ren.contains(logical)) s"__graft_absent__$logical" else logical)
      // a widened column reads under the file's STORED type (no
      // reliance on parquet reader promotion) and casts up below —
      // the promotion lattice guarantees the cast is lossless
      def physType(pn: String, logical: org.apache.spark.sql.types.DataType) =
        ptypes.get(pn).map(org.apache.spark.sql.types.DataType.fromDDL).getOrElse(logical)
      val physSchema = StructType(schema.fields.map(f =>
        f.copy(name = physName(f.name), dataType = physType(physName(f.name), f.dataType))))
      val base = spark.read.schema(physSchema).parquet(ps: _*)
      // a hive PARTITION VALUE is a default one level up: the column
      // lives in the k=v directory segment, not the file's bytes, so a
      // SCHEMA column found in the files' manifest partitionValues is
      // served from the manifest — per FILE, inside the single scan,
      // via a broadcast join of the (file → decoded values) map. The
      // MANIFEST side is pre-rendered to `_metadata.file_path`'s exact
      // URI form ([[SnapshotCatalog.scanUri]]) so the join keys on the
      // raw metadata column — no per-row regexp normalization on the
      // stream side. The join side is manifest-sized and map-side; plan
      // size stays O(1) in partition count.
      val pvOrdered: Seq[String] = schema.fields.map(_.name).filter(pvCols.contains).toSeq
      val joined =
        if (pvOrdered.isEmpty) base
        else {
          val pvSchema = StructType(
            StructField("__graft_pv_file", StringType) +:
              pvOrdered.map(c => StructField(s"__graft_pv_$c", StringType)))
          val pvRows: Seq[Row] = ps.map { p =>
            val vals = entryOf(p)._4
            // Spark's null-partition sentinel decodes to a true null here
            Row.fromSeq(SnapshotCatalog.scanUri(normalize(p)) +:
              pvOrdered.map(c =>
                vals.get(c).filterNot(_ == "__HIVE_DEFAULT_PARTITION__").orNull))
          }
          base.join(
            broadcast(spark.createDataFrame(pvRows.asJava, pvSchema)),
            col("_metadata.file_path") === col("__graft_pv_file"),
            "left")
        }
      val cols = schema.fields.toSeq.map { f =>
        // a default stamp means the column is ABSENT from these files'
        // bytes (initial-default of an ADD, or write-default of an
        // append that omitted it): serve the stored literal — never a
        // null fill, never the physical read. Partition-served columns
        // read the joined manifest value, cast to the declared type —
        // a partition-landed ingest reads back its partition column
        // instead of a null fill.
        val c =
          if (pvCols.contains(f.name)) col(s"__graft_pv_${f.name}").cast(f.dataType)
          else defs.get(f.name) match {
            case Some(sql) => expr(sql).cast(f.dataType)
            case None =>
              val pn = physName(f.name)
              if (physType(pn, f.dataType) == f.dataType) col(pn)
              else col(pn).cast(f.dataType)
          }
        c.as(f.name)
      } ++
        (if (withLineage)
          Seq(col("_metadata.file_path").as("_file"), col("_metadata.row_index").as("_pos"))
         else Nil)
      joined.select(cols: _*)
    }.reduce(_ unionByName _)
  }

  private[meta] def visibleAs(
      spark: SparkSession,
      schema: StructType,
      entrySnap: SnapshotMeta,
      paths: Seq[String]): DataFrame = {
    if (paths.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val dels = entrySnap.deletesFor(paths)
    if (dels.isEmpty) return readLogical(spark, schema, entrySnap, paths, withLineage = false)
    // only the files a mask actually references pay the anti-join; the
    // rest stay a bare scan (1 masked file in 10k → 1 file's rows probe
    // the broadcast hash, not the whole table)
    val referenced = dels.flatMap(_.dataPaths).toSet
    val (masked, clean) = paths.partition(referenced.contains)
    val maskedRows = applyDeleteMasks(spark,
      readLogical(spark, schema, entrySnap, masked, withLineage = true),
      dels)
      .drop("_file", "_pos")
    if (clean.isEmpty) maskedRows
    else maskedRows.unionByName(readLogical(spark, schema, entrySnap, clean, withLineage = false))
  }

  /** Visible rows WITH their `_file`/`_pos` scan lineage attached — the
    * MoR delete writer marks rows through this so a second delete on the
    * same file records RAW positions (stable for the file's life) while
    * only ever seeing still-live rows. */
  def visibleRowsLineage(spark: SparkSession, snap: SnapshotMeta, paths: Seq[String]): DataFrame = {
    val base = readLogical(spark, snap.schema, snap, paths, withLineage = true)
    applyDeleteMasks(spark, base, snap.deletesFor(paths))
  }

  /** Subtract every delete mask from a lineaged frame (`_file`/`_pos`
    * attached). Position entries collapse into ONE broadcast anti-join
    * regardless of how many delete files stack; each equality delete
    * file is one broadcast anti-join on its key columns, scoped to the
    * data files that existed when it committed (a later append of the
    * same key stays visible). All joins are broadcast (delete files are
    * tiny by design) — the apply cost is map-side hash probes, and
    * [[graft.sinks.Writers.materializeDeletes]] collapses a long stack
    * back to zero. */
  private def applyDeleteMasks(
      spark: SparkSession,
      base: DataFrame,
      dels: Seq[DeleteFileMeta]): DataFrame = {
    if (dels.isEmpty) return base
    val (eqDels, posDels) = dels.partition(_.isEquality)
    var cur = base
    if (posDels.nonEmpty) {
      val entries = spark.read.parquet(posDels.map(_.path): _*)
        .select(col("_file"), col("_pos")).dropDuplicates("_file", "_pos")
      cur = cur.join(broadcast(entries), Seq("_file", "_pos"), "left_anti")
    }
    // DeleteFileMeta dataPaths are stored as plain normalized paths;
    // the `_file` column is `_metadata.file_path`'s URI rendering with
    // percent-ENCODED specials — so the manifest side renders each
    // dataPath into that exact form ([[SnapshotCatalog.scanUri]]) and
    // the filter keys on the raw column: no per-row regexp, and no
    // url-decoding of the column (url_decode would corrupt a literal
    // `+` in a name to a space)
    eqDels.foreach { d =>
      val keys = spark.read.parquet(d.path)
      val cond = d.equalityColumns
        .map(c => cur(c) <=> keys(c))
        .reduce(_ && _) && col("_file").isin(d.dataPaths.map(SnapshotCatalog.scanUri): _*)
      cur = cur.join(broadcast(keys), cond, "left_anti")
    }
    cur
  }

  /** Time-travel read with manifest pruning (reference: metadata.py:257
    * `time_travel_scan`). Returns an empty frame with the snapshot schema
    * when every file is pruned. Outstanding MoR position deletes are
    * applied (see [[visibleRows]]); min/max/bloom pruning stays sound
    * because a file's visible rows are a subset of its raw rows. A
    * snapshot id or as-of time that names no snapshot throws. */
  def read(
      spark: SparkSession,
      table: String,
      filters: Seq[PruneFilter] = Nil,
      snapshotId: Option[Long] = None,
      asOfTimestampMs: Option[Long] = None): DataFrame =
    readSnapshot(spark, resolveSnapshot(table, snapshotId, asOfTimestampMs), filters)

  /** Read an already-RESOLVED snapshot — no name re-resolution and no
    * current-head fallback: the caller pinned the state, and a reader
    * that silently serves a DIFFERENT snapshot than the one validated
    * (e.g. after a concurrent expire) is the failure mode this overload
    * exists to close (export uses it for version/as-of reads). */
  def readSnapshot(spark: SparkSession, snap: SnapshotMeta,
      filters: Seq[PruneFilter] = Nil): DataFrame = {
    val files = snap.files.filter(fileMatches(_, filters))
    visibleRows(spark, snap, files.map(_.path))
  }

  /** Files that can contribute to the global top-k on `column`,
    * proven from manifest stats alone (no data read). The bound: sort
    * files by their best GUARANTEED value (min for largest-k — every
    * non-null row is ≥ it), accumulate guaranteed non-null row counts
    * (rowCount − nullCount, zeroed for files under an outstanding MoR
    * mask) until ≥ k; any file whose best possible value (max for
    * largest-k) falls strictly below that bound cannot place a row in
    * the top-k. On a range/z-order clustered layout this keeps O(k /
    * rows-per-file) files of a 100k-file table — ORDER BY LIMIT as a
    * metadata operation (the Iceberg/Delta file-skipping analogue of a
    * sorted table's top-k; pairs with [[graft.sinks.Writers.writeRangedSnapshot]]).
    * Files lacking the column's stats or null counts are kept AND
    * contribute no guarantee — pruning degrades to nothing rather than
    * to a wrong answer. Ties at the bound are kept (≥). */
  def topKFiles(
      table: String,
      column: String,
      k: Int,
      smallest: Boolean = false,
      snapshotId: Option[Long] = None): Seq[FileMeta] = {
    require(k > 0, "k must be positive")
    val snap = resolveSnapshot(table, snapshotId)
    val masked: Set[String] = snap.deleteFiles.flatMap(_.dataPaths).toSet
    // (guaranteedValue, bestValue, guaranteedRows) per file, numeric or
    // lexicographic — None when the file can't participate in bounding
    def numeric(f: FileMeta) = f.stats.get(column).flatMap(st =>
      (st.minD, st.maxD) match {
        case (Some(mi), Some(ma)) => Some((mi, ma)); case _ => None })
    def lex(f: FileMeta) = f.stats.get(column).flatMap(st =>
      (st.minS, st.maxS) match {
        case (Some(mi), Some(ma)) => Some((mi, ma)); case _ => None })
    val useNumeric = snap.files.exists(numeric(_).isDefined)
    def bounds(f: FileMeta): Option[(Any, Any)] =
      if (useNumeric) numeric(f).map { case (mi, ma) => if (smallest) (ma, mi) else (mi, ma) }
      else lex(f).map { case (mi, ma) => if (smallest) (ma, mi) else (mi, ma) }
    def better(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => if (smallest) x < y else x > y
      case (x: String, y: String) => if (smallest) x < y else x > y
      case _ => false
    }
    def guaranteedRows(f: FileMeta): Long =
      if (masked.contains(f.path)) 0L
      else f.stats.get(column).flatMap(_.nullCount).map(n => f.rowCount - n).getOrElse(0L)
    val withBounds = snap.files.map(f => (f, bounds(f)))
    // accumulate guarantees best-first until k rows are provably ahead
    val ranked = withBounds.collect { case (f, Some((g, _))) => (f, g) }
      .sortWith((a, b) => better(a._2, b._2))
    var acc = 0L
    var bound: Option[Any] = None
    val it = ranked.iterator
    while (acc < k && it.hasNext) {
      val (f, g) = it.next()
      val rows = guaranteedRows(f)
      if (rows > 0) { acc += rows; bound = Some(g) }
    }
    if (acc < k) snap.files // cannot prove k rows ahead of anything: keep all
    else snap.files.filter { f =>
      bounds(f) match {
        case Some((_, best)) => !better(bound.get, best) // keep unless bound strictly beats best
        case None => true
      }
    }
  }

  /** Top-k rows by `column` served from the stats-pruned file set (see
    * [[topKFiles]]): reads only files that can prove a contribution,
    * then one TakeOrdered over them. `extraOrder` breaks ties
    * deterministically (pruning is unaffected: a pruned file's rows sit
    * strictly below the bound, so they can never tie into the result).
    * Nulls sort LAST in both directions (ANSI `NULLS LAST`). */
  def topKByStats(
      spark: SparkSession,
      table: String,
      column: String,
      k: Int,
      smallest: Boolean = false,
      extraOrder: Seq[Column] = Nil,
      snapshotId: Option[Long] = None): DataFrame = {
    val snap = resolveSnapshot(table, snapshotId)
    val kept = topKFiles(table, column, k, smallest, Some(snap.snapshotId))
    val key = if (smallest) asc_nulls_last(column) else desc_nulls_last(column)
    visibleRows(spark, snap, kept.map(_.path))
      .orderBy(key +: extraOrder: _*)
      .limit(k)
  }
}

object SnapshotCatalog {
  /** Delete `p` and everything under it, children first. False when `p`
    * does not exist or any part of it could not be deleted. */
  def deleteRecursively(p: Path): Boolean =
    scala.util.Try {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally stream.close()
      true
    }.getOrElse(false)

  /** `file:` URI → plain path, shared by the driver-side manifest layer
    * and the executor-side bloom sizing (one definition, so the
    * rowsByFile lookup can never silently diverge from commit's keys). */
  /** Inverse rendering of [[normalizePath]]: plain local path → the
    * exact URI `_metadata.file_path` renders for it ("file:" + the
    * percent-encoded absolute path — Hadoop Path renders local URIs
    * with a single slash, specials arrive encoded, `%20` for a space).
    * Pre-rendering the MANIFEST side to this form lets scan-side
    * joins/filters key on the raw metadata column instead of running a
    * per-row `regexp_replace` normalization on the stream side of a
    * broadcast join. The rendering contract is pinned by IngestSpec's
    * plan assertion and the partition/MoR oracle queries. */
  private[graft] def scanUri(p: String): String =
    "file:" + scala.util.Try(java.nio.file.Paths.get(p).toUri.getRawPath).getOrElse(p)

  private[graft] def normalizePath(p: String): String =
    if (p.startsWith("file:")) {
      // `file:`-scheme strings only ever reach here from
      // `_metadata.file_path`, which renders a proper URI: special
      // characters in on-disk names arrive percent-encoded (a literal
      // space as %20, a literal % as %25). Decode via URI so manifest
      // paths, Files.* calls and scan-captured paths agree
      // byte-for-byte with the literal on-disk name — a form decoder
      // would corrupt a literal `+` to a space, URI.getPath does not. Raw FS
      // paths (no scheme) pass through untouched, so a literal % in a
      // listed file name is never double-decoded.
      scala.util.Try(Option(new java.net.URI(p).getPath)).toOption.flatten
        .getOrElse("/" + p.stripPrefix("file:").dropWhile(_ == '/'))
    } else p

  /** Additive schema merge: prior field order kept (a field present in
    * both takes the NEW commit's type — widening wins), new fields
    * appended in commit order. */
  /** Additive schema union for an append: prior field order kept, new
    * columns appended. A same-named field with a DIFFERENT type is only
    * admitted when the append's type is NARROWER along the promotion
    * lattice (old int producers keep writing into a widened long column
    * — the table keeps its wide type and the commit stamps the files'
    * stored type, see the publish path). A WIDER append refuses —
    * widening is an explicit `widenColumn` / `ALTER COLUMN TYPE`
    * decision, not a side effect of one producer's frame — and a
    * cross-family change refuses (silently adopting it, as this once
    * did, leaves prior files unreadable under the new schema). */
  private[meta] def mergeSchemas(prev: StructType, next: StructType): StructType = {
    val prevNames = prev.fieldNames.toSet
    StructType(
      prev.fields.map { f =>
        next.fields.find(_.name == f.name) match {
          // keep the DECLARED field, not the frame's: a parquet-read
          // frame is always nullable with empty metadata, and taking it
          // would silently drop a NOT NULL contract or a column default
          case Some(nf) if nf.dataType == f.dataType => f
          case Some(nf) if canWiden(nf.dataType, f.dataType) => f // narrow append: keep wide
          case Some(nf) => throw new IllegalArgumentException(
            s"append changes column ${f.name} from ${f.dataType.catalogString} to " +
              s"${nf.dataType.catalogString}: cast the frame to the table schema" +
              (if (canWiden(f.dataType, nf.dataType))
                 ", or widen the table first (widenColumn / ALTER COLUMN TYPE)"
               else " (cross-family changes are never an additive evolution)"))
          case None => f
        }
      } ++ next.fields.filterNot(f => prevNames.contains(f.name)))
  }

  /** [[StructField.metadata]] key holding a column's WRITE-DEFAULT — the
    * SQL literal filled in for writes that omit the column (Iceberg v3
    * `write-default`). Changed by `ALTER COLUMN ... SET/DROP DEFAULT`
    * without touching already-written files. */
  val WriteDefaultMetaKey = "graft.default.write"

  /** [[StructField.metadata]] key holding a column's INITIAL-DEFAULT —
    * the SQL literal rows from files PREDATING the column read (Iceberg
    * v3 `initial-default`). Fixed at `ADD COLUMN ... DEFAULT` time;
    * `SET DEFAULT` never changes it (history would silently rewrite). */
  val InitialDefaultMetaKey = "graft.default.initial"

  def writeDefaultOf(f: StructField): Option[String] =
    if (f.metadata.contains(WriteDefaultMetaKey))
      Some(f.metadata.getString(WriteDefaultMetaKey)) else None

  def initialDefaultOf(f: StructField): Option[String] =
    if (f.metadata.contains(InitialDefaultMetaKey))
      Some(f.metadata.getString(InitialDefaultMetaKey)) else None

  /** Validate a DEFAULT expression and render it as a self-contained SQL
    * literal of exactly `colType` (via [[Literal.sql]], which round-trips
    * through both the stored manifests and `functions.expr`): the
    * expression must be foldable (a default computed from a table is not
    * a column contract), and its value must cast losslessly-enough to the
    * column type under TRY semantics — a non-null value casting to null
    * refuses loudly instead of silently storing a contract that nulls
    * every row. */
  def renderDefaultExpr(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      colType: DataType, what: String): String = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    require(e.foldable, s"$what DEFAULT must be a literal expression; got ${e.sql}")
    val raw = try e.eval(null) catch {
      case ex: Exception => throw new IllegalArgumentException(
        s"$what DEFAULT ${e.sql} cannot be evaluated: ${ex.getMessage}")
    }
    val cast = Cast(Literal.create(raw, e.dataType), colType, Some("UTC"), EvalMode.TRY)
    val v = cast.eval(null)
    require(raw == null || v != null,
      s"$what DEFAULT ${e.sql} does not cast to ${colType.catalogString}")
    // Null-valued defaults render as the ONE canonical sentinel "NULL":
    // Spark's Literal.sql renders typed nulls as `CAST(NULL AS T)`, which
    // would slip past every `_ != "NULL"` NOT-NULL guard (ADD COLUMN /
    // SET DEFAULT / commit stamping / SET NOT NULL's stamp-as-proof).
    if (v == null) "NULL" else Literal.create(v, colType).sql
  }

  /** [[renderDefaultExpr]] over SQL text (the Scala-API surface). */
  def renderDefaultSql(defaultSql: String, colType: DataType, what: String): String = {
    val parsed = try
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(defaultSql)
    catch {
      case ex: Exception => throw new IllegalArgumentException(
        s"$what DEFAULT does not parse: $defaultSql (${ex.getMessage})")
    }
    renderDefaultExpr(parsed, colType, what)
  }

  /** Commit-time NOT NULL enforcement over the files a commit is about
    * to publish, from the null-count stats the commit's stats pass
    * already computed (zero extra scans). Absence of the stat on a
    * non-empty file is a REFUSAL, not a pass — a write path that skips
    * stats may not silently weaken the contract (matching the SET NOT
    * NULL proof discipline). */
  private[meta] def enforceNotNull(table: String, merged: StructType,
      writtenCols: Seq[String], absentDefaults: Map[String, String],
      files: Seq[FileMeta]): Unit =
    merged.fields.filterNot(_.nullable).foreach { nf =>
      if (!writtenCols.contains(nf.name)) {
        if (!absentDefaults.contains(nf.name) && files.exists(_.rowCount > 0))
          throw new IllegalStateException(
            s"NOT NULL violation on $table.${nf.name}: appended rows omit the " +
              "column and it has no non-null write-default")
      } else files.foreach { fm =>
        fm.stats.get(nf.name).flatMap(_.nullCount) match {
          case Some(n) if n > 0 => throw new IllegalStateException(
            s"NOT NULL violation on $table.${nf.name}: " +
              s"$n null value(s) in ${fm.path}")
          case Some(_) => // proven null-free
          case None if fm.rowCount > 0 => throw new IllegalStateException(
            s"NOT NULL on $table.${nf.name} cannot be verified: " +
              s"${fm.path} carries no null-count stat for the column")
          case None => // empty file, vacuously satisfied
        }
      }
    }

  /** Column types whose commit-time stats carry a null count — the set
    * NOT NULL can be ENFORCED on for free (the enforcement reads the
    * stats pass the commit already runs; no extra scan). */
  def notNullEnforceable(dt: DataType): Boolean = dt match {
    case _: NumericType | _: TimestampType | _: DateType | _: StringType => true
    case _ => false
  }

  /** Commit-operation snapshot props consumed by [[SnapshotCatalog.readIncremental]]. */
  /** Sticky table prop listing the bloom-indexed columns (comma-joined);
    * carried forward and re-applied to new files by every commit. */
  val BloomColumnsProp = "graft.bloom.columns"

  /** Sticky table prop listing the HLL-sketched columns (comma-joined);
    * carried forward and re-applied to new files by every commit. */
  val SketchColumnsProp = "graft.sketch.columns"

  /** Sticky table prop holding the user's table COMMENT (COMMENT ON
    * TABLE / CREATE TABLE ... COMMENT); carried forward by every
    * commit, surfaced by DESCRIBE EXTENDED, SHOW TBLPROPERTIES and
    * SHOW CREATE TABLE. */
  val CommentProp = "graft.comment"

  /** Sticky table props declaring the table's snapshot-retention
    * policy, read by `CALL graft.enforce_retention` (and the no-arg
    * catalog-wide sweep): keep at most N snapshots / nothing older
    * than the age — the policy LIVES WITH THE TABLE (Iceberg's
    * `history.expire.*` table-props pattern), so one scheduled
    * statement maintains every table without per-table job configs. */
  val RetentionSnapshotsProp = "graft.retention.snapshots"
  val RetentionAgeMsProp = "graft.retention.ms"

  /** Sticky table props declaring a ROW-TTL retention policy (the
    * compliance sweep: rows whose `column` is older than `ms` expire as
    * a merge-on-read mask — `Writers.expireRowsOlderThan` driven by the
    * table's own metadata instead of per-job args). Both must be set;
    * `CALL graft.enforce_retention` applies them before the history
    * trim, so ONE scheduled statement handles data TTL and metadata
    * retention together. */
  val RetentionRowsColumnProp = "graft.retention.rows.column"
  val RetentionRowsMsProp = "graft.retention.rows.ms"

  /** Sticky table props of the committed vector index (r17,
    * [[VectorIndex]]): `PqColumnsProp` = "idCol:vecCol" (re-keyed on
    * column rename, dropped — with its siblings — on column drop),
    * `PqModelProp` = path of the frozen model sidecar,
    * `PqGenerationProp` = the model generation that encoded the
    * snapshot's codes. Carried by every commit, so appends/compactions
    * keep re-encoding their new files; a retrain restates all three. */
  val PqColumnsProp = "graft.pq.columns"
  val PqModelProp = "graft.pq.model"
  val PqGenerationProp = "graft.pq.generation"

  /** Column-list sticky props (comma-joined column names; column
    * rename/drop DDL rewrites their entries — see `stickyRenamed`). */
  val StickyColumnProps: Seq[String] = Seq(BloomColumnsProp, SketchColumnsProp)

  /** Value-shaped sticky props carried VERBATIM by every commit unless
    * the commit restates or clears them (table comment, retention
    * policy). Any new user-facing table-level metadata belongs here —
    * publish carries it, so a prop added here is kept by every commit
    * path (the r13 comment-dropping bug class can't recur). */
  val StickyValueProps: Seq[String] = Seq(
    CommentProp, RetentionSnapshotsProp, RetentionAgeMsProp,
    RetentionRowsColumnProp, RetentionRowsMsProp,
    PqColumnsProp, PqModelProp, PqGenerationProp)

  /** Every sticky table-level prop: carried by commits, branch forks,
    * clones and renames; restated only by its owning DDL. The SQL
    * surface (TBLPROPERTIES, SHOW CREATE TABLE) takes exactly these. */
  val StickyProps: Seq[String] = StickyColumnProps ++ StickyValueProps

  /** Is `t` a safe table ref: `<name>` or `<name>/branches/<name>…`
    * (nested branch refs allowed)? Name segments must start with a word
    * character — `..`, dotfiles and empty segments can never resolve,
    * so a ref can never traverse outside the catalog root. */
  def validTableRef(t: String): Boolean = {
    val segs = t.split("/", -1)
    segs.nonEmpty && segs.length % 2 == 1 &&
      segs.zipWithIndex.forall { case (s, i) =>
        if (i % 2 == 1) s == "branches"
        else s.matches("[A-Za-z0-9_][A-Za-z0-9_.-]{0,199}")
      }
  }

  /** Prop a materialized aggregate view's snapshots carry naming its
    * SOURCE table ([[graft.sinks.MaterializedAgg]] writes it; DDL's
    * dependent-MV arbitration reads it). */
  val MvSrcProp = "graft.view.src"

  /** A materialized aggregate view's definition: source table, key and
    * aggregate columns, optional predicate. One unit — a commit stating
    * [[MvSrcProp]] restates it all, and the keys it omits are cleared. */
  val MvSpecProps: Seq[String] = MvSrcProp +:
    Seq("keys", "sums", "avgs", "mins", "maxs", "nds", "where").map(k => s"graft.view.$k")

  /** A materialized view's watermark: the source snapshot it equals. */
  val MvRefreshedAtProp = "graft.view.refreshed_at"

  /** Table-level props: what publish carries from a commit's parent
    * unless the commit sets or clears them. Every other prop is the
    * commit's own (operation, lineage, streaming batch ids) and never
    * carries — sink idempotence depends on that. The engine-internal
    * view props are not settable through TBLPROPERTIES. */
  val TableProps: Seq[String] = StickyProps ++ MvSpecProps :+ MvRefreshedAtProp

  /** Rename-protocol markers ([[SnapshotCatalog.renameTable]]): a table
    * dir carrying either reads as absent — `.rename-pending` gates the
    * destination while metadata copies in, `.renamed-to` tombstones the
    * source after the commit point while its metadata deletes. */
  val RenamePendingMarker = ".rename-pending"
  val RenamedToMarker = ".renamed-to"

  /** Name prefix of the temp file an atomic metadata replace writes
    * before moving it into place. */
  private[meta] val ReplaceTmpPrefix = ".replace-"

  /** The subdirectories of a table directory (and of each branch
    * directory) that hold PATH-ADDRESSED payload: data files, bloom and
    * sketch sidecars, and the vector index's models and codes. Manifests
    * name these files by absolute path, so a clone, a branch or a
    * renamed table may still read them after the metadata that wrote
    * them moves or goes. A drop or rename never deletes bytes here; only
    * the liveness-checked purge and the vacuums do. */
  val DataDir = "data"
  val BloomDir = "blooms"
  val SketchDir = "sketches"
  val PqIndexDir = "pqindex"
  val PayloadDirs: Seq[String] = Seq(DataDir, BloomDir, SketchDir, PqIndexDir)

  /** Set on a published snapshot to the staged id it came from —
    * the WAP audit trail (Iceberg's `wap.id` summary entry). */
  val WapIdProp = "graft.wap.id"

  /** Set on a rollback commit: the snapshot id whose state it restored. */
  val RollbackOfProp = "graft.rollback.of"

  /** Set on a cherry-pick commit: the append snapshot it replayed. */
  val CherryPickOfProp = "graft.cherrypick.of"

  /** Set on a branch's fork snapshot: the table it forked from. */
  val ForkTableProp = "graft.branch.fork.table"

  /** Set on a branch's fork snapshot: the table snapshot id it forked at. */
  val ForkIdProp = "graft.branch.fork.snapshot"

  /** Set on each table commit a fast-forward replayed: `branch@id`. */
  val FastForwardOfProp = "graft.fastforward.of"

  /** The hive `k=v` directory segment of one partition value, escaped
    * exactly as Spark's own `partitionBy` writer escapes it — the ONE
    * encoder; [[partitionValuesOf]] is its inverse. */
  def partitionSegment(k: String, v: String): String =
    ExternalCatalogUtils.getPartitionPathString(k, v)

  /** Hive-style `k=v` directory segments of a file path, unescaped the
    * way Spark's partitioned writer (and [[partitionSegment]]) escapes
    * them — the ONE parser both manifest building and dynamic-overwrite
    * matching share. */
  def partitionValuesOf(path: String): Map[String, String] =
    path.split('/').dropRight(1).collect {
      case seg if seg.count(_ == '=') == 1 && !seg.startsWith("=") && !seg.startsWith(".") =>
        val Array(k, v) = seg.split("=", 2)
        ExternalCatalogUtils.unescapePathName(k) -> ExternalCatalogUtils.unescapePathName(v)
    }.toMap

  /** The change-feed mode a caller names, as "per-commit?": `net` (the
    * default — [[SnapshotCatalog.changesBetween]]'s endpoint delta) or
    * `percommit` ([[SnapshotCatalog.changesPerCommit]]), in any letter
    * case. Anything else is refused: a typo must not get the other feed.
    * CALL `changelog`, CALL `export` and HTTP `/changes` all read it. */
  def perCommitFeed(mode: Option[String]): Boolean =
    mode.map(_.toLowerCase(java.util.Locale.ROOT)) match {
      case None | Some("net") => false
      case Some("percommit") => true
      case _ => throw new IllegalArgumentException(
        s"feed mode must be net|percommit; got '${mode.get}'")
    }

  val OperationProp = "operation"
  val OpAppend = "append"
  val OpDelete = "delete"
  val OpRewrite = "rewrite"
  /** Keyed upsert: some outputs are rewritten survivors, some are pure
    * net-new rows (listed in [[InsertFilesProp]]). */
  val OpMerge = "merge"
  /** Row-preserving bin-pack rewrite: outputs hold exactly the union of
    * the rewritten inputs' rows. */
  val OpCompact = "compact"
  /** Merge-on-read position delete: data files untouched, a new delete
    * file masks rows. The CDC walks key on the delete-file DELTA, not
    * this label, so legacy tools that relabel commits stay safe. */
  val OpMorDelete = "mor-delete"
  /** Metadata-only schema change (rename/drop): no file churn, no rows
    * change. Feeds across a RENAME refuse when row-level diff parts
    * predate it (their column names would mis-render); see
    * [[SnapshotCatalog.changesBetween]]. */
  val OpSchemaEvolve = "schema-evolve"
  /** Set on a rename commit: `from->to`. */
  val RenameProp = "graft.schema.rename"
  /** Set on a drop commit: the dropped column. */
  val DropProp = "graft.schema.drop"
  /** Set on a type-widening commit: `col:from->to` (catalogStrings). */
  val WidenProp = "graft.schema.widen"
  /** Metadata-only index enable/backfill: file set unchanged, no rows
    * move — CDC walks see nothing (the generic-rewrite default with an
    * empty file delta). */
  val OpIndex = "index"

  /** The Iceberg type-promotion lattice (spec "Schema Evolution"):
    * int→long, float→double, decimal(P,S)→decimal(P',S) with P'≥P —
    * plus the small-int chain Spark surfaces (parquet stores them as
    * int32, so byte/short widen the same way). Every admitted edge is
    * a lossless cast; anything else (narrowing, cross-family, scale
    * change) is refused. */
  def canWiden(from: org.apache.spark.sql.types.DataType,
               to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision > a.precision
      case _ => false
    }
  }
  /** Dynamic partition overwrite: removed files are replaced WHOLESALE
    * (their partitions' old content), added files hold only brand-new
    * rows — so unlike a generic rewrite, the outputs ARE appends for
    * the incremental read (Iceberg's overwrite snapshots, which its
    * incremental append scan refuses, get exact treatment here). */
  val OpOverwrite = "overwrite"
  /** Set on a delete-materializing rewrite: comma-joined delete-file
    * paths it applied and retired. */
  val MaterializedDeletesProp = "graft.materialized.deletes"
  /** Comma-joined source paths a delete/rewrite commit rewrote. */
  val RewrittenFromProp = "rewritten_from"
  /** Comma-joined output paths of a merge commit that carry ONLY net-new
    * rows (the inserted/updated source rows), never surviving old rows —
    * the incremental reader treats exactly these as appends. */
  val InsertFilesProp = "insert_files"
}
