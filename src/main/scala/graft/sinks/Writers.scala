package graft.sinks

import java.nio.file.{Files, Paths}
import java.util.UUID

import graft.meta.{CommitIntent, DeleteFileMeta, PartTransform, PartitionTransforms, PruneFilter, RangeNum, RangeString, SnapshotCatalog, SnapshotMeta}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Write-side surface (SURVEY §2.1): partitioned layouts, bucketed
  * tables, and snapshot-committed writes — the producer half of the
  * reference's cache/metadata story (its loader consumes Iceberg-written
  * files; reference: src/storage/dataloader.py:17. Here both halves are
  * Spark-native).
  *
  * Scale notes: hive-style partition dirs turn predicate pushdown into
  * directory pruning (the coarsest, cheapest skip level); bucketed +
  * sorted tables pre-shuffle data ONCE at write time so every later
  * equi-join/aggregation on the bucket key runs exchange-free.
  */
object Writers {

  /** List .parquet leaves, closing the directory stream (Files.list/walk
    * leak an fd if abandoned — a long-lived committer driver cares). */
  private[sinks] def listParquetIn(
      dir: java.nio.file.Path, recursive: Boolean = false): Seq[String] = {
    val stream = if (recursive) Files.walk(dir) else Files.list(dir)
    try stream.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toAbsolutePath.toString).toList.sorted
    finally stream.close()
  }

  /** Write `df` as parquet under a fresh `dataDir/<prefix>-<id>`
    * directory, hive-partitioned on `partitionBy` when given, and list
    * every file it produced. The one place a committed data file is
    * written: each call owns a new directory, so no write can clobber a
    * file some snapshot still references. */
  private[sinks] def writeFiles(
      df: DataFrame, dataDir: String, prefix: String,
      partitionBy: Seq[String] = Nil): Seq[String] = {
    val dir = Paths.get(dataDir, s"$prefix-${UUID.randomUUID().toString.take(8)}")
    val w = df.write
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(dir.toString)
    listParquetIn(dir, recursive = true)
  }

  /** The one commit step of a Writers op, planned against `basis`:
    * `written` and `inserts` (outputs holding only net-new rows) are
    * added, `removed` leave. Stamps the `operation` label, the merge
    * label's `insert_files`, and `rewritten_from` from `removed`, so
    * lineage and removal cannot disagree; `intent` carries any further
    * intent fields. */
  private[sinks] def commitOp(
      catalog: SnapshotCatalog,
      spark: SparkSession,
      table: String,
      basis: Option[SnapshotMeta],
      op: String,
      written: Seq[String],
      removed: Seq[String] = Nil,
      inserts: Seq[String] = Nil,
      props: Map[String, String] = Map.empty,
      intent: CommitIntent = CommitIntent(None),
      bloomColumns: Seq[String] = Nil,
      sketchColumns: Seq[String] = Nil,
      declaredSchema: Option[StructType] = None): SnapshotMeta = {
    val lineage =
      (if (removed.isEmpty) Nil
       else Seq(SnapshotCatalog.RewrittenFromProp -> removed.sorted.mkString(","))) ++
      (if (op != SnapshotCatalog.OpMerge) Nil
       else Seq(SnapshotCatalog.InsertFilesProp -> inserts.mkString(",")))
    catalog.commit(spark, table, written ++ inserts, bloomColumns,
      props = props + (SnapshotCatalog.OperationProp -> op) ++ lineage,
      sketchColumns = sketchColumns,
      intent = intent.copy(basisSnapshotId = basis.map(_.snapshotId), removedPaths = removed),
      declaredSchema = declaredSchema)
  }

  /** `dataDir` extended by the hive `k=v` segments of `pv`, in key order —
    * where a rewrite of one partition's files writes its outputs, so
    * they parse back to the same manifest partition values. */
  private def partitionDir(dataDir: String, pv: Map[String, String]): String =
    pv.toSeq.sortBy(_._1).foldLeft(Paths.get(dataDir)) { case (p, (k, v)) =>
      p.resolve(SnapshotCatalog.partitionSegment(k, v))
    }.toString

  /** An append of `files`, planned against the table's current head. */
  private def append(
      catalog: SnapshotCatalog, df: DataFrame, table: String, files: Seq[String],
      props: Map[String, String]): SnapshotMeta =
    commitOp(catalog, df.sparkSession, table, catalog.currentSnapshot(table),
      SnapshotCatalog.OpAppend, files, props = props)

  /** Morton (z-order) value of the given columns under per-column sorted
    * bucket boundaries: bucket index = #boundaries strictly below the
    * value (rank binning), 6 bits per dimension, bit i of dimension d at
    * position i·nDims+d. Pure column expression — property-tested against
    * an independent driver-side reimplementation. */
  private[sinks] def zorderValue(colsAndBounds: Seq[(String, Seq[Double])]): Column = {
    val idxs = colsAndBounds.map { case (c, bs) =>
      size(filter(array(bs.map(lit): _*), b => b < col(c).cast("double"))).cast("long")
    }
    val nDims = colsAndBounds.length
    val terms = for {
      (idx, d) <- idxs.zipWithIndex
      i <- 0 until 6
    } yield shiftleft(shiftright(idx, i).bitwiseAND(lit(1L)), i * nDims + d)
    terms.reduce(_ + _)
  }

  /** Hive-style partitioned parquet write. Readers filtering on
    * `partitionCols` scan only matching directories. */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Hive-partitioned write COMMITTED to the snapshot catalog: the
    * partition values of every leaf file land in its manifest entry
    * (parsed from the `k=v` path segments), so later
    * `planFiles(EqString(partitionCol, v))` skips non-matching files
    * from metadata alone — no footer reads, the same directory-level
    * skip Iceberg gets from its partition spec (reference:
    * src/iceberg_management/metadata.py:26 `get_data_files`). */
  def writePartitionedSnapshot(
      catalog: SnapshotCatalog,
      table: String,
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      props: Map[String, String] = Map.empty): SnapshotMeta =
    // append semantics (the commit is labeled OpAppend): prior files
    // survive with their manifest metadata intact — each call writes to
    // its own fresh directory under `path`, so repeated appends into one
    // path accumulate partitions' files the way writeSnapshot
    // accumulates unpartitioned ones
    append(catalog, df, table, writeFiles(df, path, "partitioned", partitionCols), props)

  /** Dynamic partition overwrite (SURVEY §2 S46 — the
    * `INSERT OVERWRITE` / Spark `partitionOverwriteMode=dynamic` /
    * Iceberg `overwrite` snapshot): every partition `df` TOUCHES is
    * replaced wholesale by `df`'s rows for it; untouched partitions
    * survive with their manifest metadata intact (no scan, no footer
    * reads). The daily-restatement primitive: re-running one day of a
    * date-partitioned pipeline swaps that day's files in one atomic
    * metadata commit.
    *
    * The touched-partition set is derived from the NEW files' own
    * parsed `k=v` segments — the identical parser that filled the old
    * files' `partitionValues` — so replacement matching can never
    * suffer a value-rendering mismatch. Files predating the partition
    * layout (no `k=v` values for `partitionCols`) make the overwrite
    * ill-defined (they may hold touched-partition rows) → refuse.
    *
    * CDC: labeled [[SnapshotCatalog.OpOverwrite]]. `readIncremental`
    * treats outputs as appends (they hold only brand-new rows);
    * `changesBetween` nets replaced-partition old rows as deletes and
    * new rows as inserts through the generic rewrite walk — identical
    * rows restated verbatim cancel multiset-wise.
    *
    * Scale: data work = writing `df` alone; commit metadata is
    * O(files); replaced files are never opened. MoR delete files whose
    * every referenced data file was replaced retire automatically
    * (commit's carry-forward rule). */
  def overwritePartitions(
      catalog: SnapshotCatalog,
      table: String,
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      props: Map[String, String] = Map.empty): SnapshotMeta = {
    require(partitionCols.nonEmpty, "dynamic overwrite needs partition columns")
    val current = catalog.currentSnapshot(table)
    val newFiles = writeFiles(df, path, "overwrite", partitionCols)
    val touched: Set[Map[String, String]] = newFiles
      .map(p => SnapshotCatalog.partitionValuesOf(p).filter(kv => partitionCols.contains(kv._1)))
      .toSet
    if (touched.exists(_.size != partitionCols.size))
      throw new IllegalStateException(
        s"overwrite of $table wrote files missing ${partitionCols.mkString(",")} values")
    val replaced = current.map(_.files).getOrElse(Nil).filter { f =>
      val vals = partitionCols.flatMap(c => f.partitionValues.get(c).map(c -> _)).toMap
      if (vals.size != partitionCols.size)
        throw new IllegalStateException(
          s"file ${f.path} carries no ${partitionCols.mkString(",")} partition values — " +
            "the layout is not consistently partitioned on the overwrite columns " +
            "(its rows may belong to a touched partition); use deleteWhere + append instead")
      touched.contains(vals)
    }
    commitOp(catalog, df.sparkSession, table, current, SnapshotCatalog.OpOverwrite, newFiles,
      removed = replaced.map(_.path), props = props,
      intent = CommitIntent(None,
        // a concurrent append INTO a replaced partition has no
        // serializable order with the restatement (neither
        // append-then-overwrite nor overwrite-then-append yields the
        // union state this commit would produce) — conflict; a file
        // lacking the partition values at all makes the overwrite
        // ill-defined, same as at plan time
        conflictOnAdded = f => {
          val vals = partitionCols.flatMap(c => f.partitionValues.get(c).map(c -> _)).toMap
          vals.size != partitionCols.size || touched.contains(vals)
        }))
  }

  /** Hidden-partitioned write (Iceberg partition-spec transforms,
    * SURVEY §2 S35): materializes each transform's partition value as a
    * derived column, writes Hive-partitioned on those, commits — the
    * derived values land in each file's manifest `partitionValues`, so
    * [[readTransformed]] can prune whole partition directories from a
    * predicate on the SOURCE column alone (the reader never names the
    * hidden column — Iceberg's hidden-partitioning contract). */
  def writeTransformedSnapshot(
      catalog: SnapshotCatalog,
      table: String,
      df: DataFrame,
      path: String,
      spec: Seq[PartTransform],
      props: Map[String, String] = Map.empty): SnapshotMeta = {
    require(spec.nonEmpty, "need at least one transform")
    // append semantics: prior files survive with their manifest metadata
    // intact — including files written under a DIFFERENT partition spec
    // (Iceberg partition evolution: each file prunes by its own layout's
    // partition values; filters mapped for a spec a file doesn't carry
    // fall back to its column stats and never mis-prune)
    append(catalog, df, table, writeFiles(PartitionTransforms.withPartitionColumns(df, spec),
      path, "transformed", spec.map(_.partCol)), props)
  }

  /** Read a transform-partitioned table with predicates stated on RAW
    * columns only: raw filters prune via per-file column stats, their
    * transform-mapped derivatives prune via partition values — both from
    * the manifest, no footer reads. The caller still applies the exact
    * row filter (pruning is a superset guarantee). */
  def readTransformed(
      catalog: SnapshotCatalog,
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      spec: Seq[PartTransform],
      rawFilters: Seq[PruneFilter]): DataFrame =
    catalog.read(spark, table,
      rawFilters ++ PartitionTransforms.mapFilters(spec, rawFilters))

  /** Bucketed + sorted managed table: pre-shuffled on `bucketCol` into
    * `numBuckets` files per partition, so joins between co-bucketed
    * tables skip the exchange entirely. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      numBuckets: Int,
      bucketCol: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Z-order (morton) clustered snapshot write: rows cluster by the
    * interleaved bits of their per-column QUANTILE bucket indices, so
    * every output file covers a small hyper-rectangle of the z-space and
    * file-level min/max stats become selective on EVERY z column at once
    * — the multi-dimensional layout lever behind Delta/Iceberg
    * `OPTIMIZE ZORDER`, driving the same manifest pruning
    * [[graft.meta.SnapshotCatalog.planFiles]] already does.
    *
    * Spark-first mechanics: bucket boundaries come from
    * `df.stat.approxQuantile` (a bounded sampled model, like a range
    * partitioner's), so binning is rank-based and skew-robust; the
    * z-value is a pure column expression; `repartitionByRange` on it is
    * ONE shuffle; files write sorted within partitions. 64 buckets per
    * dimension = 6 bits, up to 10 dims in a long. */
  def writeZOrderedSnapshot(
      catalog: SnapshotCatalog,
      table: String,
      df: DataFrame,
      dataDir: String,
      zCols: Seq[String],
      nFiles: Int = 16,
      props: Map[String, String] = Map.empty): SnapshotMeta = {
    require(zCols.nonEmpty && zCols.size <= 10, "z-order needs 1..10 columns")
    zCols.foreach { c =>
      require(df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"z-order needs numeric columns; $c is ${df.schema(c).dataType.catalogString}")
    }
    val buckets = 64
    // ONE pass over df for every column's bounds (the multi-column
    // approxQuantile overload), not one scan per z column
    val bounds: Seq[Seq[Double]] = df.stat.approxQuantile(zCols.toArray,
      (1 until buckets).map(_.toDouble / buckets).toArray, 0.01).map(_.toSeq).toSeq
    val zValue = zorderValue(zCols.zip(bounds))
    val files = writeFiles(df.withColumn("__z", zValue)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z"), dataDir, "zorder")
    // append semantics, like writeSnapshot: prior files survive with their
    // manifest metadata intact (a full OPTIMIZE-style recluster is
    // read-everything + deleteWhere, an explicit user choice)
    append(catalog, df, table, files, props)
  }

  /** Copy-on-write row-level delete (Iceberg COW DELETE semantics):
    * files containing matching rows are rewritten without them; files
    * provably untouched by the predicate survive as-is; one metadata
    * commit. Scale: only the affected files are read and rewritten —
    * `pruneFilters` (manifest min/max + bloom) bounds the rewrite set.
    */
  def deleteWhere(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      rowPredicate: DataFrame => DataFrame,
      pruneFilters: Seq[graft.meta.PruneFilter],
      dataDir: String): SnapshotMeta = {
    val current = catalog.resolveSnapshot(table)
    val affected = catalog.planFiles(table, pruneFilters).map(_.path).toSet
    // VISIBLE rows: a COW rewrite of files carrying outstanding MoR
    // position deletes must not resurrect the masked rows
    val rewritten: Seq[String] =
      if (affected.isEmpty) Nil
      else writeFiles(rowPredicate(catalog.visibleRows(spark, current, affected.toSeq)),
        dataDir, "rewrite")
    // untouched files keep their manifest metadata — the commit scans
    // only the rewritten files. The operation kind + rewrite lineage in
    // props let incremental readers exclude rewrite outputs (surviving
    // rows of a COW delete are NOT new rows — see
    // SnapshotCatalog.readIncremental).
    commitOp(catalog, spark, table, Some(current), SnapshotCatalog.OpDelete, rewritten,
      removed = affected.toSeq)
  }

  /** Copy-on-write row-level UPDATE (Iceberg COW UPDATE semantics; the
    * SQL `UPDATE t SET c = e WHERE cond` writer). An update is a
    * self-merge — matched rows' new versions replace their old ones —
    * so the commit takes the MERGE shape: affected files (bounded by
    * `pruneFilters` from the WHERE's literal conjuncts) are rewritten
    * into survivors (non-matching rows, NOT changes) plus separate
    * updated-row files listed as `insert_files`, under the merge
    * operation label. Incremental readers then see exactly what they
    * see after a `MERGE ... UPDATE SET *`: new versions are appends,
    * survivors are excluded, and the row-level CDC feed nets each
    * updated row to delete(old) + insert(new) by the generic
    * before/after visible-row diff — no new reader code path.
    *
    * `assignments` are (column → expression) pairs evaluated over the
    * OLD row (SQL UPDATE semantics — all SET expressions see the
    * pre-update values, which one projection gives for free); values
    * cast to the column's declared type so an UPDATE can't drift the
    * schema. Rows where `cond` is NULL do not match (SQL WHERE
    * semantics). Returns the current snapshot unchanged when nothing
    * matches. Scale: only affected files are read (twice: matched pass
    * + survivor pass) and rewritten; a predicate matching most of the
    * table rewrites most of the table — the same COW trade as
    * [[deleteWhere]], stated loudly. */
  def updateWhere(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      assignments: Seq[(String, Column)],
      cond: Column,
      pruneFilters: Seq[graft.meta.PruneFilter],
      dataDir: String): SnapshotMeta = {
    require(assignments.nonEmpty, "UPDATE needs at least one SET assignment")
    val current = catalog.resolveSnapshot(table)
    val schema = current.schema
    val byName = assignments.map { case (n, c) =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(
          s"UPDATE $table SET references unknown column '$n'"))
      f.name -> c
    }
    require(byName.map(_._1).distinct.size == byName.size,
      s"UPDATE $table assigns the same column more than once")
    val assignMap = byName.toMap
    val affected = catalog.planFiles(table, pruneFilters).map(_.path)
    if (affected.isEmpty) return current
    val flagged = catalog.visibleRows(spark, current, affected)
      .withColumn("__upd", coalesce(cond, lit(false)))
    val updated = flagged.filter(col("__upd"))
      .select(schema.fields.map { f =>
        assignMap.get(f.name).map(_.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
      }.toIndexedSeq: _*)
    val insertFiles = writeFiles(updated, dataDir, "upd-ins")
    // nothing matched → leave the table alone (footer-count check only;
    // the matched pass already ran, this opens no data pages)
    if (insertFiles.isEmpty || spark.read.parquet(insertFiles: _*).count() == 0) {
      insertFiles.foreach(p => Files.deleteIfExists(Paths.get(p)))
      return current
    }
    val survivorFiles = writeFiles(flagged.filter(!col("__upd")).drop("__upd"), dataDir, "upd-rw")
    commitOp(catalog, spark, table, Some(current), SnapshotCatalog.OpMerge, survivorFiles,
      removed = affected, inserts = insertFiles)
  }

  /** Merge-on-read row-level delete (the Iceberg v2 position-delete
    * write path, format spec "Position Delete Files"): rows matching
    * `deleteCond` are MARKED deleted in a small sidecar parquet of
    * `(_file, _pos)` entries — no data file is rewritten. The commit is
    * pure metadata (every data file's manifest entry is reused), so
    * deleting 1 row from a 1 GB file costs ~100 bytes of write, not 1 GB:
    * at 100 TB this is what makes frequent small deletes (GDPR erasure,
    * late-data retractions) affordable. The read-side cost is a
    * broadcast anti-join per scan until [[materializeDeletes]] or any
    * rewrite of the file retires the entries — the same write-now /
    * pay-on-read trade Iceberg v2 makes. A delete matching a large
    * FRACTION of the table should use the COW [[deleteWhere]] instead:
    * its one-time rewrite beats masking millions of rows on every read.
    *
    * The marking scan sees VISIBLE rows only (prior deletes applied), so
    * stacked deletes never double-mark; positions are raw
    * `_metadata.row_index` values, stable for the file's life. Entries
    * land sorted by (file, pos) in one file per call. Returns the
    * current snapshot unchanged when nothing matches. */
  def deleteWhereMoR(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      deleteCond: Column,
      pruneFilters: Seq[graft.meta.PruneFilter],
      dataDir: String): SnapshotMeta = {
    val current = catalog.resolveSnapshot(table)
    val affected = catalog.planFiles(table, pruneFilters).map(_.path)
    if (affected.isEmpty) return current
    val marked = catalog.visibleRowsLineage(spark, current, affected)
      .filter(deleteCond)
      .select(col("_file"), col("_pos"))
    val delPath = writeFiles(
      marked.repartition(1).sortWithinPartitions("_file", "_pos"), dataDir, "mor-del").head
    // one bounded pass over the (tiny) delete file: per-data-file entry
    // counts give dataPaths + rowCount without a second scan of the data
    val perFile = spark.read.parquet(delPath).groupBy("_file").count().collect()
    if (perFile.isEmpty) {
      Files.deleteIfExists(Paths.get(delPath))
      return current
    }
    val delMeta = DeleteFileMeta(
      path = delPath,
      rowCount = perFile.map(_.getLong(1)).sum,
      sizeBytes = Files.size(Paths.get(delPath)),
      dataPaths = perFile.map(r => SnapshotCatalog.normalizePath(r.getString(0))).toSeq.sorted)
    commitOp(catalog, spark, table, Some(current), SnapshotCatalog.OpMorDelete, Nil,
      // intent, not a verbatim delete-file list: concurrent masks carry,
      // and a concurrent rewrite of a file this mask's positions index
      // conflicts (the row_index values are per-file)
      intent = CommitIntent(None, addDeleteFiles = Seq(delMeta)))
  }

  /** Merge-on-read EQUALITY delete (the Iceberg v2 equality-delete file,
    * format spec "Equality Delete Files"): rows whose key columns match
    * any tuple in `keys` are masked — with ZERO scans of the table. The
    * write cost is O(|keys|): one tiny parquet of key tuples plus one
    * metadata commit; not even the affected files are opened (their
    * manifest min/max + blooms bound the mask's scope). This is the
    * GDPR-erasure path at 100 TB: deleting one user is milliseconds of
    * driver work regardless of table size, paid back as a broadcast
    * anti-join per read until a rewrite retires the mask.
    *
    * Scope rule (Iceberg's sequence numbers, expressed as an explicit
    * file list): the mask applies to the data files that exist NOW — a
    * later append of the same key is a fresh row and stays visible.
    * Returns the current snapshot unchanged when no file could hold a
    * matching key. */
  def deleteByKeys(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      keys: DataFrame,
      keyCols: Seq[String],
      dataDir: String): SnapshotMeta = {
    require(keyCols.nonEmpty, "deleteByKeys needs at least one key column")
    val current = catalog.resolveSnapshot(table)
    val src = keys.select(keyCols.map(col): _*).distinct()
    val affected = catalog.planFiles(table, keyBoundFilters(src, keyCols)).map(_.path)
    if (affected.isEmpty) return current
    val delPath = writeFiles(src.coalesce(1), dataDir, "eq-del").head
    val nKeys = spark.read.parquet(delPath).count()
    if (nKeys == 0) {
      Files.deleteIfExists(Paths.get(delPath))
      return current
    }
    val delMeta = DeleteFileMeta(
      path = delPath,
      rowCount = nKeys,
      sizeBytes = Files.size(Paths.get(delPath)),
      dataPaths = affected.sorted,
      equalityColumns = keyCols)
    commitOp(catalog, spark, table, Some(current), SnapshotCatalog.OpMorDelete, Nil,
      // the equality mask scopes to `affected` (the files existing at
      // basis that could hold the keys) — a concurrent rewrite of one of
      // them conflicts rather than leaving a mask over dead paths
      intent = CommitIntent(None, addDeleteFiles = Seq(delMeta)))
  }

  /** Row-retention maintenance (the compliance TTL sweep): expire every
    * row whose `tsCol` is strictly before `cutoffMs`, as a merge-on-read
    * mask. The manifest min/max prune bounds the marking scan to files
    * that could hold old rows — on a time-ordered ingest layout that is
    * the cold prefix, never the live tail — and the commit itself is
    * pure metadata. Chain with [[materializeDeletes]] (or let compaction
    * fold the masks) once the masked fraction warrants the rewrite;
    * `expireSnapshots` + `vacuumDataFiles` then reclaim the bytes. */
  def expireRowsOlderThan(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      tsCol: String,
      cutoffMs: Long,
      dataDir: String): SnapshotMeta =
    deleteWhereMoR(spark, catalog, table,
      col(tsCol).cast("timestamp") < timestamp_millis(lit(cutoffMs)),
      Seq(RangeNum(tsCol, Double.MinValue, cutoffMs.toDouble)), dataDir)

  /** Apply the table's FULL declared retention policy — the row-TTL
    * sweep (`graft.retention.rows.column`/`.ms` → [[expireRowsOlderThan]],
    * a merge-on-read mask with a min/max-pruned marking scan) first,
    * then the snapshot-history trim
    * ([[SnapshotCatalog.enforceRetention]], metadata-only) — so ONE
    * scheduled `CALL graft.enforce_retention` handles data compliance
    * and metadata hygiene together, each bound declared ON the table.
    * Returns (snapshots expired, rows newly masked). Refuses loudly on
    * a table with no policy at all, and on a half-declared row policy
    * (column without age or vice versa — silently skipping a typo'd
    * compliance sweep is the one failure mode this must not have).
    * `dryRun` reports both counts without touching anything; the row
    * count pays the same pruned marking scan the real sweep would.
    * One known skew: the dry history count is measured against the
    * CURRENT chain, while a real run's row sweep commits one more
    * (expirable) snapshot first — under a count bound with rows to
    * sweep, the real run can expire one more than the dry run
    * reported. */
  def enforceRetention(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      dataDir: String,
      dryRun: Boolean = false): (Int, Long) = {
    val snap = catalog.resolveSnapshot(table)
    val props = snap.props
    val rowCol = props.get(SnapshotCatalog.RetentionRowsColumnProp)
    val rowMs = props.get(SnapshotCatalog.RetentionRowsMsProp).map(_.toLong)
    require(catalog.hasRetentionPolicy(table) || rowCol.nonEmpty,
      s"table $table declares no retention policy; ALTER TABLE $table SET " +
        s"TBLPROPERTIES ('${SnapshotCatalog.RetentionSnapshotsProp}'='N', " +
        s"'${SnapshotCatalog.RetentionAgeMsProp}'='MS', " +
        s"'${SnapshotCatalog.RetentionRowsColumnProp}'='ts', " +
        s"'${SnapshotCatalog.RetentionRowsMsProp}'='MS') first (any subset; " +
        "row props as a pair)")
    require(rowCol.isEmpty == rowMs.isEmpty,
      s"table $table declares a half row-TTL policy: set BOTH " +
        s"${SnapshotCatalog.RetentionRowsColumnProp} and " +
        s"${SnapshotCatalog.RetentionRowsMsProp} (or neither)")
    val rowsSwept: Long = (rowCol, rowMs) match {
      case (Some(c), Some(a)) =>
        val cutoff = catalog.now() - a // SAME clock as the history half
        if (dryRun)
          catalog.read(spark, table,
              filters = Seq(RangeNum(c, Double.MinValue, cutoff.toDouble)))
            .filter(col(c).cast("timestamp") < timestamp_millis(lit(cutoff)))
            .count()
        else {
          val before = snap
          val after = expireRowsOlderThan(spark, catalog, table, c, cutoff, dataDir)
          if (after.snapshotId == before.snapshotId) 0L
          else {
            val prevMasks = before.deleteFiles.map(_.path).toSet
            after.deleteFiles.filterNot(d => prevMasks.contains(d.path))
              .map(_.rowCount).sum
          }
        }
      case _ => 0L
    }
    val expired =
      if (catalog.hasHistoryRetention(table))
        catalog.enforceRetention(table, dryRun = dryRun)
      else 0
    (expired, rowsSwept)
  }

  /** Apply every outstanding position delete and retire the delete files
    * (Iceberg's rewrite_position_delete_files taken to its endpoint):
    * each data file with masked rows is rewritten to its visible rows;
    * untouched files keep their manifest metadata. Visible rows are
    * IDENTICAL before and after, so the commit is labeled `compact` —
    * the change feed across a materialization nets to exactly nothing
    * and incremental readers substitute outputs for in-range inputs,
    * the same row-preserving contract as bin-packing. Run it when the
    * masked-row fraction makes the per-scan anti-join noticeable; until
    * then reads pay a broadcast hash probe, never a shuffle. */
  def materializeDeletes(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      dataDir: String): Option[SnapshotMeta] = {
    val current = catalog.resolveSnapshot(table)
    if (current.deleteFiles.isEmpty) return None
    val livePaths = current.files.map(_.path).toSet
    val masked = current.deleteFiles.flatMap(_.dataPaths).distinct
      .filter(livePaths.contains)
    if (masked.isEmpty) return None
    val outputs = writeFiles(catalog.visibleRows(spark, current, masked), dataDir, "mor-mat")
    Some(commitOp(catalog, spark, table, Some(current), SnapshotCatalog.OpCompact, outputs,
      removed = masked,
      props = Map(SnapshotCatalog.MaterializedDeletesProp ->
        current.deleteFiles.map(_.path).sorted.mkString(",")),
      // retire exactly the masks materialized into the outputs; a mask
      // landing concurrently on an untouched file carries forward, one
      // landing on a materialized file conflicts (its rows are baked
      // into outputs computed without it)
      intent = CommitIntent(None, retireDeleteFiles = current.deleteFiles.map(_.path))))
  }

  /** Range-partitioned snapshot write: one shuffle splits `df` into
    * `nFiles` files with disjoint, sorted `rangeCol` ranges, so manifest
    * min/max pruning (and a merge's key-bound rewrite set) is selective
    * on that column from the first commit. */
  def writeRangedSnapshot(
      catalog: SnapshotCatalog,
      table: String,
      df: DataFrame,
      dataDir: String,
      rangeCol: String,
      nFiles: Int,
      props: Map[String, String] = Map.empty): SnapshotMeta = {
    val files = writeFiles(
      df.repartitionByRange(nFiles, col(rangeCol)).sortWithinPartitions(rangeCol),
      dataDir, "ranged")
    append(catalog, df, table, files, props)
  }

  /** Per-key-column min/max of `source`, as manifest prune filters — ONE
    * small aggregate job bounds a merge's rewrite set by the source's
    * key range before any bloom/footer work. */
  private[sinks] def keyBoundFilters(source: DataFrame, keyCols: Seq[String]): Seq[PruneFilter] = {
    val aggs = keyCols.flatMap { c =>
      source.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType =>
          Seq(min(col(c)).cast("double").as(s"lo__$c"), max(col(c)).cast("double").as(s"hi__$c"))
        case _: org.apache.spark.sql.types.StringType =>
          Seq(min(col(c)).as(s"lo__$c"), max(col(c)).as(s"hi__$c"))
        case _ => Nil
      }
    }
    if (aggs.isEmpty) return Nil
    val row = source.agg(aggs.head, aggs.tail: _*).collect().head
    keyCols.flatMap { c =>
      source.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType =>
          Option(row.getAs[Any](s"lo__$c")).map(lo =>
            RangeNum(c, lo.asInstanceOf[Double], row.getAs[Double](s"hi__$c")))
        case _: org.apache.spark.sql.types.StringType =>
          Option(row.getAs[String](s"lo__$c")).map(lo =>
            RangeString(c, lo, row.getAs[String](s"hi__$c")))
        case _ => None
      }
    }
  }

  /** Keyed upsert (Iceberg/Delta MERGE INTO semantics, copy-on-write):
    * target rows whose key matches a source row are replaced by the
    * source version; source rows with no match are inserted; everything
    * else survives untouched. One atomic metadata commit.
    *
    * Scale: the rewrite set is bounded TWICE before any data moves —
    * manifest pruning by the source's key range (min/max per key column,
    * one tiny agg job), then only those files are read and anti-joined.
    * Files outside the source key range keep their manifest metadata and
    * are never opened. The anti-join shuffles only the affected files'
    * rows against the source keys (broadcast when small — Catalyst's
    * choice). Outputs are split into survivor files (old rows) and
    * insert files (all source rows), and the split is recorded in the
    * commit props so incremental/CDC readers classify a merge exactly:
    * [[SnapshotCatalog.readIncremental]] treats insert files as appends;
    * [[SnapshotCatalog.changesBetween]] nets old versions out as deletes.
    *
    * `source` must carry the target's schema (same columns; key columns
    * non-null) and at most one row per key — duplicate-key sources are
    * written as-is (both rows land), the same "multiple matches" hazard
    * Delta/Iceberg MERGE guards with an error; dedup the source first
    * (e.g. [[graft.ops.Dedup.exactGroups]]) when keys can repeat. */
  def mergeInto(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      source: DataFrame,
      keyCols: Seq[String],
      dataDir: String,
      props: Map[String, String] = Map.empty): SnapshotMeta = {
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    val current = catalog.resolveSnapshot(table)
    val targetCols = current.schema.fieldNames.toSeq
    require(targetCols.toSet.subsetOf(source.columns.toSet),
      s"source is missing target columns: ${targetCols.toSet.diff(source.columns.toSet).mkString(", ")}")
    val src = source.select(targetCols.map(col): _*)

    val affected = catalog.planFiles(table, keyBoundFilters(src, keyCols)).map(_.path)
    // visible rows: never resurrect MoR-masked rows into survivors
    val survivorFiles: Seq[String] =
      if (affected.isEmpty) Nil
      else writeFiles(catalog.visibleRows(spark, current, affected)
        .join(src.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti"),
        dataDir, "merge-rw")
    val insertFiles = writeFiles(src, dataDir, "merge-ins")

    // a concurrent APPEND is serializable with a merge (equivalent to
    // merge-then-append) and reconciles in; only a concurrent rewrite
    // or mask of the files this merge read conflicts
    commitOp(catalog, spark, table, Some(current), SnapshotCatalog.OpMerge, survivorFiles,
      removed = affected, inserts = insertFiles, props = props)
  }

  /** A MERGE WHEN clause (the Delta/Iceberg multi-clause surface).
    * Clause conditions are SOURCE-side predicates — the CDC-apply idiom
    * (`WHEN MATCHED AND s.op = 'D' THEN DELETE`): each source row
    * decides its own action, evaluated once, map-side. First matching
    * clause wins (SQL MERGE clause order). */
  sealed trait MatchedClause { def condition: Option[Column] }
  /** WHEN MATCHED [AND cond] THEN UPDATE SET * */
  final case class MergeUpdateAll(condition: Option[Column] = None) extends MatchedClause
  /** WHEN MATCHED [AND cond] THEN UPDATE SET c = expr, ... — explicit
    * assignments may reference BOTH rows of the matched pair: target
    * columns by their plain name, source columns as `__s_<name>` (key
    * columns, equal by the join, by plain name). Evaluated over the
    * key-joined pair, map-side after one shuffle bounded by the
    * affected files' rows vs the source. */
  final case class MergeUpdateSet(
      sets: Seq[(String, Column)],
      condition: Option[Column] = None) extends MatchedClause
  /** WHEN MATCHED [AND cond] THEN DELETE */
  final case class MergeDelete(condition: Option[Column] = None) extends MatchedClause

  sealed trait NotMatchedClause { def condition: Option[Column] }
  /** WHEN NOT MATCHED [AND cond] THEN INSERT * */
  final case class MergeInsertAll(condition: Option[Column] = None) extends NotMatchedClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES (exprs) —
    * unassigned target columns insert NULL; expressions are source-side
    * (there is no target row). */
  final case class MergeInsertCols(
      sets: Seq[(String, Column)],
      condition: Option[Column] = None) extends NotMatchedClause

  /** A MERGE WHEN NOT MATCHED BY SOURCE clause (the Delta / Iceberg 1.5+
    * full-sync idiom: "target rows the source no longer carries get
    * deleted/flagged"). Unlike matched clauses, the condition — and an
    * update's SET expressions — are evaluated over the TARGET row (there
    * is no source row). First holding clause wins, SQL clause order. */
  sealed trait BySourceClause { def condition: Option[Column] }
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET c = expr, ... */
  final case class BySourceUpdate(
      sets: Seq[(String, Column)],
      condition: Option[Column] = None) extends BySourceClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE */
  final case class BySourceDelete(condition: Option[Column] = None) extends BySourceClause

  /** Multi-clause MERGE (conditional update/delete/insert — the common
    * CDC-apply shape Delta and Iceberg both ship): per matched target
    * row the first holding matched-clause applies (update-all → source
    * version replaces it; explicit SET → a projection over the matched
    * PAIR; delete → it is dropped); per unmatched source row the first
    * holding insert clause inserts (star, or explicit columns with NULL
    * fill). Target rows whose matched source row selects NO clause
    * survive untouched.
    *
    * Same scale story as [[mergeInto]] (which stays the fast path for
    * the canonical star shape, and to which this delegates when the
    * clause list is exactly update-all + insert-all, unconditional):
    * the rewrite set is manifest-bounded by the source key range; only
    * affected files are read; untouched files keep their metadata.
    * Explicit-SET clauses add ONE key join of the affected files' rows
    * against the source (broadcast when small — Catalyst's choice).
    * Clause conditions must be evaluable on the source row alone
    * (columns of `source`, which may carry extra columns — e.g. a CDC
    * `op` — beyond the target schema; they are dropped before write).
    * Like mergeInto, the source must have at most one row per key.
    *
    * A delete-only or explicit-SET/INSERT-cols merge needs only the key
    * columns in `source` (plus whatever its expressions reference); the
    * star forms require the full target schema.
    *
    * `notMatchedBySource` clauses act on TARGET rows whose key is absent
    * from the source. Their rewrite set is bounded by the TARGET side:
    * `bySourcePrune` carries one manifest filter list per clause
    * (derived from that clause's condition); a clause with no prunable
    * condition sweeps every file — the inherent cost of "delete whatever
    * the source no longer has", same as Delta. Files outside every
    * by-source prune AND outside the source key range never move. */
  def mergeApply(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      source: DataFrame,
      keyCols: Seq[String],
      matched: Seq[MatchedClause],
      notMatched: Seq[NotMatchedClause],
      dataDir: String,
      props: Map[String, String] = Map.empty,
      notMatchedBySource: Seq[BySourceClause] = Nil,
      bySourcePrune: Seq[Seq[graft.meta.PruneFilter]] = Nil): SnapshotMeta = {
    require(keyCols.nonEmpty, "mergeApply needs at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    (matched, notMatched, notMatchedBySource) match {
      case (Seq(MergeUpdateAll(None)), Seq(MergeInsertAll(None)), Nil) =>
        return mergeInto(spark, catalog, table, source, keyCols, dataDir, props)
      case _ =>
    }
    val current = catalog.resolveSnapshot(table)
    val targetCols = current.schema.fieldNames.toSeq
    // star forms take whole rows from the source; explicit SET / INSERT
    // (cols) forms need only the key columns plus whatever they reference
    val needsFullSchema = matched.exists(_.isInstanceOf[MergeUpdateAll]) ||
      notMatched.exists(_.isInstanceOf[MergeInsertAll])
    val writesRows =
      matched.exists(c => c.isInstanceOf[MergeUpdateAll] || c.isInstanceOf[MergeUpdateSet]) ||
      notMatched.nonEmpty || notMatchedBySource.exists(_.isInstanceOf[BySourceUpdate])
    if (needsFullSchema)
      require(targetCols.toSet.subsetOf(source.columns.toSet),
        s"source is missing target columns: ${targetCols.toSet.diff(source.columns.toSet).mkString(", ")}")
    else
      require(keyCols.toSet.subsetOf(source.columns.toSet),
        s"merge source is missing key columns: ${keyCols.toSet.diff(source.columns.toSet).mkString(", ")}")

    // per-source-row clause selection, first-match-wins, ONE map-side
    // expression per side: the index of the first holding clause, -1 none
    val mIdx = matched.zipWithIndex.foldRight(lit(-1)) { case ((cl, i), rest) =>
      when(cl.condition.getOrElse(lit(true)), lit(i)).otherwise(rest)
    }
    val nmIdx = notMatched.zipWithIndex.foldRight(lit(-1)) { case ((cl, i), rest) =>
      when(cl.condition.getOrElse(lit(true)), lit(i)).otherwise(rest)
    }
    val src = source.withColumn("__m_idx", mIdx).withColumn("__nm_idx", nmIdx)
    val srcKeys = src.select(keyCols.map(col): _*).distinct()

    def requireTargetColumns(sets: Seq[(String, Column)], what: String): Unit =
      sets.foreach { case (n, _) =>
        require(current.schema.fields.exists(_.name.equalsIgnoreCase(n)),
          s"MERGE $what references unknown column '$n'") }
    matched.foreach {
      case MergeUpdateSet(sets, _) => requireTargetColumns(sets, "UPDATE SET")
      case _ =>
    }
    notMatched.foreach {
      case MergeInsertCols(sets, _) => requireTargetColumns(sets, "INSERT (cols)")
      case _ =>
    }
    notMatchedBySource.foreach {
      case BySourceUpdate(sets, _) =>
        requireTargetColumns(sets, "NOT MATCHED BY SOURCE UPDATE")
      case _ =>
    }

    // rewrite set: files the source key range can touch, plus — per
    // by-source clause — the files its condition's manifest filters
    // select (an unprunable clause selects every file: the inherent
    // cost of the full-sync shape)
    val srcAffected = catalog.planFiles(table, keyBoundFilters(source, keyCols)).map(_.path)
    val bsPrunes: Seq[Seq[graft.meta.PruneFilter]] =
      if (bySourcePrune.size == notMatchedBySource.size) bySourcePrune
      else Seq.fill(notMatchedBySource.size)(Nil)
    val bsAffected: Seq[String] =
      bsPrunes.flatMap(f => catalog.planFiles(table, f).map(_.path)).distinct
    val affected = (srcAffected ++ bsAffected).distinct

    // keys that actually exist in the target (≤ |source| rows — the
    // semi-join output is source-bounded, never table-bounded)
    val matchedKeys =
      if (affected.isEmpty) None
      else Some(catalog.visibleRows(spark, current, affected)
        .select(keyCols.map(col): _*)
        .join(srcKeys, keyCols, "left_semi").distinct())

    // by-source clause selection per TARGET row: index of the first
    // holding clause, -1 = none (the row survives untouched)
    val bsIdx: Column = notMatchedBySource.zipWithIndex.foldRight(lit(-1)) {
      case ((cl, i), rest) =>
        when(coalesce(cl.condition.getOrElse(lit(true)), lit(false)), lit(i)).otherwise(rest)
    }
    // affected-file target rows with no source match, tagged by clause
    val taggedUnmatched: Option[DataFrame] =
      if (notMatchedBySource.isEmpty || affected.isEmpty) None
      else Some(catalog.visibleRows(spark, current, affected)
        .join(srcKeys, keyCols, "left_anti").withColumn("__bs_idx", bsIdx))

    // survivors: affected-file rows minus those claimed by a holding
    // update/delete clause (a matched row whose source selects no
    // clause stays; an unmatched row stays unless a by-source clause
    // holds for it)
    val survivorFiles: Seq[String] =
      if (affected.isEmpty) Nil
      else {
        val visible = catalog.visibleRows(spark, current, affected)
        val claimedKeys = src.filter(col("__m_idx") >= 0)
          .select(keyCols.map(col): _*).distinct()
        val survivors = taggedUnmatched match {
          case None => visible.join(claimedKeys, keyCols, "left_anti")
          case Some(tu) =>
            visible.join(srcKeys, keyCols, "left_semi")
              .join(claimedKeys, keyCols, "left_anti")
              .unionByName(tu.filter(col("__bs_idx") === -1).drop("__bs_idx"))
        }
        writeFiles(survivors, dataDir, "merge-rw")
      }

    // new rows: updated versions of matched rows (star = source row;
    // explicit SET = expression over the matched PAIR) + conditional
    // inserts of unmatched source rows (star or explicit columns) +
    // by-source updates of unmatched target rows
    val insertFiles: Seq[String] =
      if (!writesRows) Nil
      else {
        val starIdxs = matched.zipWithIndex.collect { case (_: MergeUpdateAll, i) => i }
        val updatesStar: Option[DataFrame] =
          if (starIdxs.isEmpty) None
          else matchedKeys.map(mk =>
            src.filter(col("__m_idx").isin(starIdxs: _*))
              .join(mk, keyCols, "left_semi")
              .select(targetCols.map(col): _*))
        val setClauses = matched.zipWithIndex.collect { case (u: MergeUpdateSet, i) => (u, i) }
        val updatesSet: Option[DataFrame] =
          if (setClauses.isEmpty || affected.isEmpty) None
          else {
            // matched pairs: visible target rows joined to their source
            // row; source non-key columns ride as __s_<name> so SET
            // expressions can see both sides of the pair
            val srcRen = src.select(
              (keyCols.map(col) ++
                src.columns.filterNot(keyCols.contains).map(c => col(c).as(s"__s_$c"))): _*)
            val pairs = catalog.visibleRows(spark, current, affected)
              .join(srcRen, keyCols)
            setClauses.map { case (u, i) =>
              pairs.filter(col("__s___m_idx") === i)
                .select(current.schema.fields.map { f =>
                  u.sets.find(_._1.equalsIgnoreCase(f.name))
                    .map(_._2.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
                }.toIndexedSeq: _*)
            }.reduceOption(_ unionByName _)
          }
        val insertsDf: Option[DataFrame] =
          if (notMatched.isEmpty) None
          else {
            val unmatchedSrc = matchedKeys match {
              case None => src
              case Some(mk) => src.join(mk, keyCols, "left_anti")
            }
            notMatched.zipWithIndex.map {
              case (_: MergeInsertAll, i) =>
                unmatchedSrc.filter(col("__nm_idx") === i)
                  .select(targetCols.map(col): _*)
              case (c: MergeInsertCols, i) =>
                unmatchedSrc.filter(col("__nm_idx") === i)
                  .select(current.schema.fields.map { f =>
                    c.sets.find(_._1.equalsIgnoreCase(f.name))
                      .map(_._2.cast(f.dataType).as(f.name))
                      .getOrElse(
                        // unassigned target column: its write-default if
                        // one is in force (S61), else NULL
                        graft.meta.SnapshotCatalog.writeDefaultOf(f)
                          .map(expr(_).cast(f.dataType).as(f.name))
                          .getOrElse(lit(null).cast(f.dataType).as(f.name)))
                  }.toIndexedSeq: _*)
            }.reduceOption(_ unionByName _)
          }
        val fromBySource: Option[DataFrame] = taggedUnmatched.flatMap { tu =>
          notMatchedBySource.zipWithIndex.collect {
            case (u: BySourceUpdate, i) =>
              tu.filter(col("__bs_idx") === i)
                .select(current.schema.fields.map { f =>
                  u.sets.find(_._1.equalsIgnoreCase(f.name))
                    .map(_._2.cast(f.dataType).as(f.name)).getOrElse(col(f.name))
                }.toIndexedSeq: _*)
          }.reduceOption(_ unionByName _)
        }
        (updatesStar.toSeq ++ updatesSet.toSeq ++ insertsDf.toSeq ++ fromBySource.toSeq)
          .reduceOption(_ unionByName _) match {
          case None => Nil
          case Some(newRows) => writeFiles(newRows, dataDir, "merge-ins")
        }
      }

    commitOp(catalog, spark, table, Some(current), SnapshotCatalog.OpMerge, survivorFiles,
      removed = affected, inserts = insertFiles, props = props)
  }

  /** Small-file compaction (Iceberg rewrite_data_files bin-pack): files
    * under `smallBytes` are rewritten into ~`targetBytes` outputs; files
    * already big enough keep their manifest metadata untouched. The
    * antidote to streaming ingest's file-per-micro-batch explosion —
    * scan cost tracks data volume again instead of commit count.
    *
    * PARTITION-AWARE: small files are binned WITHIN their partition
    * (identical `partitionValues`), and each bin's outputs are written
    * under re-encoded `k=v` path segments (Spark's own escaping) — so
    * compaction preserves partition pruning (incl. hidden-transform
    * layouts) instead of collapsing pruned directories into unprunable
    * mixed files. A partition with a single small file is left alone
    * (nothing to pack with); unpartitioned tables degenerate to one
    * bin, the old behavior.
    *
    * Spark-first: ONE read + `coalesce` per bin (no shuffle — compaction
    * moves no rows between keys), one O(touched) metadata commit. The
    * commit is labeled row-preserving (`operation=compact`), which CDC
    * readers exploit: a compaction emits NO spurious changes, and
    * incremental reads substitute outputs for inputs when the inputs
    * were themselves in-range appends. Returns None when fewer than
    * `minFiles` files qualify (nothing worth rewriting). */
  /** Run one independent Spark job per partition group from a BOUNDED
    * driver-side pool — the scheduler interleaves their stages across
    * executors, so an unscoped nightly rewrite over 1,000 partitions
    * stops being 1,000 serial jobs. Bounded (default 8 in flight): each
    * job is a full shuffle, and unbounded submission would thrash the
    * shuffle/memory budget at scale. Results keep input order; the
    * first failure propagates with its original exception. */
  private def perGroupJobs[A, B](groups: Seq[A], maxConcurrent: Int = 8)(f: A => B): Seq[B] = {
    if (groups.size <= 1) return groups.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxConcurrent, groups.size))
    try {
      val futures = groups.map(g => pool.submit(
        new java.util.concurrent.Callable[B] { def call(): B = f(g) }))
      try futures.map(fu =>
        try fu.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
      catch { case t: Throwable =>
        // first failure propagates — cancel the siblings rather than let
        // queued/running group jobs (each a full shuffle) burn cluster
        // time producing outputs nobody will commit (they'd only fall to
        // orphan GC anyway)
        futures.foreach(_.cancel(true))
        pool.shutdownNow()
        throw t
      }
    } finally { pool.shutdown(); () }
  }

  def compact(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      dataDir: String,
      targetBytes: Long = 128L << 20,
      smallBytes: Long = 32L << 20,
      minFiles: Int = 2,
      scope: Seq[graft.meta.PruneFilter] = Nil): Option[SnapshotMeta] = {
    val current = catalog.resolveSnapshot(table)
    // `scope` bounds the sweep to the files its manifest filters keep
    // (e.g. a partition predicate) — the partition-at-a-time nightly
    // shape at 100 TB; out-of-scope files keep their metadata untouched
    val inScope: Set[String] =
      if (scope.isEmpty) current.files.map(_.path).toSet
      else catalog.planFiles(table, scope).map(_.path).toSet
    val small = current.files.filter(f =>
      f.sizeBytes < smallBytes && inScope.contains(f.path))
    if (small.size < minFiles) return None
    val binned = small.groupBy(_.partitionValues).filter(_._2.size >= 2)
    if (binned.isEmpty || binned.values.map(_.size).sum < minFiles) return None
    val outputs = perGroupJobs(binned.toSeq.sortBy(_._1.toSeq.sorted.mkString(","))) {
      case (pv, fs) =>
        val totalBytes = fs.map(_.sizeBytes).sum
        val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
        // visible rows: compacting a file with outstanding MoR deletes
        // materializes them for that bin (row-preserving in VISIBLE
        // terms — the CDC contract this commit's `compact` label claims)
        writeFiles(catalog.visibleRows(spark, current, fs.map(_.path)).coalesce(nOut),
          partitionDir(dataDir, pv), "compact")
      }.flatten
    Some(commitOp(catalog, spark, table, Some(current), SnapshotCatalog.OpCompact, outputs,
      removed = binned.values.flatten.map(_.path).toSeq))
  }

  /** Sorted / z-order rewrite (Iceberg `rewrite_data_files` with a
    * sort_order; Delta `OPTIMIZE ZORDER BY`): the table's VISIBLE rows
    * re-cluster by `sortCols` — a range shuffle (lexicographic sort)
    * or a z-value shuffle (interleaved, 2..10 numeric columns), files
    * written sorted with disjoint ranges — committed under the compact
    * protocol
    * (`operation=compact`, row-preserving in visible terms, so the
    * change feed stays silent and incremental readers skip it).
    * This is the maintenance verb that RESTORES stats-pruning quality
    * accumulating appends degrade: after enough unsorted commits every
    * file's min/max spans the whole key range and planFiles keeps
    * everything; one rewrite makes range predicates file-selective
    * again. Outstanding MoR deletes materialize along the way (the
    * rewrite reads visible rows and every old file retires, so the
    * masks retire with them — same as Iceberg's rewrite).
    *
    * PARTITION-AWARE (like [[compact]]): scoped files re-cluster WITHIN
    * their partition (identical manifest `partitionValues`) and each
    * group's outputs land under re-encoded `k=v` path segments — so a
    * rewrite on a hive-partitioned or hidden-transform (`days(ts)`,
    * `bucket(n,c)`) layout preserves the footer-free partition-value
    * pruning the layout was built for, while sharpening the sort
    * columns' min/max inside every partition. (A flat write here would
    * silently downgrade a `bucket(n,col)` point lookup to
    * stats-can't-prune.) Unpartitioned tables degenerate to one group,
    * the plain behavior. The segments are escaped by the encoder the
    * manifest parser inverts ([[SnapshotCatalog.partitionSegment]],
    * Spark's own `partitionBy` escaping), so new files prune under the
    * same values the old ones did.
    *
    * Scale: reads the scoped files once; z-order bucket bounds come
    * from ONE multi-column `approxQuantile` pass (a single global
    * binning model — z-values stay comparable across groups); then one
    * range/z shuffle per partition group, submitted from a bounded
    * driver pool (8 jobs in flight, same as partition-aware `compact`)
    * so an unscoped multi-partition rewrite overlaps its group jobs
    * instead of serializing them. At 100 TB run it partition-at-a-time:
    * `scope`
    * (manifest prune filters, e.g. from a partition predicate) bounds
    * the sweep to the matching files; everything outside keeps its
    * manifest metadata untouched. */
  def rewriteSorted(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      dataDir: String,
      sortCols: Seq[String],
      nFiles: Int = 16,
      zorder: Boolean = false,
      scope: Seq[graft.meta.PruneFilter] = Nil): SnapshotMeta = {
    require(sortCols.nonEmpty && sortCols.size <= 10,
      "rewriteSorted needs 1..10 sort columns")
    require(!zorder || sortCols.size >= 2,
      "z-order needs at least 2 columns; one column is a plain sort")
    val current = catalog.resolveSnapshot(table)
    sortCols.foreach(c => require(current.schema.fieldNames.contains(c),
      s"no column $c on $table"))
    if (zorder) sortCols.foreach { c =>
      require(current.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"z-order needs numeric columns; $c on $table is " +
          s"${current.schema(c).dataType.catalogString} — use a plain sort (zorder => false)")
    }
    val scoped = catalog.planFiles(table, scope)
    if (scoped.isEmpty) return current // scope pruned everything: no-op
    val scopedPaths = scoped.map(_.path)
    // z-order bucket bounds: one pass over ALL scoped rows for ALL
    // columns (the multi-column approxQuantile overload — not one scan
    // per column), computed globally so every group bins identically
    val boundsOpt: Option[Seq[(String, Seq[Double])]] =
      if (!zorder) None
      else {
        val buckets = 64
        val qs = catalog.visibleRows(spark, current, scopedPaths).stat.approxQuantile(
          sortCols.toArray, (1 until buckets).map(_.toDouble / buckets).toArray, 0.01)
        Some(sortCols.zip(qs.map(_.toSeq)))
      }
    val groups = scoped.groupBy(_.partitionValues).toSeq
      .sortBy(_._1.toSeq.sorted.mkString(","))
    val totalBytes = math.max(1L, scoped.map(_.sizeBytes).sum)
    val outputs = perGroupJobs(groups) { case (pv, fs) =>
      // output files proportional to the group's bytes (≥1 each):
      // partitions keep file counts that track their data volume
      val nOut = math.max(1, math.round(
        nFiles.toDouble * fs.map(_.sizeBytes).sum / totalBytes).toInt)
      val visible = catalog.visibleRows(spark, current, fs.map(_.path))
      val clustered = boundsOpt match {
        case None => // lexicographic multi-column sort (any column types)
          visible.repartitionByRange(nOut, sortCols.map(col): _*)
            .sortWithinPartitions(sortCols.head, sortCols.tail: _*)
        case Some(bounds) => // interleaved z-value clustering
          visible.withColumn("__z", zorderValue(bounds))
            .repartitionByRange(nOut, col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
      }
      writeFiles(clustered, partitionDir(dataDir, pv), "sorted")
    }.flatten
    commitOp(catalog, spark, table, Some(current), SnapshotCatalog.OpCompact, outputs,
      removed = scopedPaths)
  }

  /** Write-audit-publish, stage step: `df`'s files are written and
    * recorded OUTSIDE the snapshot chain — readers, CDC and streaming
    * sources see NOTHING until `catalog.publishStaged`. Audit the
    * prospective state with [[readStaged]]; a failed audit is
    * `catalog.discardStaged` (the files fall to vacuum). */
  def stageAppendSnapshot(
      catalog: SnapshotCatalog,
      table: String,
      df: DataFrame,
      dataDir: String,
      props: Map[String, String] = Map.empty): String = {
    catalog.stageAppend(table, writeFiles(df, dataDir, "staged"), props)
  }

  /** The PROSPECTIVE table state of a staged append — current snapshot
    * plus the staged files — for audit queries (row counts, quality
    * gates, dedup checks) before anything becomes visible. */
  def readStaged(
      catalog: SnapshotCatalog,
      spark: SparkSession,
      table: String,
      stagedId: String): DataFrame = {
    val st = catalog.staged(table, stagedId).getOrElse(throw new IllegalArgumentException(
      s"no staged commit $stagedId for table $table"))
    catalog.currentSnapshot(table) match {
      case Some(snap) =>
        // current side through the MoR delete masks (an audit must not
        // resurrect masked rows); staged files are fresh, read under
        // their own schema (a staged append may carry evolved columns)
        catalog.visibleRows(spark, snap, snap.files.map(_.path))
          .unionByName(spark.read.parquet(st.paths: _*), allowMissingColumns = true)
      case None => spark.read.parquet(st.paths: _*)
    }
  }

  /** Write `df` as parquet under `dataDir` and commit the produced files
    * as a new snapshot of `table` — the transactional append pattern
    * (write files, then one atomic metadata commit), mirroring the
    * Iceberg commit flow the reference's metadata manager consumes
    * (reference: src/iceberg_management/metadata.py:26). */
  def writeSnapshot(
      catalog: SnapshotCatalog,
      table: String,
      df: DataFrame,
      dataDir: String,
      bloomColumns: Seq[String] = Nil,
      props: Map[String, String] = Map.empty,
      sketchColumns: Seq[String] = Nil,
      declaredSchema: Option[org.apache.spark.sql.types.StructType] = None): SnapshotMeta = {
    val files = writeFiles(df, dataDir, "commit")
    commitOp(catalog, df.sparkSession, table, catalog.currentSnapshot(table),
      SnapshotCatalog.OpAppend, files, props = props, bloomColumns = bloomColumns,
      sketchColumns = sketchColumns, declaredSchema = declaredSchema)
  }

  /** Full-table replace (SQL `INSERT OVERWRITE` semantics): write `df`,
    * commit its files as the table's ONLY files. Replaced files are
    * never opened — data work is writing `df` alone; the old files are
    * netted as deletes by `changesBetween`'s rewrite walk. A concurrent
    * append has no serializable order with a whole-table restatement,
    * so it conflicts (CommitIntent removedPaths covers every basis
    * file; the commit's resolve drops concurrent survivors). */
  def replaceSnapshot(
      catalog: SnapshotCatalog,
      table: String,
      df: DataFrame,
      dataDir: String,
      props: Map[String, String] = Map.empty): SnapshotMeta = {
    val files = writeFiles(df, dataDir, "replace")
    val prev = catalog.currentSnapshot(table)
    commitOp(catalog, df.sparkSession, table, prev, SnapshotCatalog.OpOverwrite, files,
      removed = prev.map(_.files.map(_.path)).getOrElse(Nil), props = props,
      // any concurrently added file is outside the restated state
      intent = CommitIntent(None, conflictOnAdded = _ => true))
  }
}
