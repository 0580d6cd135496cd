package graft.sinks

import graft.meta.{PruneFilter, SnapshotCatalog, SnapshotMeta}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

/** Snapshot export — the inverse of [[Ingest]]: write a table's state
  * (current, a snapshot id, or a tag — a branch exports by its
  * first-class `t/branches/dev` ref) to an EXTERNAL directory as
  * parquet/csv/json for consumers outside the catalog (training jobs
  * that want raw shards, partner data shares, downstream systems that
  * read files not catalogs). The reference serves external readers over
  * its wire protocol (`flight_server/server.py`); file export is the
  * batch-shaped complement. [[exportChanges]] is the CDC-shaped
  * variant: the `_change_type`-tagged feed between two snapshots as
  * shards, for downstream systems that apply deltas instead of
  * re-reading states.
  *
  * Scale: one distributed write of the selected state — file pruning
  * (`where` scopes via manifest min/max/blooms before planning) keeps
  * the scan at the matching files, the row filter keeps the output
  * exact, and nothing is collected to the driver. Default mode refuses
  * an existing destination (an export that silently merges into last
  * week's export corrupts the consumer); `overwrite => true` replaces. */
object Export {

  val Formats: Set[String] = Set("parquet", "csv", "json")

  /** Resolve the EXACT snapshot an export will read — ONCE, before
    * anything is written, so the write can never silently fall back to
    * current (e.g. the historical snapshot expired between check and
    * read) and hand the consumer today's data labeled as history. A
    * numeric version must name an existing snapshot; a tag wins when
    * the id doesn't resolve (covers tags that happen to look numeric).
    * Public so the SQL verb derives its `where` prune filters from THIS
    * snapshot's schema — a rename or widening since a pinned snapshot
    * must not translate filters against the wrong stats domain. */
  def resolveState(
      catalog: SnapshotCatalog,
      table: String,
      version: Option[String],
      asOfMs: Option[Long]): SnapshotMeta = {
    require(version.isEmpty || asOfMs.isEmpty,
      "export takes at most one of version / as_of_ms")
    version.map { v =>
      v.toLongOption.flatMap(catalog.snapshotById(table, _))
        .orElse(catalog.snapshotByTag(table, v))
        .getOrElse(throw new IllegalArgumentException(
          s"export version => '$v': no snapshot id or tag of that name on $table"))
    }.orElse(asOfMs.map { ts =>
      catalog.snapshotAsOf(table, ts).getOrElse(throw new IllegalArgumentException(
        s"export as_of_ms => $ts: no snapshot of $table at or before that time"))
    }).getOrElse(catalog.resolveSnapshot(table))
  }

  /** Returns (files written, bytes written) — counted from one
    * driver-side listing of the destination. `resolvedState` pins a
    * pre-resolved snapshot (the SQL verb resolves first to build its
    * prune filters); otherwise version/as_of_ms resolve here. */
  def export(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      dest: String,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      version: Option[String] = None,
      asOfMs: Option[Long] = None,
      where: Option[String] = None,
      pruneFilters: Seq[PruneFilter] = Nil,
      overwrite: Boolean = false,
      partitionBy: Seq[String] = Nil,
      resolvedState: Option[SnapshotMeta] = None): (Long, Long) = {
    requireFormat(format)
    val snap = resolvedState.getOrElse(resolveState(catalog, table, version, asOfMs))
    val base = catalog.readSnapshot(spark, snap, filters = pruneFilters)
    val df = where.map(w => base.filter(expr(w))).getOrElse(base)
    write(spark, df, dest, format, options, overwrite, partitionBy)
  }

  /** Export the CHANGE FEED between two snapshots as external shards:
    * the `_change_type`-tagged rows of
    * [[SnapshotCatalog.changesBetween]] (net — intra-range churn
    * cancels) or, with `perCommit`, [[SnapshotCatalog.changesPerCommit]]
    * (every row attributed to `_commit_snapshot_id` /
    * `_commit_timestamp_ms`, churn preserved in commit order). The
    * contract the shards carry is the feed's own apply-law: the net
    * feed applied to the `from` state reproduces the `to` state as a
    * multiset — so a consumer that ingests the shards needs no access
    * to this catalog at all. Cost ∝ the range's own churn (the feed's
    * bound), never table size. */
  def exportChanges(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      dest: String,
      fromSnapshotId: Long,
      toSnapshotId: Option[Long] = None,
      perCommit: Boolean = false,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      overwrite: Boolean = false,
      partitionBy: Seq[String] = Nil): (Long, Long) = {
    requireFormat(format)
    val df =
      if (perCommit) catalog.changesPerCommit(spark, table, fromSnapshotId, toSnapshotId)
      else catalog.changesBetween(spark, table, fromSnapshotId, toSnapshotId)
    write(spark, df, dest, format, options, overwrite, partitionBy)
  }

  private def requireFormat(format: String): Unit =
    require(Formats.contains(format),
      s"export format must be one of ${Formats.toSeq.sorted.mkString(", ")}; got '$format'")

  private def write(
      spark: SparkSession,
      df: org.apache.spark.sql.DataFrame,
      dest: String,
      format: String,
      options: Map[String, String],
      overwrite: Boolean,
      partitionBy: Seq[String]): (Long, Long) = {
    // hive-layout output (`dest/c=v/...`) for consumers that
    // partition-prune by directory; one shuffle-free write per
    // partition value present in each task's split
    val writer = df.write.format(format).options(options)
      .mode(if (overwrite) "overwrite" else "errorifexists")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .save(dest)
    // count through the SAME filesystem the write went through — a
    // java.nio walk would succeed locally and throw on every remote
    // destination URI (s3a://, hdfs://) the writer itself accepts
    val p = new HPath(dest)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    var files = 0L
    var bytes = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (st.isFile && !n.startsWith("_") && !n.startsWith(".")) {
        files += 1; bytes += st.getLen
      }
    }
    (files, bytes)
  }
}
