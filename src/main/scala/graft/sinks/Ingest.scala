package graft.sinks

import graft.meta.{BucketTransform, CommitConflictException, CommitIntent,
  DaysTransform, PartTransform, PartitionTransforms, SnapshotCatalog, TruncateTransform}
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Idempotent file ingestion from a landing zone into a catalog table —
  * the Delta `COPY INTO` / Snowflake `COPY` shape (the reference's
  * `storage/dataloader.py` loads object-store parquet by explicit path
  * list; this is the catalog-tracked version of that load). Re-running
  * the SAME ingest is a no-op: every loaded source file is recorded by
  * fingerprint (path + size + mtime) in the commit's own props, so a
  * scheduled `CALL graft.ingest(...)` hourly against a growing landing
  * directory loads exactly the files that arrived since the last run —
  * crash-safe by construction, because the fingerprints and the data
  * land in ONE atomic commit (a crash between write and commit re-reads
  * the batch; it can never double-load or drop files).
  *
  * Scale (the 100 TB landing zone): each run's data work is reading the
  * FRESH bytes only, never the directory's history; the directory
  * listing is one driver-side glob (O(files), the same cost Delta's
  * COPY INTO pays), and the dedupe check walks the surviving snapshots'
  * ingest props (O(metadata), memoized manifests). A table whose schema
  * exists reads CSV/JSON WITH that schema — no inference scan, so a
  * malformed value fails the load instead of silently re-typing a
  * column. The dedupe WINDOW is the table's snapshot retention: expire
  * a snapshot and its fingerprints age out with it (Delta documents the
  * same horizon for COPY INTO) — keep `graft.retention.ms` longer than
  * the landing zone's replay horizon.
  */
object Ingest {

  /** Prop on an ingest commit: the comma-joined fingerprints of the
    * source files this commit loaded. NOT sticky — the dedupe set is
    * the union over surviving history, not a forever-growing prop.
    * Size bound: 33 bytes/file, the same asymptotic class as the
    * manifest's own per-file entries (or Delta's add-actions) — a
    * 10k-file batch costs ~330 KB on ITS commit only; a 1M-file
    * landing day should be split by `pattern` or ingested on a
    * tighter schedule, exactly like any metadata log. */
  val IngestFilesProp = "graft.ingest.files"

  /** Prop on an ingest commit: the source path it listed (audit). */
  val IngestSourceProp = "graft.ingest.source"

  val Formats: Set[String] = Set("csv", "json", "parquet")

  final case class IngestResult(
      ingested: Int, skipped: Int, rows: Long, snapshotId: Option[Long])

  /** SHA-256 of `path|size|mtime` truncated to 128 bits (32 hex chars)
    * — COLLISION-RESISTANT, because a fingerprint collision between two
    * distinct landing files would silently mark the second as
    * already-ingested forever (a dropped file: the one failure mode
    * COPY INTO must not have; a 64-bit non-cryptographic hash makes
    * that a birthday-bound certainty at fleet scale). 128 bits keeps
    * the probability below 2^-64 per trillion-file corpus while the
    * per-commit prop stays ~33 B/file. A MODIFIED file (size or mtime
    * moved) fingerprints fresh and re-ingests, an untouched file never
    * loads twice. */
  private[graft] def fingerprint(path: String, size: Long, mtimeMs: Long): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$path|$size|$mtimeMs".getBytes("UTF-8"))
    d.take(16).map(b => f"$b%02x").mkString
  }

  private def fp(st: FileStatus): String =
    fingerprint(st.getPath.toUri.getPath, st.getLen, st.getModificationTime)

  /** The PRE-digest fingerprint format (64-bit FNV-1a, variable-width
    * hex). Catalogs written before the SHA-256 switch carry these in
    * their commit props; the dedupe check accepts a match in EITHER
    * format, so an untouched file ingested under the old format never
    * re-loads after an engine upgrade — the exact double-load the
    * fingerprint set exists to prevent. New commits record only the
    * digest form; legacy fingerprints age out with their snapshots. */
  private[graft] def legacyFingerprint(path: String, size: Long, mtimeMs: Long): String = {
    val s = s"$path|$size|$mtimeMs"
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    java.lang.Long.toHexString(h)
  }

  private def legacyFp(st: FileStatus): String =
    legacyFingerprint(st.getPath.toUri.getPath, st.getLen, st.getModificationTime)

  /** Fully-qualified, `..`-collapsed form of `p` — the string two paths
    * are compared in for containment. Scheme/authority render
    * explicitly (null and empty authority canonicalize the same:
    * `file:/x` and `file:///x` are one location). */
  private def resolved(fs: org.apache.hadoop.fs.FileSystem, p: HPath): String = {
    val u = fs.makeQualified(p).toUri.normalize()
    s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}${u.getPath}"
  }

  /** Require the RESOLVED path to stay under the RESOLVED base. An
    * explicit `files =>` entry or a glob hit that escapes the declared
    * source — Hadoop Path resolution honors absolute paths and `..`
    * segments in the child — could reach back into the catalog's own
    * storage and re-ingest committed parquet as new rows: the exact
    * double-load the source-containment guard exists to prevent, so
    * containment is enforced PER RESOLVED FILE, not just on `src`. */
  private def requireUnder(
      fs: org.apache.hadoop.fs.FileSystem, base: HPath, p: HPath, what: String): Unit = {
    val b = resolved(fs, base).stripSuffix("/")
    val r = resolved(fs, p)
    require(r == b || r.startsWith(b + "/"),
      s"ingest $what: '$p' resolves outside the source $base ($r)")
  }

  /** Every fingerprint any SURVIVING snapshot of `table` recorded. */
  def alreadyIngested(catalog: SnapshotCatalog, table: String): Set[String] =
    catalog.snapshots(table)
      .flatMap(_.props.get(IngestFilesProp))
      .flatMap(_.split(",")).filter(_.nonEmpty).toSet

  /** The source files an ingest would consider: `src` globbed (a plain
    * directory lists its children against `pattern`); underscore- and
    * dot-prefixed names are never data (the Hadoop hidden-file
    * convention — `_SUCCESS`, checksums). */
  private def listSource(
      spark: SparkSession, src: String, pattern: String): Seq[FileStatus] = {
    val p = new HPath(src)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val base = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    require(base.nonEmpty, s"ingest source not found: $src")
    base.flatMap { st =>
      if (st.isDirectory) {
        val hits =
          Option(fs.globStatus(new HPath(st.getPath, pattern))).map(_.toSeq).getOrElse(Nil)
        hits.foreach(h => requireUnder(fs, st.getPath, h.getPath, s"pattern => '$pattern'"))
        hits
      } else Seq(st)
    }.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.toString)
  }

  /** A `partition_by` entry: either a raw column (hive layout on its
    * values) or a HIDDEN transform — `days(c)` / `truncate(w,c)` /
    * `bucket(n,c)`, the Iceberg spellings (S35). A transform
    * materializes its derived value into the directory name only; the
    * source column stays in the file bytes, so per-file stats on it
    * remain tight and a time-range read prunes to its days whether the
    * reader knows the transform or not. Anything else refuses. */
  private[graft] def parsePartition(e: String): Either[String, PartTransform] = {
    val days = """days\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)""".r
    val trunc = """truncate\(\s*(\d+)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)""".r
    val bucket = """bucket\(\s*(\d+)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)""".r
    e.trim match {
      case days(c) => Right(DaysTransform(c))
      case trunc(w, c) => Right(TruncateTransform(c, w.toInt))
      case bucket(n, c) => Right(BucketTransform(c, n.toInt))
      case c if c.matches("[A-Za-z_][A-Za-z0-9_]*") => Left(c)
      case other => throw new IllegalArgumentException(
        s"ingest partition_by: '$other' is neither a column name nor " +
          "days(c) / truncate(w,c) / bucket(n,c)")
    }
  }

  /** Load the not-yet-ingested files under `src` into `table` as ONE
    * append commit carrying their fingerprints. No fresh files = no
    * commit (`snapshotId = None`). A first ingest into a table with no
    * snapshots bootstraps it (schema inferred for csv/json, read for
    * parquet); onto an existing table, files read WITH the table schema
    * and the append type-safety rules apply.
    *
    * CONCURRENCY: two racing ingests of one landing zone must not load
    * a file twice, but plain appends always reconcile — so the commit
    * declares `strictBasis` and retries on conflict, RE-CHECKING the
    * fingerprint set against the moved head each attempt (the loser of
    * a same-file race degrades to a no-op instead of a double load).
    * Parquet stranded by a lost attempt falls to `remove_orphans`'
    * grace window, like any failed write. Six conflicting attempts =
    * loud failure (a table THAT contended needs its ingests serialized,
    * not silently interleaved). */
  def ingest(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      table: String,
      src: String,
      format: String,
      options: Map[String, String],
      dataDir: String,
      pattern: String = "*",
      explicitFiles: Seq[String] = Nil,
      maxFiles: Option[Int] = None,
      partitionBy: Seq[String] = Nil): IngestResult = {
    require(Formats.contains(format),
      s"ingest format must be one of ${Formats.toSeq.sorted.mkString(", ")}; got '$format'")
    maxFiles.foreach(n => require(n >= 1, s"max_files must be >= 1; got $n"))
    // parse the layout spec UP FRONT: a malformed partition_by must
    // refuse on every run, not only when fresh files happen to exist
    val parts = partitionBy.map(parsePartition)
    // an EXPLICIT file list (the reference dataloader's shape —
    // `load_partition(file_paths)`) bypasses the directory listing;
    // each name resolves relative to `src` and must exist (a missed
    // erasure/ingest target must never read as "nothing to do")
    val all =
      if (explicitFiles.isEmpty) listSource(spark, src, pattern)
      else {
        val fs = new HPath(src).getFileSystem(spark.sessionState.newHadoopConf())
        explicitFiles.map { f =>
          val p = new HPath(src, f)
          requireUnder(fs, new HPath(src), p, s"files => '$f'")
          require(fs.exists(p) && fs.getFileStatus(p).isFile,
            s"ingest files => '$f': not a file under $src")
          fs.getFileStatus(p)
        }
      }
    var attempt = 0
    while (attempt < 6) {
      attempt += 1
      val basis = catalog.currentSnapshot(table)
      val seen = alreadyIngested(catalog, table)
      // max_files caps ONE commit's batch (path-sorted, so draining is
      // deterministic): the bounded-commit mechanism for huge landing
      // days — run until ingested = 0 and each commit's fingerprint
      // prop stays metadata-sized
      val freshAll =
        all.filterNot(st => seen.contains(fp(st)) || seen.contains(legacyFp(st)))
      val fresh = maxFiles.map(freshAll.take).getOrElse(freshAll)
      if (fresh.isEmpty) return IngestResult(0, all.size, 0L, None)
      // FAILFAST unless the caller overrides: a malformed row must fail
      // the load loudly, never land as silent nulls (the commit is
      // atomic, so a failed batch leaves no partial state to clean up)
      val reader = spark.read.format(format)
        .options(Map("mode" -> "FAILFAST") ++ options)
      val ready = catalog.schema(table).map(reader.schema).getOrElse(
        if (format == "csv") reader.option("inferSchema", "true") else reader)
      val df = ready.load(fresh.map(_.getPath.toString): _*)
      // partition-aware landing (the S21→S4 loop at ingest time): the
      // batch writes hive-partitioned — on raw columns and/or hidden
      // transforms (`days(ts)`: the canonical time-partitioned landing
      // flow) — every leaf file's k=v segments land in its manifest
      // entry at commit, and a later range read prunes the fresh
      // partitions' files from METADATA alone (transform layouts also
      // keep tight per-file stats on the SOURCE column, because only
      // the derived value moves into the directory name)
      val missing = parts.map { case Left(c) => c; case Right(t) => t.source }
        .filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"ingest partition_by: unknown column(s) ${missing.mkString(", ")} " +
          s"(batch has: ${df.columns.mkString(", ")})")
      val added = Writers.writeFiles(
        PartitionTransforms.withPartitionColumns(df, parts.collect { case Right(t) => t }),
        dataDir, "ingest", parts.map { case Left(c) => c; case Right(t) => t.partCol })
      try {
        val snap = catalog.commit(spark, table, added,
          props = Map(
            SnapshotCatalog.OperationProp -> SnapshotCatalog.OpAppend,
            IngestFilesProp -> fresh.map(fp).mkString(","),
            IngestSourceProp -> src),
          intent = CommitIntent(basis.map(_.snapshotId), strictBasis = true))
        val addedPaths = added.map(SnapshotCatalog.normalizePath).toSet
        val rows = snap.files.filter(f => addedPaths.contains(f.path)).map(_.rowCount).sum
        // `skipped` counts ALREADY-INGESTED files only; fresh files a
        // max_files cap deferred are neither (the next run drains them)
        return IngestResult(fresh.size, all.size - freshAll.size, rows, Some(snap.snapshotId))
      } catch {
        case e: CommitConflictException if attempt >= 6 =>
          throw new CommitConflictException(
            s"ingest into $table: head moved on every one of $attempt attempts " +
              s"(last: ${e.getMessage}); serialize the table's ingest schedule")
        case _: CommitConflictException => () // re-check against the moved head
      }
    }
    throw new IllegalStateException("unreachable: the retry loop exits by return or throw")
  }
}
