package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.meta.SnapshotCatalog
import org.apache.spark.sql.GraftColumnShim

/** Idempotent landing-zone ingestion (S66 — `CALL graft.ingest`): the
  * COPY INTO contract. Re-running an ingest must load NOTHING; files
  * that arrive later load ALONE; fingerprints and rows land in one
  * atomic commit; malformed rows refuse the whole batch. */
class IngestSpec extends SparkSpec {

  private lazy val root = tempDir("graft-ing-").toString
  private lazy val cat = new SnapshotCatalog(root)

  private lazy val ext = {
    val s = GraftColumnShim.sessionWithExtensions(
      spark, e => new graft.GraftExtensions().apply(e))
    s.conf.set(graft.sql.GraftSqlResolution.RootConf, root)
    s
  }

  private def drop(dir: Path, name: String, lines: String*): Path = {
    val p = dir.resolve(name)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    p
  }

  test("ingest loads fresh CSV once, re-runs skip, new arrivals load alone") {
    val landing = tempDir("graft-landing-")
    drop(landing, "a.csv", "1,alpha", "2,beta")
    drop(landing, "b.csv", "3,gamma", "4,delta")
    // hidden-convention files are never data
    drop(landing, "_SUCCESS")
    drop(landing, ".a.csv.crc", "junk")
    ext.sql("CREATE TABLE graft.ing1 (id BIGINT, name STRING)")

    val r1 = ext.sql(s"CALL graft.ingest('ing1', '$landing', format => 'csv')").head()
    assert(r1.getLong(0) == 2 && r1.getLong(1) == 0 && r1.getLong(2) == 4)
    assert(!r1.isNullAt(3))
    val rows1 = ext.sql("SELECT id, name FROM ing1 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows1 == Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta")))

    // idempotent: the re-run loads nothing and commits nothing
    val snapBefore = cat.currentSnapshot("ing1").get.snapshotId
    val r2 = ext.sql(s"CALL graft.ingest('ing1', '$landing', format => 'csv')").head()
    assert(r2.getLong(0) == 0 && r2.getLong(1) == 2 && r2.isNullAt(3))
    assert(cat.currentSnapshot("ing1").get.snapshotId == snapBefore,
      "a no-op ingest must not burn a snapshot id")

    // a new arrival loads ALONE
    drop(landing, "c.csv", "5,epsilon")
    val r3 = ext.sql(s"CALL graft.ingest('ing1', '$landing', format => 'csv')").head()
    assert(r3.getLong(0) == 1 && r3.getLong(1) == 2 && r3.getLong(2) == 1)
    assert(ext.sql("SELECT count(*) AS n FROM ing1").head().getLong(0) == 5)

    // the fingerprints ride the commits' own props (atomic dedupe state)
    assert(Ingest.alreadyIngested(cat, "ing1").size == 3)

    // a MODIFIED file (content replaced in place) fingerprints fresh and
    // re-ingests its NEW content — the documented size+mtime semantics
    Thread.sleep(5) // mtime granularity
    drop(landing, "c.csv", "6,zeta", "7,eta")
    val r4 = ext.sql(s"CALL graft.ingest('ing1', '$landing', format => 'csv')").head()
    assert(r4.getLong(0) == 1 && r4.getLong(2) == 2)
    assert(ext.sql("SELECT count(*) AS n FROM ing1").head().getLong(0) == 7)
  }

  test("ingest bootstraps a new table (inferred schema) and respects pattern") {
    val landing = tempDir("graft-landing-j-")
    drop(landing, "a.json", """{"k": 1, "v": "x"}""", """{"k": 2, "v": "y"}""")
    drop(landing, "notes.txt", "not data")
    val r = ext.sql(
      s"CALL graft.ingest('ingj', '$landing', format => 'json', pattern => '*.json')").head()
    assert(r.getLong(0) == 1 && r.getLong(2) == 2)
    val got = ext.sql("SELECT k, v FROM ingj ORDER BY k").collect()
      .map(x => (x.getLong(0), x.getString(1))).toSeq
    assert(got == Seq((1L, "x"), (2L, "y")))
    // the txt file was never considered (pattern), not merely skipped
    assert(r.getLong(1) == 0)
  }

  test("an existing schema drives the read: malformed rows refuse the whole batch") {
    val landing = tempDir("graft-landing-bad-")
    drop(landing, "bad.csv", "1,ok", "notanumber,broken")
    ext.sql("CREATE TABLE graft.ingbad (id BIGINT, name STRING)")
    val err = intercept[Exception] {
      ext.sql(s"CALL graft.ingest('ingbad', '$landing', format => 'csv')").collect()
    }
    assert(err.getMessage != null)
    // the failed batch left NO partial state: no rows, no fingerprints —
    // fixing the file and re-running loads it fully
    assert(ext.sql("SELECT count(*) AS n FROM ingbad").head().getLong(0) == 0)
    assert(Ingest.alreadyIngested(cat, "ingbad").isEmpty)
    Thread.sleep(5)
    drop(landing, "bad.csv", "1,ok", "2,fixed")
    val r = ext.sql(s"CALL graft.ingest('ingbad', '$landing', format => 'csv')").head()
    assert(r.getLong(0) == 1 && r.getLong(2) == 2)
  }

  test("refusals: unknown format, missing source, view shadow, source under the root") {
    val landing = tempDir("graft-landing-r-")
    drop(landing, "a.csv", "1,x")
    val e1 = intercept[Exception] {
      ext.sql(s"CALL graft.ingest('ingr', '$landing', format => 'orc')").collect()
    }
    assert(e1.getMessage.contains("format"))
    val e2 = intercept[Exception] {
      ext.sql(s"CALL graft.ingest('ingr', '$landing/nope', format => 'csv')").collect()
    }
    assert(e2.getMessage.contains("not found"))
    ext.sql("CREATE VIEW graft.ingv AS SELECT 1 AS x")
    val e3 = intercept[Exception] {
      ext.sql(s"CALL graft.ingest('ingv', '$landing', format => 'csv')").collect()
    }
    assert(e3.getMessage.contains("view"))
    val e4 = intercept[Exception] {
      ext.sql(s"CALL graft.ingest('ingr', '$root', format => 'parquet')").collect()
    }
    assert(e4.getMessage.contains("catalog root"))
  }

  test("explicit files => list and max_files batch cap") {
    val landing = tempDir("graft-landing-x-")
    drop(landing, "a.csv", "1,x")
    drop(landing, "b.csv", "2,y")
    drop(landing, "c.csv", "3,z")
    ext.sql("CREATE TABLE graft.ingx (id BIGINT, name STRING)")
    // explicit list loads EXACTLY the named files (the reference
    // dataloader's load-by-path shape); a missing name refuses
    val r1 = ext.sql(s"CALL graft.ingest('ingx', '$landing', format => 'csv', " +
      "files => 'a.csv,c.csv')").head()
    assert(r1.getLong(0) == 2 && r1.getLong(2) == 2)
    assert(ext.sql("SELECT count(*) AS n FROM ingx").head().getLong(0) == 2)
    val eMiss = intercept[Exception] {
      ext.sql(s"CALL graft.ingest('ingx', '$landing', format => 'csv', " +
        "files => 'nope.csv')").collect()
    }
    assert(eMiss.getMessage.contains("not a file under"))
    // max_files drains a big landing in bounded commits: b.csv is the
    // only fresh file left, and each run loads at most one
    drop(landing, "d.csv", "4,w")
    val r2 = ext.sql(s"CALL graft.ingest('ingx', '$landing', format => 'csv', " +
      "max_files => 1)").head()
    assert(r2.getLong(0) == 1, s"the cap must load exactly one: $r2")
    assert(r2.getLong(1) == 2, "skipped counts only already-ingested files")
    val r3 = ext.sql(s"CALL graft.ingest('ingx', '$landing', format => 'csv', " +
      "max_files => 1)").head()
    assert(r3.getLong(0) == 1)
    val r4 = ext.sql(s"CALL graft.ingest('ingx', '$landing', format => 'csv', " +
      "max_files => 1)").head()
    assert(r4.getLong(0) == 0 && r4.isNullAt(3), "the landing must drain to a no-op")
    assert(ext.sql("SELECT count(*) AS n FROM ingx").head().getLong(0) == 4)
  }

  test("files =>/pattern escapes refuse per RESOLVED file; files+pattern refuse together") {
    val outside = tempDir("graft-escape-")
    val landing = Files.createDirectories(outside.resolve("landing"))
    drop(landing, "a.csv", "1,x")
    // a perfectly valid CSV OUTSIDE the landing zone — reachable only
    // by escaping `src`, which the per-file containment must refuse
    drop(outside, "secret.csv", "99,leak")
    ext.sql("CREATE TABLE graft.ingesc (id BIGINT, name STRING)")
    // `..` segment: Hadoop Path resolution would walk it out of src
    val eDots = intercept[Exception] {
      ext.sql(s"CALL graft.ingest('ingesc', '$landing', format => 'csv', " +
        "files => '../secret.csv')").collect()
    }
    assert(eDots.getMessage.contains("outside the source"), eDots.getMessage)
    // absolute path: new Path(src, abs) discards src entirely
    val eAbs = intercept[Exception] {
      ext.sql(s"CALL graft.ingest('ingesc', '$landing', format => 'csv', " +
        s"files => '$outside/secret.csv')").collect()
    }
    assert(eAbs.getMessage.contains("outside the source"), eAbs.getMessage)
    // a pattern that climbs out of the directory refuses the same way
    val ePat = intercept[Exception] {
      ext.sql(s"CALL graft.ingest('ingesc', '$landing', format => 'csv', " +
        "pattern => '../*.csv')").collect()
    }
    assert(ePat.getMessage.contains("outside the source"), ePat.getMessage)
    // nothing leaked in through any refusal
    assert(ext.sql("SELECT count(*) AS n FROM ingesc").head().getLong(0) == 0)
    // files => names the batch exactly; a pattern alongside it refuses
    val eBoth = intercept[Exception] {
      ext.sql(s"CALL graft.ingest('ingesc', '$landing', format => 'csv', " +
        "files => 'a.csv', pattern => '*.csv')").collect()
    }
    assert(eBoth.getMessage.contains("not both"), eBoth.getMessage)
  }

  test("fingerprints are collision-resistant digests keyed on path+size+mtime") {
    // distinct (path, size, mtime) triples must yield distinct 128-bit
    // fingerprints — the dropped-file failure mode a truncated 64-bit
    // non-crypto hash invites; also pins the format (32 hex chars)
    val fps = (for {
      p <- Seq("/a/x.csv", "/a/y.csv", "/b/x.csv")
      s <- Seq(1L, 2L)
      t <- Seq(1000L, 2000L)
    } yield Ingest.fingerprint(p, s, t)).toSet
    assert(fps.size == 12)
    assert(fps.forall(f => f.length == 32 && f.matches("[0-9a-f]{32}")))
    // deterministic across calls (the dedupe set depends on it)
    assert(Ingest.fingerprint("/a/x.csv", 1L, 1000L)
      == Ingest.fingerprint("/a/x.csv", 1L, 1000L))
  }

  test("a pre-digest (FNV) fingerprint still counts as already-ingested") {
    import spark.implicits._
    val landing = tempDir("graft-landing-legacy-")
    val a = drop(landing, "a.csv", "1,old", "2,old")
    val dataDir = tempDir("graft-ing-legacy-data-").toString
    // a catalog written BEFORE the SHA-256 switch: the commit's dedupe
    // prop carries the legacy 64-bit FNV fingerprint of the landed file
    val legacy = Ingest.legacyFingerprint(a.toUri.getPath,
      Files.size(a), Files.getLastModifiedTime(a).toMillis)
    Writers.writeSnapshot(cat, "inglegacy",
      Seq((1L, "old"), (2L, "old")).toDF("id", "name"), dataDir,
      props = Map(Ingest.IngestFilesProp -> legacy))
    // the upgrade must not double-load the untouched file…
    val r1 = Ingest.ingest(spark, cat, "inglegacy", landing.toString, "csv",
      Map.empty, dataDir)
    assert(r1.ingested == 0 && r1.skipped == 1 && r1.snapshotId.isEmpty,
      s"legacy-fingerprinted file re-ingested: $r1")
    // …while a genuinely NEW file still loads (the legacy match is
    // per-file, not a blanket skip)
    drop(landing, "b.csv", "3,new")
    val r2 = Ingest.ingest(spark, cat, "inglegacy", landing.toString, "csv",
      Map.empty, dataDir)
    assert(r2.ingested == 1 && r2.skipped == 1)
    assert(ext.sql("SELECT count(*) AS n FROM inglegacy").head().getLong(0) == 3)
  }

  test("two racing ingests of one landing dir load each file exactly once") {
    import spark.implicits._
    val landing = tempDir("graft-landing-race-")
    drop(landing, "a.csv", "1,x", "2,y")
    drop(landing, "b.csv", "3,z")
    val dataDir = tempDir("graft-ing-race-data-").toString
    Writers.writeSnapshot(cat, "ingrace",
      Seq((0L, "seed")).toDF("id", "name"), dataDir)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futs = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Ingest.IngestResult] {
          def call(): Ingest.IngestResult = {
            latch.await()
            Ingest.ingest(spark, cat, "ingrace", landing.toString, "csv",
              Map.empty, dataDir)
          }
        })
      }
      latch.countDown()
      val rs = futs.map(_.get())
      // the strict-basis retry makes the same-file loser a no-op: the
      // two results load the 2 files exactly once BETWEEN them
      assert(rs.map(_.ingested).sum == 2, s"double or dropped load: $rs")
      assert(ext.sql("SELECT count(*) AS n FROM ingrace").head().getLong(0) == 4,
        "3 landed rows + the seed — a double load would show more")
      assert(Ingest.alreadyIngested(cat, "ingrace").size == 2)
    } finally pool.shutdownNow()
  }

  test("partition_by ingest: landed files carry partition values; reads prune from metadata") {
    import graft.meta.EqString
    val landing = tempDir("graft-landing-p-")
    drop(landing, "d1.csv", "1,1,alpha", "2,1,beta")
    ext.sql("CREATE TABLE graft.ingp (id BIGINT, day BIGINT, name STRING)")
    val r1 = ext.sql(s"CALL graft.ingest('ingp', '$landing', format => 'csv', " +
      "partition_by => 'day')").head()
    assert(r1.getLong(0) == 1 && r1.getLong(2) == 2)
    // the second drop lands a NEW partition; only it loads
    drop(landing, "d2.csv", "3,2,gamma", "4,2,delta", "5,2,epsilon")
    val r2 = ext.sql(s"CALL graft.ingest('ingp', '$landing', format => 'csv', " +
      "partition_by => 'day')").head()
    assert(r2.getLong(0) == 1 && r2.getLong(1) == 1 && r2.getLong(2) == 3)
    // every landed file carries its k=v partition value in the manifest
    val snap = cat.currentSnapshot("ingp").get
    assert(snap.files.nonEmpty &&
      snap.files.forall(_.partitionValues.contains("day")))
    // the S21→S4 loop: a day-scoped plan keeps EXACTLY the fresh
    // partition's files, from the manifest alone (planFiles never opens
    // a footer — it is metadata-only by construction)
    val day2 = cat.planFiles("ingp", Seq(EqString("day", "2")))
    assert(day2.nonEmpty && day2.forall(_.partitionValues.get("day").contains("2")))
    assert(day2.map(_.path).toSet ==
      snap.files.filter(_.partitionValues.get("day").contains("2")).map(_.path).toSet)
    val day1 = cat.planFiles("ingp", Seq(EqString("day", "1")))
    assert(day1.size + day2.size == snap.files.size,
      "the two days partition the file set exactly")
    // the read reconstructs partition columns and rows exactly
    val got = ext.sql("SELECT id, day, name FROM ingp WHERE day = 2 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((3L, 2L, "gamma"), (4L, 2L, "delta"), (5L, 2L, "epsilon")))
    // fingerprints + idempotence are unchanged on the partitioned path
    val r3 = ext.sql(s"CALL graft.ingest('ingp', '$landing', format => 'csv', " +
      "partition_by => 'day')").head()
    assert(r3.getLong(0) == 0 && r3.isNullAt(3))
    // plan-size discipline: a partition-landed table reads as ONE
    // parquet scan no matter how many distinct partition tuples exist —
    // partition values are served per file inside the scan, never as
    // one union leg per tuple (which would grow the plan O(partitions))
    val planStr = cat.read(spark, "ingp").queryExecution.executedPlan.toString
    val nScans = "Scan parquet".r.findAllIn(planStr).size
    assert(nScans == 1, s"expected one parquet scan for the whole table; got $nScans")
    // join-key discipline: the partition-serve broadcast join keys on
    // the RAW _metadata.file_path column — the manifest side is
    // pre-rendered to the scan's URI form, so no per-row regexp
    // normalization runs on the stream side (r17, VERDICT r16 #4)
    assert(!planStr.contains("regexp_replace"),
      s"partition-serve join must key on the raw file_path column:\n$planStr")
  }

  test("MoR deletes and CDC compose with partition-served columns") {
    import graft.meta.EqString
    // partition-served columns ride a broadcast join keyed on the scan's
    // own _metadata.file_path — the SAME attribute the MoR masks and the
    // change feed key their row lineage on. This pins the composition:
    // a mask over a partition-landed table must select lineage AFTER
    // that join, and the feed must render the path-served column.
    val landing = tempDir("graft-landing-pmor-")
    drop(landing, "m1.csv", "1,1,alpha", "2,1,beta")
    drop(landing, "m2.csv", "3,2,gamma", "4,2,delta")
    ext.sql("CREATE TABLE graft.ingpm (id BIGINT, day BIGINT, name STRING)")
    ext.sql(s"CALL graft.ingest('ingpm', '$landing', format => 'csv', " +
      "partition_by => 'day')")
    val snap1 = cat.currentSnapshot("ingpm").get
    assert(snap1.files.forall(_.partitionValues.contains("day")))

    Writers.deleteWhereMoR(spark, cat, "ingpm",
      org.apache.spark.sql.functions.col("id") === 3L, Nil, s"$root/ingpm-data")
    val got = ext.sql("SELECT id, day, name FROM ingpm ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 1L, "alpha"), (2L, 1L, "beta"), (4L, 2L, "delta")),
      s"masked partition-landed read wrong: $got")
    // the mask keeps day=1 entirely clean: a day-scoped plan still
    // prunes from metadata and the pruned read serves the path values
    val day1 = ext.sql("SELECT id, day FROM ingpm WHERE day = 1 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(day1 == Seq((1L, 1L), (2L, 1L)))
    assert(cat.planFiles("ingpm", Seq(EqString("day", "2"))).size == 1)
    // the change feed across the mask nets exactly the killed row, with
    // the partition-served column rendered
    val feed = cat.changesBetween(spark, "ingpm",
      snap1.snapshotId, Some(cat.currentSnapshot("ingpm").get.snapshotId))
    val ch = feed.select("id", "day", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(ch == Seq((3L, 2L, "delete")), s"feed across the mask wrong: $ch")
  }

  test("bytes win over a coincidental k=v path segment (no silent shadowing)") {
    import spark.implicits._
    // a HAND-LANDED file whose directory happens to spell day=9 while
    // its BYTES carry the real day column: the commit must refuse to
    // record the path literal for the byte-carried column, so reads
    // serve the bytes (pre-partition-aware behavior), not the directory
    val dataDir = tempDir("graft-ing-shadow-")
    val landed = dataDir.resolve("day=9")
    Seq((1L, 1L, "alpha"), (2L, 2L, "beta")).toDF("id", "day", "name")
      .coalesce(1).write.parquet(landed.toString)
    cat.commit(spark, "shadowt", Writers.listParquetIn(landed))
    val snap = cat.currentSnapshot("shadowt").get
    assert(snap.files.forall(f => !f.partitionValues.contains("day")),
      s"byte-carried column recorded as a partition value: " +
        s"${snap.files.map(_.partitionValues)}")
    val got = cat.read(spark, "shadowt").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 1L, "alpha"), (2L, 2L, "beta")),
      s"directory literal shadowed the file bytes: $got")
    // …while a TRUE partition landing (column absent from bytes) keeps
    // serving the path value — the two shapes coexist in one table
    val landed2 = dataDir.resolve("day=3")
    Seq((3L, "gamma")).toDF("id", "name").coalesce(1).write.parquet(landed2.toString)
    cat.commit(spark, "shadowt", Writers.listParquetIn(landed2))
    val got2 = cat.read(spark, "shadowt").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got2 == Seq((1L, 1L, "alpha"), (2L, 2L, "beta"), (3L, 3L, "gamma")), s"$got2")
  }

  test("partition_by => days(ts): hidden-transform landing prunes by day from metadata") {
    import graft.meta.EqString
    val landing = tempDir("graft-landing-d-")
    drop(landing, "d1.csv", "1,2024-01-10 05:00:00,1.5", "2,2024-01-10 07:00:00,2.5")
    ext.sql("CREATE TABLE graft.ingdays (id BIGINT, ts TIMESTAMP, v DOUBLE)")
    val r1 = ext.sql(s"CALL graft.ingest('ingdays', '$landing', format => 'csv', " +
      "partition_by => 'days(ts)')").head()
    assert(r1.getLong(0) == 1 && r1.getLong(2) == 2)
    drop(landing, "d2.csv", "3,2024-01-11 05:00:00,3.5")
    val r2 = ext.sql(s"CALL graft.ingest('ingdays', '$landing', format => 'csv', " +
      "partition_by => 'days(ts)')").head()
    assert(r2.getLong(0) == 1 && r2.getLong(2) == 1)
    // the HIDDEN transform value rides the manifest: a day-scoped plan
    // keeps exactly that day's files, and the derived column never
    // appears in the table schema
    val snap = cat.currentSnapshot("ingdays").get
    assert(snap.files.forall(_.partitionValues.contains("__p_ts_day")))
    assert(!snap.schema.fieldNames.contains("__p_ts_day"),
      "the transform column is hidden (directory-only)")
    val day10 = cat.planFiles("ingdays", Seq(EqString("__p_ts_day", "2024-01-10")))
    assert(day10.nonEmpty && day10.map(_.path).toSet ==
      snap.files.filter(_.partitionValues.get("__p_ts_day").contains("2024-01-10"))
        .map(_.path).toSet)
    assert(day10.size < snap.files.size, "the other day's files must prune away")
    // the SOURCE column stays in the file bytes — reads and per-file
    // stats on ts work with no knowledge of the transform
    val got = ext.sql(
      "SELECT id FROM ingdays WHERE ts >= TIMESTAMP '2024-01-11 00:00:00' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L))
    assert(snap.files.forall(_.stats.contains("ts")),
      "tight per-file ts stats survive the transform layout")
    // idempotence unchanged; malformed transform entries refuse
    val r3 = ext.sql(s"CALL graft.ingest('ingdays', '$landing', format => 'csv', " +
      "partition_by => 'days(ts)')").head()
    assert(r3.getLong(0) == 0 && r3.isNullAt(3))
    val eBad = intercept[Exception] {
      ext.sql(s"CALL graft.ingest('ingdays', '$landing', format => 'csv', " +
        "partition_by => 'days(ts')").collect()
    }
    assert(eBad.getMessage.contains("neither a column name"), eBad.getMessage)
  }

  test("two racing PARTITIONED ingests load each file exactly once") {
    val landing = tempDir("graft-landing-pr-")
    drop(landing, "a.csv", "1,1,x", "2,1,y")
    drop(landing, "b.csv", "3,2,z")
    ext.sql("CREATE TABLE graft.ingprace (id BIGINT, day BIGINT, name STRING)")
    val dataDir = tempDir("graft-ingprace-data-").toString
    val latch = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futs = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Ingest.IngestResult] {
          def call(): Ingest.IngestResult = {
            latch.await()
            Ingest.ingest(spark, cat, "ingprace", landing.toString, "csv",
              Map.empty, dataDir, partitionBy = Seq("day"))
          }
        })
      }
      latch.countDown()
      val rs = futs.map(_.get())
      assert(rs.map(_.ingested).sum == 2, s"double or dropped load: $rs")
      assert(ext.sql("SELECT count(*) AS n FROM ingprace").head().getLong(0) == 3)
      assert(cat.currentSnapshot("ingprace").get.files
        .forall(_.partitionValues.contains("day")))
    } finally pool.shutdownNow()
  }

  test("the dedupe window is snapshot retention: expired fingerprints age out") {
    val landing = tempDir("graft-landing-w-")
    drop(landing, "a.csv", "1,x")
    ext.sql("CREATE TABLE graft.ingw (id BIGINT, name STRING)")
    ext.sql(s"CALL graft.ingest('ingw', '$landing', format => 'csv')")
    assert(Ingest.alreadyIngested(cat, "ingw").size == 1)
    // expire the ingest commit's snapshot: its fingerprints leave the
    // window, and the SAME file re-loads on the next run (the documented
    // Delta-COPY-INTO horizon — retention must outlive the replay window)
    ext.sql("INSERT INTO ingw VALUES (9, 'later')")
    cat.expireSnapshots("ingw", keepLast = 1)
    assert(Ingest.alreadyIngested(cat, "ingw").isEmpty)
    val r = ext.sql(s"CALL graft.ingest('ingw', '$landing', format => 'csv')").head()
    assert(r.getLong(0) == 1, "an expired fingerprint re-ingests (the window contract)")
  }
}
