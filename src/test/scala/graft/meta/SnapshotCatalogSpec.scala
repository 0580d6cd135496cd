package graft.meta

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class SnapshotCatalogSpec extends SparkSpec {

  /** Write customer split into two files partitioned by key parity so
    * min/max pruning has something to skip. */
  private def twoFileTable(): (String, String, String) = {
    val data = tempDir("graft-data-").toString
    val c = Tables.customer(spark, sfDir)
    c.filter(col("c_custkey") <= 75).coalesce(1).write.parquet(s"$data/low")
    c.filter(col("c_custkey") > 75).coalesce(1).write.parquet(s"$data/high")
    def one(sub: String) = {
      val d = new java.io.File(s"$data/$sub")
      d.listFiles().filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    }
    (data, one("low"), one("high"))
  }

  test("commit records per-file rows, bytes, min/max; read returns all data") {
    val (_, low, high) = twoFileTable()
    var t = 1000L
    val cat = new SnapshotCatalog(tempDir("graft-cat-").toString, () => t)
    val snap = cat.commit(spark, "customer", Seq(low, high))
    assert(snap.snapshotId == 1 && snap.files.size == 2)
    assert(snap.totalRows == Tables.customer(spark, sfDir).count())
    assert(snap.files.forall(_.sizeBytes > 0))
    val lowMeta = snap.files.find(_.path == low).get
    assert(lowMeta.stats("c_custkey").maxD.get <= 75.0)
    assert(lowMeta.stats("c_name").minS.isDefined)
    assert(cat.read(spark, "customer").count() == snap.totalRows)
  }

  test("min/max pruning skips non-overlapping files") {
    val (_, low, high) = twoFileTable()
    val cat = new SnapshotCatalog(tempDir("graft-cat-").toString)
    cat.commit(spark, "customer", Seq(low, high))
    val planned = cat.planFiles("customer", Seq(RangeNum("c_custkey", 100, 200)))
    assert(planned.map(_.path) == Seq(high))
    val df = cat.read(spark, "customer", Seq(RangeNum("c_custkey", 100, 200)))
    assert(df.agg(min("c_custkey")).head().getLong(0) > 75)
  }

  test("pruning everything yields empty frame with schema") {
    val (_, low, high) = twoFileTable()
    val cat = new SnapshotCatalog(tempDir("graft-cat-").toString)
    cat.commit(spark, "customer", Seq(low, high))
    val df = cat.read(spark, "customer", Seq(RangeNum("c_custkey", 1e9, 2e9)))
    assert(df.count() == 0)
    assert(df.schema.fieldNames.contains("c_name"))
  }

  test("snapshot log: history, time travel by id and by timestamp") {
    val (_, low, high) = twoFileTable()
    var t = 1000L
    val cat = new SnapshotCatalog(tempDir("graft-cat-").toString, () => t)
    cat.commit(spark, "customer", Seq(low))
    t = 2000L
    cat.commit(spark, "customer", Seq(high))

    assert(cat.snapshots("customer").map(_.snapshotId) == Seq(1L, 2L))
    assert(cat.currentSnapshot("customer").get.snapshotId == 2L)
    assert(cat.snapshotById("customer", 2L).get.parentId.contains(1L))

    val h = cat.history("customer")
    assert(h.map(_("snapshot_id")) == Seq(2L, 1L)) // newest first

    // as-of timestamp lands on snapshot 1
    assert(cat.snapshotAsOf("customer", 1500L).get.snapshotId == 1L)
    val oldCount = cat.read(spark, "customer", asOfTimestampMs = Some(1500L)).count()
    val newCount = cat.read(spark, "customer", asOfTimestampMs = Some(2500L)).count()
    assert(oldCount < newCount)
    // by explicit id
    assert(cat.read(spark, "customer", snapshotId = Some(1L)).count() == oldCount)
  }

  test("schema and tableStats surface snapshot metadata") {
    val (_, low, high) = twoFileTable()
    val cat = new SnapshotCatalog(tempDir("graft-cat-").toString)
    cat.commit(spark, "customer", Seq(low, high))
    assert(cat.schema("customer").get.fieldNames.toSet ==
      Tables.customer(spark, sfDir).schema.fieldNames.toSet)
    val st = cat.tableStats("customer")
    assert(st("file_count") == 2)
    assert(st("total_records") == Tables.customer(spark, sfDir).count())
    assert(st("snapshot_id") == 1L && st("current_snapshot_id") == 1L)
  }

  test("unknown snapshot id raises") {
    val (_, low, _) = twoFileTable()
    val cat = new SnapshotCatalog(tempDir("graft-cat-").toString)
    cat.commit(spark, "customer", Seq(low))
    intercept[IllegalArgumentException] {
      cat.planFiles("customer", Nil, snapshotId = Some(99L))
    }
  }

  test("timestamp stats keep sub-second precision: millisecond-range prune cannot skip matching rows") {
    import spark.implicits._
    val data = tempDir("graft-tsdata-").toString
    // all rows inside one second: 10:00:00.200 .. 10:00:00.800
    Seq("2024-01-01 10:00:00.2", "2024-01-01 10:00:00.8")
      .toDF("s").select(to_timestamp(col("s")).as("ts"))
      .coalesce(1).write.parquet(s"$data/f")
    val p = new java.io.File(s"$data/f").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val cat = new SnapshotCatalog(tempDir("graft-cat-").toString)
    val snap = cat.commit(spark, "tsx", Seq(p))
    val st = snap.files.head.stats("ts")
    val t200 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00.2").getTime.toDouble
    val t800 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00.8").getTime.toDouble
    assert(st.minD.get <= t200 && st.minD.get > t200 - 10,
      s"minD ${st.minD.get} must tightly lower-bound $t200")
    assert(st.maxD.get >= t800 && st.maxD.get < t800 + 10,
      s"maxD ${st.maxD.get} must tightly upper-bound $t800")
    // a [.500, .900] ms-range query overlaps the file; whole-second
    // truncation (maxD = .000) would have wrongly pruned it
    val kept = cat.planFiles("tsx", Seq(RangeNum("ts", t200 + 300, t200 + 700)))
    assert(kept.nonEmpty, "sub-second range prune lost a matching file")
  }

  test("concurrent committers mint distinct ids; no snapshot is overwritten") {
    val (_, low, high) = twoFileTable()
    val cat = new SnapshotCatalog(tempDir("graft-cat-").toString)
    cat.commit(spark, "customer", Seq(low))
    val base = cat.currentSnapshot("customer").get
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // metadata-only commits (no added files) race on the snapshot id
    val fs = (1 to 6).map { _ =>
      Future(cat.commit(spark, "customer", Nil))
    }
    val snaps = Await.result(Future.sequence(fs), 60.seconds)
    assert(snaps.map(_.snapshotId).distinct.size == 6, "two committers minted the same id")
    // every minted id is durably on disk (nothing overwritten)
    val onDisk = cat.snapshots("customer").map(_.snapshotId).toSet
    assert(snaps.forall(s => onDisk.contains(s.snapshotId)))
    assert(onDisk.size == 7)
  }

  test("tags: named refs resolve, retag moves, expire keeps tagged snapshots") {
    import graft.sinks.Writers
    val cat = new SnapshotCatalog(tempDir("graft-tag-").toString)
    val dataDir = tempDir("graft-tag-data-").toString
    val c = graft.Tables.customer(spark, sfDir)
    val s1 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 30), dataDir)
    val s2 = Writers.writeSnapshot(cat, "cust",
      c.filter(col("c_custkey").between(31, 60)), dataDir)
    val s3 = Writers.writeSnapshot(cat, "cust",
      c.filter(col("c_custkey").between(61, 90)), dataDir)

    cat.tag("cust", "validated", s1.snapshotId)
    cat.tag("cust", "production", s2.snapshotId)
    assert(cat.tags("cust") ==
      Map("validated" -> s1.snapshotId, "production" -> s2.snapshotId))
    assert(cat.snapshotByTag("cust", "validated").get.snapshotId == s1.snapshotId)
    // a read pinned to the tag sees the tagged state
    val viaTag = cat.read(spark, "cust",
      snapshotId = cat.snapshotByTag("cust", "validated").map(_.snapshotId))
    assert(viaTag.count() == c.filter(col("c_custkey") <= 30).count())
    // retag is last-writer-wins
    cat.tag("cust", "production", s3.snapshotId)
    assert(cat.tags("cust")("production") == s3.snapshotId)
    // tagging an unknown snapshot refuses
    intercept[IllegalArgumentException] { cat.tag("cust", "nope", 999L) }
    intercept[IllegalArgumentException] { cat.tag("cust", "../evil", s1.snapshotId) }

    // expire keeps the newest 1 AND the tagged s1 (ref-reachability);
    // untagged s2 goes
    val removed = cat.expireSnapshots("cust", keepLast = 1)
    assert(removed == 1)
    assert(cat.snapshotById("cust", s1.snapshotId).isDefined)
    assert(cat.snapshotById("cust", s2.snapshotId).isEmpty)
    assert(cat.snapshotById("cust", s3.snapshotId).isDefined)
    // dropTag then expire removes the now-unreachable snapshot
    assert(cat.dropTag("cust", "validated"))
    assert(cat.expireSnapshots("cust", keepLast = 1) == 1)
    assert(cat.snapshotById("cust", s1.snapshotId).isEmpty)
  }

  test("vacuum deletes orphaned data files but never live or in-grace ones") {
    import graft.sinks.Writers
    val cat = new SnapshotCatalog(tempDir("graft-vac-").toString)
    val dataDir = tempDir("graft-vac-data-").toString
    val c = graft.Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 75), dataDir)
    // COW delete rewrites the file; the original becomes orphaned once
    // the pre-delete snapshot expires
    Writers.deleteWhere(spark, cat, "cust",
      rowPredicate = df => df.filter(col("c_custkey") > 10),
      pruneFilters = Seq(graft.meta.RangeNum("c_custkey", 0, 10)),
      dataDir = dataDir)
    val preCount = cat.read(spark, "cust").count()

    def parquetCount = {
      val s = Files.walk(java.nio.file.Paths.get(dataDir))
      try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }
    val before = parquetCount

    // both snapshots alive -> nothing is orphaned even with zero grace
    assert(cat.vacuumDataFiles("cust", dataDir, graceMs = 0L).isEmpty)
    // expire the pre-delete snapshot; its rewritten-away input is orphaned
    cat.expireSnapshots("cust", keepLast = 1)
    // a fresh grace window still protects recently-written files
    assert(cat.vacuumDataFiles("cust", dataDir, graceMs = 3600 * 1000L).isEmpty)
    val deleted = cat.vacuumDataFiles("cust", dataDir, graceMs = 0L)
    assert(deleted.nonEmpty)
    assert(parquetCount == before - deleted.size)
    // the live table is untouched
    assert(cat.read(spark, "cust").count() == preCount)
  }

  test("vacuum removes the write directories it leaves without a live file") {
    import graft.sinks.Writers
    import scala.jdk.CollectionConverters._
    val cat = new SnapshotCatalog(tempDir("graft-vacdirs-").toString)
    val dataDir = java.nio.file.Paths.get(tempDir("graft-vacdirs-data-").toString)
    val c = graft.Tables.customer(spark, sfDir)
    (0 until 3).foreach { i =>
      Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") % 3 === i).coalesce(1),
        dataDir.toString)
    }
    assert(Writers.compact(spark, cat, "cust", dataDir.toString).isDefined)
    cat.expireSnapshots("cust", keepLast = 1)
    def dirs(): Set[java.nio.file.Path] = {
      val s = Files.walk(dataDir)
      try s.iterator().asScala.filter(d => d != dataDir && Files.isDirectory(d)).toSet
      finally s.close()
    }
    val before = dirs()
    assert(cat.vacuumDataFiles("cust", dataDir.toString, graceMs = 0L, dryRun = true).size == 3)
    assert(dirs() == before, "a dry run deletes nothing")
    assert(cat.vacuumDataFiles("cust", dataDir.toString, graceMs = 0L).size == 3)
    val live = cat.currentSnapshot("cust").get.files
      .map(f => java.nio.file.Paths.get(SnapshotCatalog.normalizePath(f.path)))
    val dead = dirs().filterNot(d => live.exists(_.startsWith(d)))
    assert(dead.isEmpty, s"vacuum left write directories without a live file: $dead")
    assert(Files.isDirectory(dataDir))
    assert(cat.read(spark, "cust").count() == c.count())
  }

  test("age-based expiration drops old snapshots but retains tagged and newest") {
    import graft.sinks.Writers
    var now = 1000L
    val cat = new SnapshotCatalog(
      tempDir("graft-expage-").toString, clock = () => now)
    val dataDir = tempDir("graft-expage-data-").toString
    val c = graft.Tables.customer(spark, sfDir)
    val s1 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey").between(1, 10)), dataDir)
    now = 2000L
    val s2 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey").between(11, 20)), dataDir)
    now = 3000L
    val s3 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey").between(21, 30)), dataDir)
    cat.tag("cust", "pinned", s1.snapshotId)
    // cutoff 2500: s1 (t=1000) is tag-protected, s2 (t=2000) goes,
    // s3 (t=3000) is too new anyway
    assert(cat.expireSnapshotsOlderThan("cust", olderThanMs = 2500L) == 1)
    assert(cat.snapshotById("cust", s1.snapshotId).isDefined)
    assert(cat.snapshotById("cust", s2.snapshotId).isEmpty)
    assert(cat.snapshotById("cust", s3.snapshotId).isDefined)
    // retainLast floors the sweep even when everything is old
    assert(cat.expireSnapshotsOlderThan("cust", olderThanMs = 9999L, retainLast = 1) == 0)
    assert(cat.read(spark, "cust").count() == 30)
  }

  test("sidecar vacuum: orphaned bloom/sketch indexes GC after expiry; live ones survive") {
    import graft.sinks.Writers
    val root = tempDir("graft-vacsc-").toString
    val cat = new SnapshotCatalog(root)
    val dataDir = tempDir("graft-vacsc-data-").toString
    val c = graft.Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 75), dataDir,
      bloomColumns = Seq("c_mktsegment"), sketchColumns = Seq("c_mktsegment"))
    // sticky re-index: the COW rewrite's outputs get fresh sidecars,
    // the rewritten input's sidecars go orphan once its snapshot expires
    Writers.deleteWhere(spark, cat, "cust",
      rowPredicate = df => df.filter(col("c_custkey") > 10),
      pruneFilters = Nil, dataDir = dataDir)

    def sidecarCount = Seq("blooms", "sketches").map { kind =>
      val d = java.nio.file.Paths.get(root, "cust", kind)
      if (!Files.isDirectory(d)) 0
      else { val s = Files.list(d); try s.count().toInt finally s.close() }
    }.sum
    val before = sidecarCount
    assert(before > 0)

    // both snapshots alive: nothing to GC even with zero grace
    assert(cat.vacuumSidecars("cust", graceMs = 0L).isEmpty)
    cat.expireSnapshots("cust", keepLast = 1)
    // grace window protects fresh sidecars
    assert(cat.vacuumSidecars("cust", graceMs = 3600 * 1000L).isEmpty)
    val deleted = cat.vacuumSidecars("cust", graceMs = 0L)
    assert(deleted.nonEmpty)
    assert(sidecarCount == before - deleted.size)
    // the live index still prunes and the table still reads
    assert(cat.planFiles("cust", Seq(EqString("c_mktsegment", "BUILDING"))).nonEmpty)
    assert(cat.approxCountDistinct(spark, "cust", "c_mktsegment").nonEmpty)
    // rowPredicate keeps the surviving rows: 75 written, custkey > 10 remain
    assert(cat.read(spark, "cust").count() == 65)
  }
}
