package graft.meta

import java.nio.file.Files

import graft.SparkSpec
import graft.sinks.Writers
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Serializable optimistic-commit semantics (SURVEY §2 S49): concurrent
  * commits either RECONCILE (appends and independent rewrites merge —
  * no lost update) or CONFLICT ([[CommitConflictException]] — never a
  * silent clobber). The deterministic cases drive `commit` with a
  * stale-basis [[CommitIntent]] directly, simulating the exact race
  * window (plan at basis, a concurrent commit lands, then publish);
  * the thread races exercise the real writer path end-to-end.
  *
  * Iceberg analogue: `SnapshotProducer`'s retry + validation
  * (`validateAddedDataFiles` / `validateNoNewDeleteFiles` /
  * `ValidationException`); the reference consumes those guarantees
  * through its Iceberg commits. */
class CommitConflictSpec extends SparkSpec {

  private def freshTable(prefix: String): (SnapshotCatalog, String) = {
    val cat = new SnapshotCatalog(tempDir(s"graft-$prefix-").toString)
    (cat, tempDir(s"graft-$prefix-data-").toString)
  }

  private def customers = graft.Tables.customer(spark, sfDir)

  private def parquetsUnder(path: String): List[String] = {
    val s = Files.walk(java.nio.file.Paths.get(path))
    try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList
    finally s.close()
  }

  test("concurrent appends all survive: 6-thread race loses nothing") {
    val (cat, dataDir) = freshTable("ccr-app")
    Writers.writeSnapshot(cat, "cust", customers.filter(col("c_custkey").between(1, 10)), dataDir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val slices = (1 to 6).map(i => (i * 10 + 1, i * 10 + 10))
    val fs = slices.map { case (lo, hi) =>
      Future(Writers.writeSnapshot(cat, "cust",
        customers.filter(col("c_custkey").between(lo, hi)), dataDir))
    }
    Await.result(Future.sequence(fs), 120.seconds)
    // every append's rows are in the final state regardless of landing order
    assert(cat.read(spark, "cust").count() == 70)
    val headFiles = cat.currentSnapshot("cust").get.files.map(_.path).toSet
    assert(cat.snapshots("cust").last.files.map(_.path).toSet == headFiles)
  }

  test("append planned before a concurrent append reconciles both file sets") {
    val (cat, dataDir) = freshTable("ccr-app2")
    val s1 = Writers.writeSnapshot(cat, "cust",
      customers.filter(col("c_custkey").between(1, 10)), dataDir)
    // two appends BOTH planned against s1; they land sequentially
    val dirA = java.nio.file.Paths.get(dataDir, "a").toString
    val dirB = java.nio.file.Paths.get(dataDir, "b").toString
    customers.filter(col("c_custkey").between(11, 20)).write.parquet(dirA)
    customers.filter(col("c_custkey").between(21, 30)).write.parquet(dirB)
    cat.commit(spark, "cust", parquetsUnder(dirA), intent = CommitIntent(Some(s1.snapshotId)))
    // B still claims basis s1 — it must NOT erase A's files
    cat.commit(spark, "cust", parquetsUnder(dirB), intent = CommitIntent(Some(s1.snapshotId)))
    assert(cat.read(spark, "cust").count() == 30)
  }

  test("append whose basis is rewritten and expired during its publish still lands") {
    val root = tempDir("graft-ccr-exp-").toString
    val dataDir = tempDir("graft-ccr-exp-data-").toString
    val race = new PublishRace
    val cat = new SnapshotCatalog(root, race.clock)
    val other = new SnapshotCatalog(root)
    Writers.writeRangedSnapshot(cat, "cust", customers.filter(col("c_custkey") <= 40),
      dataDir, "c_custkey", nFiles = 2)
    val s1 = cat.currentSnapshot("cust").get
    // inside the append's publish, planned at s1: a second catalog
    // rewrites one of s1's files (drops custkey <= 5) and expires s1
    var rewrite: Option[SnapshotMeta] = None
    race.arm {
      rewrite = Some(Writers.deleteWhere(spark, other, "cust",
        rowPredicate = df => df.filter(col("c_custkey") > 5),
        pruneFilters = Seq(RangeNum("c_custkey", 0, 5)), dataDir = dataDir))
      other.expireSnapshots("cust", keepLast = 1)
    }
    val appended = Writers.writeSnapshot(cat, "cust",
      customers.filter(col("c_custkey").between(41, 50)), dataDir)
    assert(race.fired)
    assert(cat.snapshotById("cust", s1.snapshotId).isEmpty, "s1 must be expired")
    assert(appended.parentId.contains(rewrite.get.snapshotId))
    val rewriteOut = rewrite.get.files.map(_.path).filterNot(s1.files.map(_.path).contains)
    assert(rewriteOut.nonEmpty && rewriteOut.forall(appended.files.map(_.path).contains),
      "the rewrite's output must survive the append")
    val keys = cat.read(spark, "cust").select(col("c_custkey").cast("long"))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(keys == (6L to 50L), "rewrite and append must both be visible, once each")
  }

  test("table props set by a commit landing inside an append's publish survive it") {
    val root = tempDir("graft-ccr-props-").toString
    val dataDir = tempDir("graft-ccr-props-data-").toString
    val race = new PublishRace
    val cat = new SnapshotCatalog(root, race.clock)
    val other = new SnapshotCatalog(root)
    Writers.writeSnapshot(cat, "cust", customers.filter(col("c_custkey") <= 20), dataDir)
    // (a) a table comment
    race.arm { other.setTableComment("cust", Some("audited")) }
    Writers.writeSnapshot(cat, "cust", customers.filter(col("c_custkey").between(21, 30)), dataDir)
    assert(race.fired)
    assert(cat.currentSnapshot("cust").get.props.get(SnapshotCatalog.CommentProp)
      .contains("audited"), "the racing comment must survive the append's retry")
    // (b) a bloom index
    race.arm { other.indexColumns(spark, "cust", bloomColumns = Seq("c_name")) }
    val raced = Writers.writeSnapshot(cat, "cust",
      customers.filter(col("c_custkey").between(31, 40)), dataDir)
    assert(race.fired)
    assert(raced.props.get(SnapshotCatalog.BloomColumnsProp).contains("c_name"),
      "the racing bloom set must survive the append's retry")
    assert(raced.props.get(SnapshotCatalog.CommentProp).contains("audited"))
    val later = Writers.writeSnapshot(cat, "cust",
      customers.filter(col("c_custkey").between(41, 50)), dataDir)
    val added = later.files.filterNot(f => raced.files.exists(_.path == f.path))
    assert(added.nonEmpty && added.forall(_.blooms.contains("c_name")),
      "a later append must bloom-index the raced column")
  }

  test("two COW rewrites of the same files: first lands, second conflicts") {
    val (cat, dataDir) = freshTable("ccr-cow")
    val s1 = Writers.writeSnapshot(cat, "cust", customers.filter(col("c_custkey") <= 50), dataDir)
    val victim = s1.files.map(_.path)
    // rewrite 1 (planned at s1): drop custkey <= 5
    Writers.deleteWhere(spark, cat, "cust",
      rowPredicate = df => df.filter(col("c_custkey") > 5), pruneFilters = Nil, dataDir = dataDir)
    // rewrite 2 also planned at s1 over the SAME input files: its outputs
    // were computed from rows that no longer exist — must conflict
    val out = java.nio.file.Paths.get(dataDir, "stale-out").toString
    customers.filter(col("c_custkey").between(10, 50)).write.parquet(out)
    val ex = intercept[CommitConflictException] {
      cat.commit(spark, "cust", parquetsUnder(out),
        intent = CommitIntent(Some(s1.snapshotId), removedPaths = victim))
    }
    assert(ex.getMessage.contains("concurrently removed"))
    // the first rewrite's state is intact
    assert(cat.read(spark, "cust").count() == 45)
  }

  test("rewrite vs concurrent independent rewrite reconciles cleanly") {
    val (cat, dataDir) = freshTable("ccr-ind")
    // two disjoint ranged files
    Writers.writeRangedSnapshot(cat, "cust", customers.filter(col("c_custkey") <= 100),
      dataDir, "c_custkey", nFiles = 2)
    val s1 = cat.currentSnapshot("cust").get
    assert(s1.files.size == 2)
    val sorted = s1.files.sortBy(_.stats("c_custkey").minD.get)
    val fB = sorted.last
    // rewrite of the LOW half lands (delete custkey <= 10)
    Writers.deleteWhere(spark, cat, "cust",
      rowPredicate = df => df.filter(col("c_custkey") > 10),
      pruneFilters = Seq(RangeNum("c_custkey", 0, 10)), dataDir = dataDir)
    assert(cat.read(spark, "cust").count() == 90)
    // an independent rewrite of the HIGH half planned at s1 reconciles
    val out = java.nio.file.Paths.get(dataDir, "b-out").toString
    cat.visibleRows(spark, s1, Seq(fB.path)).filter(col("c_custkey") <= 90)
      .write.parquet(out)
    cat.commit(spark, "cust", parquetsUnder(out),
      intent = CommitIntent(Some(s1.snapshotId), removedPaths = Seq(fB.path)))
    // BOTH rewrites' effects present: rows 11..90 remain
    assert(cat.read(spark, "cust").count() == 80)
  }

  test("MoR mask landing after a planned rewrite of the same file conflicts") {
    val (cat, dataDir) = freshTable("ccr-mask")
    val s1 = Writers.writeSnapshot(cat, "cust", customers.filter(col("c_custkey") <= 50), dataDir)
    val victim = s1.files.map(_.path)
    // concurrent MoR delete masks rows in the victim file
    Writers.deleteWhereMoR(spark, cat, "cust", col("c_custkey") <= 5, Nil, dataDir)
    // compaction planned at s1 (outputs = raw rows incl. the now-masked 5)
    val out = java.nio.file.Paths.get(dataDir, "compact-out").toString
    cat.visibleRows(spark, s1, victim).coalesce(1).write.parquet(out)
    val ex = intercept[CommitConflictException] {
      cat.commit(spark, "cust", parquetsUnder(out),
        intent = CommitIntent(Some(s1.snapshotId), removedPaths = victim))
    }
    assert(ex.getMessage.contains("mask rows"))
    assert(cat.read(spark, "cust").count() == 45)
  }

  test("MoR delete whose referenced file was concurrently rewritten conflicts") {
    val (cat, dataDir) = freshTable("ccr-stale-mask")
    val s1 = Writers.writeSnapshot(cat, "cust", customers.filter(col("c_custkey") <= 50), dataDir)
    val victimPath = s1.files.head.path
    // the file is rewritten away (COW delete)
    Writers.deleteWhere(spark, cat, "cust",
      rowPredicate = df => df.filter(col("c_custkey") > 5), pruneFilters = Nil, dataDir = dataDir)
    // a mask planned at s1 indexes positions of the DEAD file
    val staleMask = DeleteFileMeta(
      path = "/nonexistent/mask.parquet", rowCount = 1, sizeBytes = 10,
      dataPaths = Seq(victimPath))
    val ex = intercept[CommitConflictException] {
      cat.commit(spark, "cust", Nil,
        intent = CommitIntent(Some(s1.snapshotId), addDeleteFiles = Seq(staleMask)))
    }
    assert(ex.getMessage.contains("delete file references"))
  }

  test("concurrent MoR masks on different files both survive reconciliation") {
    val (cat, dataDir) = freshTable("ccr-mor2")
    Writers.writeRangedSnapshot(cat, "cust",
      customers.filter(col("c_custkey").between(1, 100)), dataDir, "c_custkey", nFiles = 2)
    // mask A lands first
    Writers.deleteWhereMoR(spark, cat, "cust", col("c_custkey") === 1,
      Seq(RangeNum("c_custkey", 1, 1)), dataDir)
    // mask B on the OTHER half: the writer re-reads current, but even a
    // stale-basis replay would reconcile (disjoint data paths)
    Writers.deleteWhereMoR(spark, cat, "cust", col("c_custkey") === 99,
      Seq(RangeNum("c_custkey", 99, 99)), dataDir)
    val head = cat.currentSnapshot("cust").get
    assert(head.deleteFiles.size == 2, "both masks must be outstanding")
    assert(cat.read(spark, "cust").count() == 98)
  }

  test("overwrite vs concurrent append into a replaced partition conflicts") {
    val (cat, dataDir) = freshTable("ccr-ovr")
    val df = customers.filter(col("c_custkey") <= 60).withColumn("seg", col("c_mktsegment"))
    Writers.writePartitionedSnapshot(cat, "cust", df,
      java.nio.file.Paths.get(dataDir, "base").toString, Seq("seg"))
    val s1 = cat.currentSnapshot("cust").get
    val target = df.select("seg").distinct().orderBy("seg")
      .collect().head.getString(0)
    // a concurrent append INTO the partition the overwrite will restate
    Writers.writePartitionedSnapshot(cat, "cust",
      customers.filter(col("c_custkey").between(61, 70) && col("c_mktsegment") === target)
        .withColumn("seg", col("c_mktsegment")),
      java.nio.file.Paths.get(dataDir, "conc").toString, Seq("seg"))
    val concCount = cat.read(spark, "cust").count()
    // overwrite planned at s1 restating `target` must conflict: simulate
    // the plan-at-s1 overwrite with the exact intent the writer carries
    val path = java.nio.file.Paths.get(dataDir, "ovr").toString
    Writers.writePartitioned(df.filter(col("seg") === target), path, Seq("seg"))
    val newFiles = parquetsUnder(path)
    val touched: Set[Map[String, String]] = newFiles
      .map(p => SnapshotCatalog.partitionValuesOf(p).filter(kv => kv._1 == "seg")).toSet
    val replaced = s1.files.filter(f => touched.contains(f.partitionValues.filter(_._1 == "seg")))
    assert(replaced.nonEmpty)
    val ex = intercept[CommitConflictException] {
      cat.commit(spark, "cust", newFiles,
        intent = CommitIntent(Some(s1.snapshotId),
          removedPaths = replaced.map(_.path),
          conflictOnAdded = f => touched.contains(f.partitionValues.filter(_._1 == "seg"))))
    }
    assert(ex.getMessage.contains("conflict with this commit's scope"))
    // nothing was clobbered
    assert(cat.read(spark, "cust").count() == concCount)
  }

  test("rollback refuses once the head has moved (strict basis)") {
    val (cat, dataDir) = freshTable("ccr-rb")
    val s1 = Writers.writeSnapshot(cat, "cust",
      customers.filter(col("c_custkey").between(1, 10)), dataDir)
    Writers.writeSnapshot(cat, "cust", customers.filter(col("c_custkey").between(11, 20)), dataDir)
    // a rollback planned while s1 was still head: simulate with the
    // intent rollbackTo would carry — basis = the OLD head
    val ex = intercept[CommitConflictException] {
      cat.commit(spark, "cust", Nil,
        deleteFilesOverride = Some(Nil),
        intent = CommitIntent(Some(s1.snapshotId), strictBasis = true))
    }
    assert(ex.getMessage.contains("head moved"))
    // the real rollbackTo against the true current still works
    val rb = cat.rollbackTo(spark, "cust", s1.snapshotId)
    assert(cat.read(spark, "cust").count() == 10)
    assert(rb.files.map(_.path).toSet == s1.files.map(_.path).toSet)
  }

  test("racing overlapping COW deletes: final state is always a serial order's") {
    val (cat, dataDir) = freshTable("ccr-race2")
    Writers.writeSnapshot(cat, "cust", customers.filter(col("c_custkey") <= 50), dataDir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val attempts = Seq(6, 7).map { lo =>
      Future(
        try Right(Writers.deleteWhere(spark, cat, "cust",
          rowPredicate = df => df.filter(col("c_custkey") >= lo),
          pruneFilters = Nil, dataDir = dataDir))
        catch { case e: CommitConflictException => Left(e) })
    }
    val results = Await.result(Future.sequence(attempts), 120.seconds)
    val losers = results.count(_.isLeft)
    // overlapped plans: exactly one conflicts; serialized plans: both land.
    // EVERY outcome equals some serial order's result — never a lost update.
    val count = cat.read(spark, "cust").count()
    assert(count == 44 || count == 45, s"state must match a serial order, got $count")
    if (losers == 0) assert(count == 44, "both landed => composed effect")
  }
}
