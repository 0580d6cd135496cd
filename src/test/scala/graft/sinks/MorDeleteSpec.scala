package graft.sinks

import java.nio.file.{Files, Paths}

import graft.{SparkSpec, Tables}
import graft.meta.{RangeNum, SnapshotCatalog}
import org.apache.spark.sql.functions._

/** Merge-on-read position deletes (Iceberg v2 semantics): mark rows in
  * sidecar delete files, apply them on read via a broadcast anti-join,
  * materialize lazily. The invariant everywhere: MoR is observationally
  * identical to COW — only the write/read cost trade differs. */
class MorDeleteSpec extends SparkSpec {

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select(col("c_custkey")).collect().map(_.getLong(0)).toSet

  private def freshCat(prefix: String): (SnapshotCatalog, String) = {
    val base = tempDir(prefix).toString
    (new SnapshotCatalog(s"$base/cat"), s"$base/d")
  }

  test("MoR delete masks rows without touching data files; time travel sees them") {
    val (cat, d) = freshCat("graft-mor-")
    val c = Tables.customer(spark, sfDir)
    val s1 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 100), d)
    val s2 = Writers.deleteWhereMoR(spark, cat, "cust",
      col("c_custkey") % 2 === 0, Nil, d)

    // pure metadata commit: identical data files, one delete file
    assert(s2.files.map(_.path).toSet == s1.files.map(_.path).toSet)
    assert(s2.deleteFiles.size == 1)
    assert(s2.deleteFiles.head.rowCount ==
      c.filter(col("c_custkey") <= 100 && col("c_custkey") % 2 === 0).count())

    val expect = keys(c.filter(col("c_custkey") <= 100 && col("c_custkey") % 2 =!= 0))
    assert(keys(cat.read(spark, "cust")) == expect)
    // the pre-delete snapshot still reads in full
    assert(keys(cat.read(spark, "cust", snapshotId = Some(s1.snapshotId))) ==
      keys(c.filter(col("c_custkey") <= 100)))
  }

  test("stacked MoR deletes compose; delete of nothing is a no-op commit-wise") {
    val (cat, d) = freshCat("graft-mor2-")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 100), d)
    val s2 = Writers.deleteWhereMoR(spark, cat, "cust", col("c_custkey") <= 10, Nil, d)
    val s3 = Writers.deleteWhereMoR(spark, cat, "cust",
      col("c_custkey").between(5, 20), Nil, d)
    assert(s3.deleteFiles.size == 2)
    // second delete marked only still-visible rows (11..20, not 5..10 again)
    assert(s3.deleteFiles.last.rowCount ==
      c.filter(col("c_custkey").between(11, 20)).count())
    assert(keys(cat.read(spark, "cust")) ==
      keys(c.filter(col("c_custkey") > 20 && col("c_custkey") <= 100)))
    // nothing matches -> same snapshot back, no commit
    val s4 = Writers.deleteWhereMoR(spark, cat, "cust", col("c_custkey") > 9999, Nil, d)
    assert(s4.snapshotId == s3.snapshotId)
  }

  test("delete application is a broadcast anti-join, never a shuffle of the data") {
    val (cat, d) = freshCat("graft-morplan-")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 100), d)
    Writers.deleteWhereMoR(spark, cat, "cust", col("c_custkey") <= 10, Nil, d)
    val plan = cat.read(spark, "cust").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join apply:\n$plan")
    // fast path: a snapshot with no deletes plans a bare scan
    val (cat2, d2) = freshCat("graft-morfast-")
    Writers.writeSnapshot(cat2, "cust", c.filter(col("c_custkey") <= 100), d2)
    val fast = cat2.read(spark, "cust").queryExecution.executedPlan.toString
    assert(!fast.contains("Join"), s"no-delete read must stay a bare scan:\n$fast")
  }

  test("only mask-referenced files pay the anti-join; clean files keep the bare scan") {
    val (cat, d) = freshCat("graft-morsplit-")
    val c = Tables.customer(spark, sfDir)
    Writers.writeRangedSnapshot(cat, "cust",
      c.filter(col("c_custkey") <= 100), d, "c_custkey", 4)
    // mask hits the lowest range file only
    Writers.deleteWhereMoR(spark, cat, "cust",
      col("c_custkey") <= 5, Seq(RangeNum("c_custkey", 0, 5)), d)
    val snap = cat.currentSnapshot("cust").get
    assert(snap.deleteFiles.head.dataPaths.size < snap.files.size)
    val df = cat.read(spark, "cust")
    val plan = df.queryExecution.executedPlan.toString
    // split plan: one anti-join branch (masked file) unioned with a
    // bare-scan branch (clean files)
    assert(plan.contains("Union"), s"expected masked/clean split:\n$plan")
    assert(plan.contains("LeftAnti"), plan)
    assert(keys(cat.read(spark, "cust")) ==
      keys(c.filter(col("c_custkey") > 5 && col("c_custkey") <= 100)))
  }

  test("materialization rewrites masked files only, retires delete files, read unchanged") {
    val (cat, d) = freshCat("graft-mormat-")
    val c = Tables.customer(spark, sfDir)
    // two files: only one will carry deletes
    Writers.writeRangedSnapshot(cat, "cust",
      c.filter(col("c_custkey") <= 100), d, "c_custkey", 2)
    val masked = Writers.deleteWhereMoR(spark, cat, "cust",
      col("c_custkey") <= 10, Seq(RangeNum("c_custkey", 0, 10)), d)
    assert(masked.deleteFiles.size == 1)
    val untouchedPaths = masked.files.map(_.path).toSet --
      masked.deleteFiles.flatMap(_.dataPaths)
    val before = keys(cat.read(spark, "cust"))

    val mat = Writers.materializeDeletes(spark, cat, "cust", d).get
    assert(mat.deleteFiles.isEmpty)
    // unmasked files kept their manifest entries byte-for-byte
    assert(untouchedPaths.subsetOf(mat.files.map(_.path).toSet))
    assert(keys(cat.read(spark, "cust")) == before)
    // idempotent: nothing left to materialize
    assert(Writers.materializeDeletes(spark, cat, "cust", d).isEmpty)
  }

  test("MoR equals COW: same predicate, same visible state, CDC feed nets the same rows") {
    val c = Tables.customer(spark, sfDir)
    val (catM, dM) = freshCat("graft-morcdc-")
    val s1m = Writers.writeSnapshot(catM, "cust", c.filter(col("c_custkey") <= 80), dM)
    Writers.deleteWhereMoR(spark, catM, "cust", col("c_custkey") <= 30, Nil, dM)
    val (catC, dC) = freshCat("graft-cowcdc-")
    val s1c = Writers.writeSnapshot(catC, "cust", c.filter(col("c_custkey") <= 80), dC)
    Writers.deleteWhere(spark, catC, "cust",
      df => df.filter(col("c_custkey") > 30), Nil, dC)

    assert(keys(catM.read(spark, "cust")) == keys(catC.read(spark, "cust")))
    val morFeed = catM.changesBetween(spark, "cust", s1m.snapshotId)
    val cowFeed = catC.changesBetween(spark, "cust", s1c.snapshotId)
    def byType(df: org.apache.spark.sql.DataFrame, t: String): Set[Long] =
      df.filter(col("_change_type") === t)
        .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    assert(byType(morFeed, "delete") == byType(cowFeed, "delete"))
    assert(byType(morFeed, "insert") == byType(cowFeed, "insert"))
    assert(byType(morFeed, "delete") == keys(c.filter(col("c_custkey") <= 30)))
  }

  test("materialization is change-feed-silent; incremental read never resurrects") {
    val (cat, d) = freshCat("graft-morsil-")
    val c = Tables.customer(spark, sfDir)
    val s1 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 50), d)
    // in-range append, then MoR-delete part of it, then materialize
    val s2 = Writers.writeSnapshot(cat, "cust",
      c.filter(col("c_custkey").between(51, 100)), d)
    Writers.deleteWhereMoR(spark, cat, "cust", col("c_custkey").between(60, 70), Nil, d)
    val s4 = Writers.materializeDeletes(spark, cat, "cust", d).get

    // feed across delete+materialize nets to exactly the killed rows
    val feed = cat.changesBetween(spark, "cust", s2.snapshotId, Some(s4.snapshotId))
    assert(feed.filter(col("_change_type") === "insert").isEmpty)
    assert(keys(feed.filter(col("_change_type") === "delete")) ==
      keys(c.filter(col("c_custkey").between(60, 70))))
    // appends-only feed: the in-range append minus its killed rows
    assert(keys(cat.readIncremental(spark, "cust", s1.snapshotId)) ==
      keys(c.filter(col("c_custkey").between(51, 100) &&
        !col("c_custkey").between(60, 70))))
  }

  test("TTL retention: expireRowsOlderThan masks the cold prefix, prunes the live tail") {
    val (cat, d) = freshCat("graft-ttl-")
    val ev = Tables.events(spark, sfDir)
    // time-ordered ingest layout: 4 files with disjoint ts ranges
    Writers.writeRangedSnapshot(cat, "ev", ev, d, "ts", 4)
    val cutoff = java.sql.Timestamp.valueOf("2024-01-08 00:00:00").getTime
    val s2 = Writers.expireRowsOlderThan(spark, cat, "ev", "ts", cutoff, d)

    // pure metadata commit; the mask's scope excludes the live tail
    assert(s2.deleteFiles.size == 1)
    assert(s2.deleteFiles.head.dataPaths.size < s2.files.size,
      "min/max prune should keep the newest range file(s) out of the mask scope")
    val expect = ev.filter(col("ts") >= timestamp_millis(lit(cutoff))).count()
    assert(cat.read(spark, "ev").count() == expect)
    assert(s2.deleteFiles.head.rowCount == ev.count() - expect)
    // idempotent: the masked rows are no longer visible to a second sweep
    val s3 = Writers.expireRowsOlderThan(spark, cat, "ev", "ts", cutoff, d)
    assert(s3.snapshotId == s2.snapshotId)
  }

  test("rollback across a MoR delete restores the rows; vacuum keeps live delete files") {
    val (cat, d) = freshCat("graft-morrb-")
    val c = Tables.customer(spark, sfDir)
    val s1 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 40), d)
    val s2 = Writers.deleteWhereMoR(spark, cat, "cust", col("c_custkey") <= 15, Nil, d)
    val rb = cat.rollbackTo(spark, "cust", s1.snapshotId)
    assert(rb.deleteFiles.isEmpty)
    assert(keys(cat.read(spark, "cust")) == keys(c.filter(col("c_custkey") <= 40)))
    // the un-delete is a net insert of the restored rows
    val feed = cat.changesBetween(spark, "cust", s2.snapshotId, Some(rb.snapshotId))
    assert(keys(feed.filter(col("_change_type") === "insert")) ==
      keys(c.filter(col("c_custkey") <= 15)))
    assert(feed.filter(col("_change_type") === "delete").isEmpty)
    // s2 still references its delete file -> vacuum must keep it
    val delPath = s2.deleteFiles.head.path
    cat.vacuumDataFiles("cust", d, graceMs = 0)
    assert(Files.exists(Paths.get(delPath)),
      "vacuum deleted a delete file still referenced by a live snapshot")
  }
}
