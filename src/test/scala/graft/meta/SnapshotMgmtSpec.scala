package graft.meta

import graft.{SparkSpec, Tables}
import graft.sinks.Writers
import org.apache.spark.sql.functions._

/** Rollback + cherry-pick: the revert-then-replay toolkit. History only
  * moves forward; the change feed stays net-exact across both. */
class SnapshotMgmtSpec extends SparkSpec {

  private def keys(cat: SnapshotCatalog, table: String): Set[Long] =
    cat.read(spark, table).select(col("c_custkey")).collect().map(_.getLong(0)).toSet

  test("rollback restores an earlier file state as a NEW net-exact commit") {
    val base = tempDir("graft-rb-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    val sA = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 50), s"$base/d")
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey").between(51, 80)), s"$base/d")
    val sC = Writers.deleteWhere(spark, cat, "cust",
      df => df.filter(col("c_custkey") > 10), Nil, s"$base/d")

    val rb = cat.rollbackTo(spark, "cust", sA.snapshotId)
    // forward-only history: the rollback is snapshot 4, nothing erased
    assert(rb.snapshotId == sC.snapshotId + 1)
    assert(rb.props.get(SnapshotCatalog.RollbackOfProp).contains(sA.snapshotId.toString))
    assert(keys(cat, "cust") ==
      c.filter(col("c_custkey") <= 50)
        .select(col("c_custkey")).collect().map(_.getLong(0)).toSet)
    // the bad states remain time-travelable (C kept only custkey > 10)
    assert(cat.read(spark, "cust", snapshotId = Some(sC.snapshotId)).count() ==
      c.filter(col("c_custkey").between(11, 80)).count())

    // net feed from A to the rollback is EMPTY (state identical)
    assert(cat.changesBetween(spark, "cust", sA.snapshotId, Some(rb.snapshotId)).isEmpty)
    // incremental read across the rollback resurrects nothing: the
    // reinstated files are rewrite outputs, not fresh appends
    assert(cat.readIncremental(spark, "cust", sA.snapshotId, Some(rb.snapshotId)).isEmpty)
  }

  test("cherry-pick replays an append onto the current head; rejects rewrites") {
    val base = tempDir("graft-cp-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    val sA = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 30), s"$base/d")
    val sB = Writers.writeSnapshot(cat, "cust",
      c.filter(col("c_custkey").between(31, 60)), s"$base/d")
    val sC = Writers.writeSnapshot(cat, "cust",
      c.filter(col("c_custkey").between(61, 90)), s"$base/d")

    // revert B and C, then replay only C
    cat.rollbackTo(spark, "cust", sA.snapshotId)
    val cp = cat.cherryPick(spark, "cust", sC.snapshotId)
    assert(cp.props.get(SnapshotCatalog.CherryPickOfProp).contains(sC.snapshotId.toString))
    val expect = c.filter(col("c_custkey") <= 30 ||
      col("c_custkey").between(61, 90)).count()
    assert(cat.read(spark, "cust").count() == expect)

    // ...and B can follow (order-independent appends)
    cat.cherryPick(spark, "cust", sB.snapshotId)
    assert(cat.read(spark, "cust").count() == c.filter(col("c_custkey") <= 90).count())
    // the replayed rows ARE appends for an incremental reader
    assert(cat.readIncremental(spark, "cust", cp.snapshotId).count() ==
      c.filter(col("c_custkey").between(31, 60)).count())

    // a delete/rewrite source refuses: replaying survivors duplicates rows
    val del = Writers.deleteWhere(spark, cat, "cust",
      df => df.filter(col("c_custkey") =!= 1), Nil, s"$base/d")
    intercept[IllegalArgumentException](cat.cherryPick(spark, "cust", del.snapshotId))
  }

  test("per-commit feed attributes every change to its commit; intra-range churn preserved") {
    val base = tempDir("graft-cdf-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    val s1 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 20), s"$base/d")
    val s2 = Writers.writeSnapshot(cat, "cust",
      c.filter(col("c_custkey").between(21, 30)), s"$base/d")
    // delete rows appended by BOTH commits: net feed cancels s2's part,
    // the per-commit feed must preserve it with correct attribution
    val s3 = Writers.deleteWhereMoR(spark, cat, "cust",
      col("c_custkey").between(15, 25), Nil, s"$base/d")

    val feed = cat.changesPerCommit(spark, "cust", s1.snapshotId)
    def part(id: Long, t: String): Set[Long] =
      feed.filter(col("_commit_snapshot_id") === id && col("_change_type") === t)
        .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    def ck(lo: Long, hi: Long): Set[Long] =
      c.filter(col("c_custkey").between(lo, hi))
        .select(col("c_custkey")).collect().map(_.getLong(0)).toSet

    assert(part(s2.snapshotId, "insert") == ck(21, 30))
    assert(part(s2.snapshotId, "delete").isEmpty)
    assert(part(s3.snapshotId, "delete") == ck(15, 25))
    assert(part(s3.snapshotId, "insert").isEmpty)
    // timestamps ride along; commit order is replayable
    val stamps = feed.select(col("_commit_snapshot_id"), col("_commit_timestamp_ms"))
      .distinct().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stamps.keySet == Set(s2.snapshotId, s3.snapshotId))
    assert(stamps(s2.snapshotId) <= stamps(s3.snapshotId))

    // net feed over the same range cancels the churn the per-commit
    // feed preserves: 21..25 appear in s2-insert AND s3-delete
    val net = cat.changesBetween(spark, "cust", s1.snapshotId)
    val netDel = net.filter(col("_change_type") === "delete")
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    assert(netDel == ck(15, 20), s"net feed should only delete rows present at s1, got $netDel")
  }
}
