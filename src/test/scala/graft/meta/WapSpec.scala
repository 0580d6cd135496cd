package graft.meta

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import graft.sinks.Writers
import org.apache.spark.sql.functions._

/** Write-audit-publish: staged appends are invisible until published,
  * auditable as prospective state, publishable onto a moved head, and
  * discardable without a trace. */
class WapSpec extends SparkSpec {

  test("staged append is invisible to reads, CDC and history until published") {
    val base = tempDir("graft-wap-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 50), s"$base/data")
    val s1 = cat.currentSnapshot("cust").get

    val stagedId = Writers.stageAppendSnapshot(cat, "cust",
      c.filter(col("c_custkey").between(51, 80)), s"$base/data")
    // nothing moved: same current snapshot, same rows, staged is listed
    assert(cat.currentSnapshot("cust").get.snapshotId == s1.snapshotId)
    assert(cat.read(spark, "cust").count() == c.filter(col("c_custkey") <= 50).count())
    assert(cat.listStaged("cust") == Seq(stagedId))

    // audit sees the prospective state
    val audit = Writers.readStaged(cat, spark, "cust", stagedId)
    assert(audit.count() == c.filter(col("c_custkey") <= 80).count())

    // publish: rows appear as ONE append commit carrying the wap id
    val s2 = cat.publishStaged(spark, "cust", stagedId)
    assert(s2.parentId.contains(s1.snapshotId))
    assert(s2.props.get(SnapshotCatalog.WapIdProp).contains(stagedId))
    assert(cat.read(spark, "cust").count() == c.filter(col("c_custkey") <= 80).count())
    assert(cat.listStaged("cust").isEmpty)
    // CDC: the published range is exactly the staged rows
    val changes = cat.readIncremental(spark, "cust", s1.snapshotId, Some(s2.snapshotId))
    assert(changes.count() == c.filter(col("c_custkey").between(51, 80)).count())
  }

  test("audit of a MoR-masked table shows the prospective VISIBLE state") {
    val base = tempDir("graft-wapmor-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 50), s"$base/data")
    Writers.deleteWhereMoR(spark, cat, "cust", col("c_custkey") <= 10, Nil, s"$base/data")
    val stagedId = Writers.stageAppendSnapshot(cat, "cust",
      c.filter(col("c_custkey").between(51, 60)), s"$base/data")
    // masked rows must not resurrect in the prospective state
    val audit = Writers.readStaged(cat, spark, "cust", stagedId)
    assert(audit.count() ==
      c.filter(col("c_custkey") > 10 && col("c_custkey") <= 60).count())
  }

  test("publish applies onto a head that moved after staging (append cherry-pick)") {
    val base = tempDir("graft-wap2-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 30), s"$base/data")
    val stagedId = Writers.stageAppendSnapshot(cat, "cust",
      c.filter(col("c_custkey").between(31, 60)), s"$base/data")
    // an unrelated commit lands while the audit runs
    Writers.writeSnapshot(cat, "cust",
      c.filter(col("c_custkey").between(61, 90)), s"$base/data")

    val s3 = cat.publishStaged(spark, "cust", stagedId)
    // all three slices survive — the interleaved commit was not lost
    assert(cat.read(spark, "cust").count() == c.filter(col("c_custkey") <= 90).count())
    assert(s3.snapshotId == 3L)
  }

  test("discard leaves no trace; vacuum reclaims the never-referenced files") {
    val base = tempDir("graft-wap3-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 50), s"$base/data")
    val stagedId = Writers.stageAppendSnapshot(cat, "cust",
      c.filter(col("c_custkey") > 50), s"$base/data")
    val stagedFiles = cat.staged("cust", stagedId).get.paths

    // a vacuum BEFORE the audit decision must not eat the staged files
    assert(cat.vacuumDataFiles("cust", s"$base/data", graceMs = 0L).isEmpty)
    assert(Writers.readStaged(cat, spark, "cust", stagedId).count() == c.count())

    cat.discardStaged("cust", stagedId)
    assert(cat.staged("cust", stagedId).isEmpty)
    assert(cat.listStaged("cust").isEmpty)
    assert(cat.read(spark, "cust").count() == c.filter(col("c_custkey") <= 50).count())
    // the orphaned staged files are vacuum's to reclaim (grace 0)
    val removed = cat.vacuumDataFiles("cust", s"$base/data", graceMs = 0L)
    assert(stagedFiles.forall(f => removed.map(SnapshotCatalog.normalizePath)
        .contains(SnapshotCatalog.normalizePath(f))),
      s"staged files should be vacuumed: $stagedFiles vs $removed")
    // and a discarded id cannot be published
    intercept[IllegalArgumentException](cat.publishStaged(spark, "cust", stagedId))
  }
}
