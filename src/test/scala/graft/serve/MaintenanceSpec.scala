package graft.serve

import graft.SparkSpec
import graft.cache.{CacheKey, TableCache}
import graft.meta.SnapshotCatalog
import graft.sinks.Writers
import org.apache.spark.sql.functions._

/** Node-level background maintenance: one [[Maintenance.runOnce]] pass
  * enforces every opted-in table's declared retention policy (error-
  * isolated) and expires idle cache entries — driven entirely by the
  * INJECTED catalog/cache clock, no sleeps anywhere. */
class MaintenanceSpec extends SparkSpec {

  test("runOnce sweeps opted-in tables under the injected clock; errors isolate") {
    import spark.implicits._
    var nowMs = 1700000000000L
    val root = tempDir("graft-maint-").toString
    val cat = new SnapshotCatalog(root, () => nowMs)
    val dataDir = tempDir("graft-maint-data-").toString

    // m1: full policy — 10 old rows (2h before "now"), 10 fresh ones,
    // across two commits so the history trim has something to cut.
    // Numeric ts columns follow Spark's cast convention: epoch SECONDS.
    Writers.writeSnapshot(cat, "m1",
      (1L to 10L).map(i => (i, nowMs / 1000L - 2 * 3600L)).toDF("id", "ts_s"), dataDir)
    Writers.writeSnapshot(cat, "m1",
      (11L to 20L).map(i => (i, nowMs / 1000L)).toDF("id", "ts_s"), dataDir)
    cat.setStickyValueProp("m1", SnapshotCatalog.RetentionRowsColumnProp, Some("ts_s"))
    cat.setStickyValueProp("m1", SnapshotCatalog.RetentionRowsMsProp, Some("3600000"))
    cat.setStickyValueProp("m1", SnapshotCatalog.RetentionSnapshotsProp, Some("2"))
    // m2: NO policy — maintenance must never touch it
    Writers.writeSnapshot(cat, "m2", (1L to 5L).map(i => (i, i)).toDF("id", "v"), dataDir)
    // m3: HALF policy — its sweep refuses; the refusal must not stop m1
    Writers.writeSnapshot(cat, "m3", (1L to 5L).map(i => (i, i)).toDF("id", "v"), dataDir)
    cat.setStickyValueProp("m3", SnapshotCatalog.RetentionRowsMsProp, Some("1000"))

    // a materialized view over m2: the pass must refresh it to the
    // source head (the no-arg refresh_mv semantics, MVs first)
    graft.sinks.MaterializedAgg.build(spark, cat, "m2", "m2_mv",
      Seq("id"), Seq("v"), dataDir)

    // cache with the SAME injectable clock; one entry, touched "now"
    val tc = new TableCache(clock = () => nowMs)
    tc.getOrLoad(CacheKey("m2", "", Set.empty))(cat.read(spark, "m2"))
    assert(tc.stats.entries == 1)

    val m = new Maintenance(spark, cat, _ => dataDir, Some(tc),
      cacheTtlMs = 30 * 60 * 1000L)

    // tick 1: rows older than 1h sweep (the first batch), history trims
    // to 2, m3 reports its half-policy error, m2 is never visited, the
    // cache entry is still fresh (idle < TTL)
    // m2 moves AFTER the MV build: tick 1's MV phase must fold it in
    Writers.writeSnapshot(cat, "m2", Seq((6L, 60L)).toDF("id", "v"), dataDir)
    val m2Head = cat.currentSnapshot("m2").get.snapshotId

    val rep1 = m.runOnce()
    val byTable = rep1.sweeps.map(s => s.table -> s).toMap
    assert(!byTable.contains("m2") && !byTable.contains("m2_mv"),
      "tables with no policy (incl. the view) are never swept")
    val mv1 = rep1.mvRefreshes.find(_.view == "m2_mv").get
    assert(mv1.error.isEmpty &&
      mv1.refreshedAt.contains(cat.currentSnapshot("m2").get.snapshotId),
      s"the pass must refresh the view to the source head: $mv1")
    assert(cat.read(spark, "m2_mv").count() == 6,
      "the refreshed view folds the post-build append")
    assert(byTable("m1").rowsSwept == 10L, s"old rows must mask: ${byTable("m1")}")
    assert(byTable("m1").error.isEmpty)
    assert(byTable("m3").error.exists(_.contains("half")),
      s"the half policy must report, not abort: ${byTable("m3")}")
    assert(rep1.cacheExpired == 0)
    assert(cat.read(spark, "m1").count() == 10)
    assert(cat.snapshots("m1").size == 2, "history must trim to the declared bound")
    assert(cat.currentSnapshot("m2").get.snapshotId == m2Head)

    // tick 2, clock advanced past the cache TTL and the fresh rows' age:
    // the remaining rows expire, the idle cache entry evicts
    nowMs += 2 * 3600 * 1000L
    val rep2 = m.runOnce()
    assert(rep2.sweeps.find(_.table == "m1").get.rowsSwept == 10L)
    assert(cat.read(spark, "m1").count() == 0)
    assert(rep2.cacheExpired == 1 && tc.stats.entries == 0)

    // tick 3: nothing left — the pass is idempotent and metadata-cheap
    // (the idle-source MV refresh commits nothing: same watermark)
    val mvHead = cat.currentSnapshot("m2_mv").get.snapshotId
    val rep3 = m.runOnce()
    assert(rep3.sweeps.find(_.table == "m1").get.rowsSwept == 0L)
    assert(rep3.cacheExpired == 0)
    assert(cat.currentSnapshot("m2_mv").get.snapshotId == mvHead,
      "an idle-source refresh must not burn a view snapshot")

    // the daemon handle schedules and stops cleanly (behavior itself is
    // runOnce, already proven above — no sleeps needed here)
    val handle = m.start(intervalMs = 3600 * 1000L)
    assert(handle.passes == 0L && handle.lastError.isEmpty)
    handle.close()
  }

  test("a failing pass is recorded on the handle, never silently swallowed") {
    val root = tempDir("graft-maint-err-").toString
    val cat = new SnapshotCatalog(root)
    val boom = new java.util.concurrent.atomic.AtomicBoolean(true)
    // a pass that fails outright (FS outage / bad root shape) until
    // "repaired": the loop must survive, report the throwable on the
    // handle, and CLEAR it on the next clean pass
    val m = new Maintenance(spark, cat, _ => root) {
      override def runOnce(): MaintenanceReport = {
        if (boom.get()) throw new RuntimeException("catalog FS down")
        super.runOnce()
      }
    }
    val handle = m.start(intervalMs = 25L)
    try {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (handle.lastError.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(handle.lastError.exists(_.getMessage.contains("catalog FS down")),
        s"the failing pass must surface on the handle: ${handle.lastError}")
      val failedAt = handle.passes
      assert(failedAt >= 1L)
      boom.set(false) // repair: the next tick must run clean and clear
      while (handle.lastError.isDefined && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(handle.lastError.isEmpty, "a clean pass must clear lastError")
      assert(handle.passes > failedAt, "ticks must keep flowing through failures")
    } finally handle.close()
  }
}
