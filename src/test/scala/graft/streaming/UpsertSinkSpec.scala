package graft.streaming

import graft.SparkSpec
import graft.meta.SnapshotCatalog
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming MERGE INTO (T7): keyed upserts land exactly once, last
  * writer wins per key, and the change feed stays exact across batches. */
class UpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  private def state(cat: SnapshotCatalog, t: String): Map[Long, (String, Long)] =
    cat.read(spark, t).select(col("id"), col("status"), col("ver"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap

  test("streamed upsert batches: bootstrap, merge, last-writer-wins, exactly-once restart") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft-upsert-").toString
    val cat = new SnapshotCatalog(s"$tmp/cat")
    val mem = MemoryStream[(Long, String, Long)]
    val df = mem.toDF().toDF("id", "status", "ver")

    // batch 0 bootstraps the table
    mem.addData((1L, "new", 1L), (2L, "new", 1L), (3L, "new", 1L))
    UpsertSink.start(df, cat, "orders", Seq("id"), s"$tmp/d", s"$tmp/chk",
      versionCol = Some("ver"), trigger = Trigger.AvailableNow())
      .awaitTermination(60000)
    assert(state(cat, "orders") ==
      Map(1L -> (("new", 1L)), 2L -> (("new", 1L)), 3L -> (("new", 1L))))

    // batch 1: update key 2 twice IN ONE BATCH (version order must win),
    // insert key 4
    mem.addData((2L, "paid", 2L), (2L, "shipped", 3L), (4L, "new", 1L))
    UpsertSink.start(df, cat, "orders", Seq("id"), s"$tmp/d", s"$tmp/chk",
      versionCol = Some("ver"), trigger = Trigger.AvailableNow())
      .awaitTermination(60000)
    assert(state(cat, "orders") == Map(
      1L -> (("new", 1L)), 2L -> (("shipped", 3L)),
      3L -> (("new", 1L)), 4L -> (("new", 1L))))

    // restart with the same checkpoint: nothing new, nothing re-applied
    val nSnaps = cat.snapshots("orders").size
    UpsertSink.start(df, cat, "orders", Seq("id"), s"$tmp/d", s"$tmp/chk",
      versionCol = Some("ver"), trigger = Trigger.AvailableNow())
      .awaitTermination(60000)
    assert(cat.snapshots("orders").size == nSnaps)
  }

  test("re-delivered batch id is skipped; CDC across the merge is exact") {
    val tmp = tempDir("graft-upsert-idem-").toString
    val cat = new SnapshotCatalog(s"$tmp/cat")
    val chk = s"$tmp/chk"
    val b0 = Seq((1L, "new", 1L), (2L, "new", 1L)).toDF("id", "status", "ver")
    val b1 = Seq((2L, "paid", 2L), (3L, "new", 1L)).toDF("id", "status", "ver")

    UpsertSink.mergeBatch(cat, "t", Seq("id"), s"$tmp/d", chk, None)(b0, 0L)
    val s0 = cat.currentSnapshot("t").get
    UpsertSink.mergeBatch(cat, "t", Seq("id"), s"$tmp/d", chk, None)(b1, 1L)
    // crash replay: batch 1 re-delivered
    UpsertSink.mergeBatch(cat, "t", Seq("id"), s"$tmp/d", chk, None)(b1, 1L)
    assert(cat.snapshots("t").size == 2, "re-delivered merge must not commit")
    assert(state(cat, "t") ==
      Map(1L -> (("new", 1L)), 2L -> (("paid", 2L)), 3L -> (("new", 1L))))

    // the feed across the upsert: delete of 2's old version, inserts of
    // 2's new version and 3
    val feed = cat.changesBetween(spark, "t", s0.snapshotId)
    val del = feed.filter(col("_change_type") === "delete")
      .select(col("id"), col("ver")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ins = feed.filter(col("_change_type") === "insert")
      .select(col("id"), col("ver")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(del == Set((2L, 1L)))
    assert(ins == Set((2L, 2L), (3L, 1L)))
  }
}
