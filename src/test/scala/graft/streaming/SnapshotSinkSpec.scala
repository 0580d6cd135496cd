package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.meta.SnapshotCatalog
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

class SnapshotSinkSpec extends SparkSpec {

  import spark.implicits._

  test("each micro-batch commits one snapshot; history and incremental reads work") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = tempDir("graft-sink-").toString
    val cat = new SnapshotCatalog(s"$tmp/cat")
    val mem = MemoryStream[(Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "event_type", "value")

    mem.addData((1L, "click", 1.0), (2L, "view", 2.0))
    val q1 = SnapshotSink.start(df, cat, "ev", s"$tmp/data", s"$tmp/chk",
      Trigger.AvailableNow())
    q1.awaitTermination(60000)

    assert(cat.currentSnapshot("ev").map(_.totalRows).contains(2L))

    mem.addData((3L, "click", 3.0))
    val q2 = SnapshotSink.start(df, cat, "ev", s"$tmp/data", s"$tmp/chk",
      Trigger.AvailableNow())
    q2.awaitTermination(60000)

    val snaps = cat.snapshots("ev")
    assert(snaps.size == 2, s"got ${snaps.map(_.snapshotId)}")
    assert(cat.read(spark, "ev").count() == 3)
    // incremental read between the two commits sees only the new row
    val inc = cat.readIncremental(spark, "ev", fromSnapshotId = snaps.head.snapshotId)
    assert(inc.select("event_id").as[Long].collect().toSeq == Seq(3L))
    // exactly-once bookkeeping: restarting with same checkpoint adds nothing
    val q3 = SnapshotSink.start(df, cat, "ev", s"$tmp/data", s"$tmp/chk",
      Trigger.AvailableNow())
    q3.awaitTermination(60000)
    assert(cat.read(spark, "ev").count() == 3)
  }

  test("a re-delivered batch id is skipped: ingestion is idempotent") {
    val tmp = tempDir("graft-sink-idem-").toString
    val cat = new SnapshotCatalog(s"$tmp/cat")
    val chk = s"$tmp/chk"
    val batch = Seq((1L, "click", 1.0), (2L, "view", 2.0))
      .toDF("event_id", "event_type", "value")

    // foreachBatch is at-least-once: simulate a crash after the snapshot
    // commit but before the checkpoint write by delivering batch 0 twice
    SnapshotSink.commitBatch(cat, "ev", s"$tmp/data", chk)(batch, 0L)
    assert(SnapshotSink.lastCommittedBatch(cat, "ev", chk) == 0L)
    SnapshotSink.commitBatch(cat, "ev", s"$tmp/data", chk)(batch, 0L)
    assert(cat.snapshots("ev").size == 1, "duplicate batch must not commit")
    assert(cat.read(spark, "ev").count() == 2)

    // the next batch id commits normally
    SnapshotSink.commitBatch(cat, "ev", s"$tmp/data", chk)(batch, 1L)
    assert(cat.snapshots("ev").size == 2)
    assert(cat.read(spark, "ev").count() == 4)

    // a DIFFERENT checkpoint (fresh stream) has its own batch-id space
    assert(SnapshotSink.lastCommittedBatch(cat, "ev", s"$tmp/other-chk") == -1L)

    // the batch and checkpoint ids are the batch commit's own props: a
    // plain write after it carries neither
    val plain = graft.sinks.Writers.writeSnapshot(cat, "ev", batch, s"$tmp/data")
    assert(!plain.props.keys.exists(_.startsWith("graft.ingest.")), plain.props)
  }
}
