package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.meta.SnapshotCatalog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming landing-zone ingestion (T12) — deliberately ZERO new main
  * code: Spark's own file streaming source (exactly-once file tracking
  * in the checkpoint) composed with [[SnapshotSink]] (exactly-once
  * batch-id commits) IS the continuous COPY INTO. The spec pins the
  * composition's contract — the Spark-first answer to a "streaming
  * ingest" feature is the existing source, not a rebuilt one; the
  * batch-shaped `CALL graft.ingest` remains the scheduled spelling. */
class LandingStreamSpec extends SparkSpec {

  private def drop(dir: Path, name: String, lines: String*): Unit = {
    Files.write(dir.resolve(name),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    ()
  }

  test("a landing zone streams into the catalog: each file lands exactly once") {
    val landing = tempDir("graft-lstream-")
    val base = tempDir("graft-lstream-cat-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val ckpt = s"$base/chk"
    val sch = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(sch).csv(landing.toString)
      SnapshotSink.start(stream, cat, "docs", s"$base/data", ckpt)
        .awaitTermination(120000)
      ()
    }
    drop(landing, "a.csv", "1,alpha", "2,beta")
    runOnce()
    assert(cat.read(spark, "docs").count() == 2)

    // a re-run with NOTHING new commits nothing (the source's file log
    // + the sink's batch-id check compose to exactly-once)
    val snaps = cat.snapshots("docs").size
    runOnce()
    assert(cat.snapshots("docs").size == snaps, "an idle pass must not commit")

    // arrivals land alone; the change feed sees them as pure appends
    drop(landing, "b.csv", "3,gamma")
    val before = cat.currentSnapshot("docs").get.snapshotId
    runOnce()
    assert(cat.read(spark, "docs").count() == 3)
    val feed = cat.changesBetween(spark, "docs", before)
      .select(col("id"), col("_change_type")).collect()
    assert(feed.map(r => (r.getLong(0), r.getString(1))).toSet == Set((3L, "insert")))

    // crash-shaped restart: a FRESH query over the same checkpoint
    // replays nothing (Spark's file log) and re-commits nothing (the
    // sink's batch-id-in-props check) — the same two-sided guarantee
    // SnapshotSinkSpec proves for memory streams, here for files
    runOnce()
    assert(cat.read(spark, "docs").count() == 3)
  }
}
