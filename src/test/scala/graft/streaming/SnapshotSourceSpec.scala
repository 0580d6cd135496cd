package graft.streaming

import graft.{SparkSpec, Tables}
import graft.meta.{RangeNum, SnapshotCatalog}
import graft.sinks.Writers
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The snapshot table consumed AS A STREAM: initial full load, then one
  * incremental batch per commit range, with COW deletes contributing
  * nothing (appends-only contract) — and offsets = snapshot ids. */
class SnapshotSourceSpec extends SparkSpec {

  test("streams the table: full first batch, append-only increments, delete-silent") {
    val root = tempDir("graft-src-").toString
    val dataDir = tempDir("graft-src-data-").toString
    val cat = new SnapshotCatalog(root)
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 50), dataDir)

    val stream = spark.readStream
      .format("graft.streaming.SnapshotSourceProvider")
      .option("catalogRoot", root).option("table", "cust")
      .load()
      .writeStream.format("memory").queryName("snapsrc")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.processAllAvailable()
      val base = c.filter(col("c_custkey") <= 50).count()
      assert(spark.table("snapsrc").count() == base)

      // an append lands as exactly the new rows
      Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey").between(51, 80)), dataDir)
      stream.processAllAvailable()
      assert(spark.table("snapsrc").count() == c.filter(col("c_custkey") <= 80).count())

      // a COW delete triggers a batch with NO rows (no resurrection)
      Writers.deleteWhere(spark, cat, "cust",
        rowPredicate = df => df.filter(!col("c_custkey").between(10, 20)),
        pruneFilters = Seq(RangeNum("c_custkey", 10, 20)), dataDir = dataDir)
      stream.processAllAvailable()
      assert(spark.table("snapsrc").count() == c.filter(col("c_custkey") <= 80).count())

      // a merge streams exactly its net-new rows (insert-file lineage)
      val src = c.filter(col("c_custkey").between(60, 65))
        .withColumn("c_acctbal", lit(-5.0))
      Writers.mergeInto(spark, cat, "cust", src, Seq("c_custkey"), dataDir)
      stream.processAllAvailable()
      assert(spark.table("snapsrc").count() ==
        c.filter(col("c_custkey") <= 80).count() + src.count())
      assert(spark.table("snapsrc").filter(col("c_acctbal") === -5.0).count() == src.count())
    } finally stream.stop()
  }

  test("maxSnapshotsPerTrigger bounds catch-up batches; backlog still drains completely") {
    val root = tempDir("graft-rate-").toString
    val dataDir = tempDir("graft-rate-data-").toString
    val cat = new SnapshotCatalog(root)
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 20), dataDir)
    val stream = spark.readStream
      .format("graft.streaming.SnapshotSourceProvider")
      .option("catalogRoot", root).option("table", "cust")
      .option("maxSnapshotsPerTrigger", "1")
      .load()
      .writeStream.format("memory").queryName("ratesrc")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.processAllAvailable()
      // a 4-commit backlog accumulates while the stream is live (the
      // initial full-table load is one snapshot READ — the cap governs
      // incremental ranges, where batch size ∝ commits covered)
      (1 to 4).foreach { i =>
        Writers.writeSnapshot(cat, "cust",
          c.filter(col("c_custkey").between(20 * i + 1, 20 * i + 20)), dataDir)
      }
      stream.processAllAvailable()
      // complete drain despite the cap
      assert(spark.table("ratesrc").count() == c.filter(col("c_custkey") <= 100).count())
      // the backlog arrived in bounded batches: the cap forces ≥ 4
      // incremental triggers after the initial load (1 snapshot each)
      val batches = stream.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 5, s"backlog must drain in capped batches, saw $batches")
    } finally stream.stop()
  }

  test("restart from checkpoint resumes at the last committed snapshot offset") {
    val root = tempDir("graft-ckpt-").toString
    val dataDir = tempDir("graft-ckpt-data-").toString
    val ckpt = tempDir("graft-ckpt-meta-").toString
    val cat = new SnapshotCatalog(root)
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 50), dataDir)

    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def runOnce(): Unit = {
      val q = spark.readStream
        .format("graft.streaming.SnapshotSourceProvider")
        .option("catalogRoot", root).option("table", "cust")
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = df.count(); if (n > 0) batches.add(n); ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }

    runOnce() // initial load
    val base = c.filter(col("c_custkey") <= 50).count()
    assert(batches.toArray.toSeq == Seq(base))

    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey").between(51, 70)), dataDir)
    runOnce() // resume: ONLY the appended rows, never the base again
    val inc = c.filter(col("c_custkey").between(51, 70)).count()
    assert(batches.toArray.toSeq == Seq(base, inc))
  }

  test("cdc mode streams the row-level change feed; a mirror folded from it tracks the table") {
    val root = tempDir("graft-cdc-").toString
    val dataDir = tempDir("graft-cdc-data-").toString
    val cat = new SnapshotCatalog(root)
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 40), dataDir)

    val stream = spark.readStream
      .format("graft.streaming.SnapshotSourceProvider")
      .option("catalogRoot", root).option("table", "cust").option("mode", "cdc")
      .load()
      .writeStream.format("memory").queryName("cdcsrc")
      .outputMode(OutputMode.Append()).start()
    try {
      // initial state arrives as insert rows attributed to snapshot 1
      stream.processAllAvailable()
      val feed0 = spark.table("cdcsrc")
      assert(feed0.count() == c.filter(col("c_custkey") <= 40).count())
      assert(feed0.filter(col("_change_type") =!= "insert").count() == 0)
      assert(feed0.select("_commit_snapshot_id").distinct().collect()
        .map(_.getLong(0)).toSeq == Seq(1L))

      // append → inserts; equality delete → explicit delete rows — the
      // two events an append-mode stream can't express together
      Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey").between(41, 50)), dataDir)
      import spark.implicits._
      Writers.deleteByKeys(spark, cat, "cust", Seq(7L, 9L).toDF("c_custkey"),
        Seq("c_custkey"), dataDir)
      stream.processAllAvailable()

      val feed = spark.table("cdcsrc")
      val dels = feed.filter(col("_change_type") === "delete")
        .select("c_custkey").collect().map(_.getLong(0)).toSet
      assert(dels == Set(7L, 9L))
      // delete rows attribute to the delete commit, not the append
      assert(feed.filter(col("_change_type") === "delete")
        .select("_commit_snapshot_id").distinct().collect()
        .map(_.getLong(0)).toSeq == Seq(3L))

      // folding the feed (inserts minus deletes, per key) reproduces the
      // table exactly — the mirror-maintenance contract (folded on the
      // collected feed: keys are unique, so set difference is the fold)
      val ins = feed.filter(col("_change_type") === "insert")
        .select("c_custkey").collect().map(_.getLong(0)).toSet
      val mirror = ins -- dels
      val want = cat.read(spark, "cust")
        .select("c_custkey").collect().map(_.getLong(0)).toSet
      assert(mirror == want)
    } finally stream.stop()
  }

  test("cdc mode rejects unknown modes; append mode is the default") {
    val root = tempDir("graft-cdcm-").toString
    val dataDir = tempDir("graft-cdcm-data-").toString
    val cat = new SnapshotCatalog(root)
    Writers.writeSnapshot(cat, "cust",
      Tables.customer(spark, sfDir).limit(5), dataDir)
    intercept[Exception] {
      spark.readStream.format("graft.streaming.SnapshotSourceProvider")
        .option("catalogRoot", root).option("table", "cust")
        .option("mode", "upsert").load()
    }
    // default schema carries no change columns
    val df = spark.readStream.format("graft.streaming.SnapshotSourceProvider")
      .option("catalogRoot", root).option("table", "cust").load()
    assert(!df.schema.fieldNames.contains("_change_type"))
  }

  test("missing options and schema-less tables fail fast") {
    intercept[Exception] {
      spark.readStream.format("graft.streaming.SnapshotSourceProvider")
        .option("table", "cust").load()
    }
    intercept[Exception] {
      spark.readStream.format("graft.streaming.SnapshotSourceProvider")
        .option("catalogRoot", tempDir("graft-empty-").toString)
        .option("table", "nope").load()
    }
  }
}
