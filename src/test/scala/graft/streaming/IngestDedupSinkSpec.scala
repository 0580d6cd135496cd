package graft.streaming

import graft.SparkSpec
import graft.meta.SnapshotCatalog
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** T10 streaming ingest-dedup: micro-batches land only never-seen
  * fingerprints; state is the corpus + index TABLES (restart needs no
  * state store); the two-table commit pair is idempotent under
  * re-delivery. */
class IngestDedupSinkSpec extends SparkSpec {

  private def newCat = new SnapshotCatalog(
    tempDir("graft-ingdd-").toString)

  test("cross-batch and in-batch dups drop; novel docs land; restartable state") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val cat = newCat
    val dataDir = tempDir("graft-ingdd-data-").toString
    val ckpt = tempDir("graft-ingdd-ckpt-").toString
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")

    // batch 0: in-batch dup (3 mirrors same text, min id wins) + novel
    mem.addData((1L, "alpha beta gamma"), (3L, "Alpha  beta   GAMMA"),
      (7L, "alpha beta gamma"), (2L, "delta epsilon"))
    IngestDedupSink.start(stream, cat, "docs", "doc_id", "text",
      dataDir, ckpt).processAllAvailable()
    assert(cat.read(spark, "docs").select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L))

    // batch 1: cross-batch dup of doc 1 + one novel doc
    mem.addData((9L, "ALPHA beta gamma"), (4L, "zeta eta"))
    IngestDedupSink.start(stream, cat, "docs", "doc_id", "text",
      dataDir, ckpt).processAllAvailable()
    assert(cat.read(spark, "docs").select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 4L))

    // the index table holds one row per distinct fingerprint
    val idx = cat.read(spark, IngestDedupSink.indexTable("docs"))
    assert(idx.count() == 3)
    assert(idx.select("dup_of").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))

    // re-delivery of an already-committed batch is a no-op on BOTH
    // tables (the exactly-once discipline, exercised directly)
    val replay = Seq((1L, "alpha beta gamma"), (3L, "Alpha  beta   GAMMA"),
      (7L, "alpha beta gamma"), (2L, "delta epsilon")).toDF("doc_id", "text")
    val before = (cat.currentSnapshot("docs").get.snapshotId,
      cat.currentSnapshot(IngestDedupSink.indexTable("docs")).get.snapshotId)
    IngestDedupSink.ingestBatch(cat, "docs", "doc_id", "text", dataDir, ckpt)(replay, 0L)
    val after = (cat.currentSnapshot("docs").get.snapshotId,
      cat.currentSnapshot(IngestDedupSink.indexTable("docs")).get.snapshotId)
    assert(before == after, "replayed batch must commit nothing")

    // crash window: the corpus commit of batch 2 lands, the index
    // commit doesn't (the only possible partial state — corpus commits
    // first). Construct that state directly, then re-deliver: the
    // corpus must NOT double-commit and the index must catch up.
    val idxTable = IngestDedupSink.indexTable("docs")
    val b2novel = Seq((11L, "theta iota")).toDF("doc_id", "text")
    graft.sinks.Writers.writeSnapshot(cat, "docs", b2novel, dataDir,
      props = Map(IngestDedupSink.BatchIdProp -> "2",
        IngestDedupSink.CheckpointProp -> ckpt))
    val corpusAfterPartial = cat.currentSnapshot("docs").get.snapshotId
    val b2 = Seq((11L, "theta iota"), (13L, "THETA iota")).toDF("doc_id", "text")
    IngestDedupSink.ingestBatch(cat, "docs", "doc_id", "text", dataDir, ckpt)(b2, 2L)
    assert(cat.currentSnapshot("docs").get.snapshotId == corpusAfterPartial,
      "re-delivered corpus commit must skip")
    assert(cat.read(spark, "docs").select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 4L, 11L))
    val idxAfter = cat.read(spark, idxTable)
    assert(idxAfter.count() == 4, "index must catch up to batch 2's fingerprint")
    assert(idxAfter.select("dup_of").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L, 11L))
  }

  test("near-dup ingest: verified neighbors drop in-batch and cross-batch; commit order heals the worst crash window") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val cat = newCat
    val dataDir = tempDir("graft-ndd-data-").toString
    val ckpt = tempDir("graft-ndd-ckpt-").toString
    // long shared base so near-dups clear the LSH bands + jaccard 0.8
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearA = base.replace("tok7", "edited7")   // ~0.9 jaccard vs base
    val far = (1 to 40).map(i => s"other$i").mkString(" ")
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")

    // batch 0: base + its in-batch near-dup (later id drops) + far
    mem.addData((10L, base), (20L, nearA), (30L, far))
    IngestDedupSink.startNearDup(stream, cat, "nd", "doc_id", "text",
      dataDir, ckpt, threshold = 0.8).processAllAvailable()
    assert(cat.read(spark, "nd").select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(10L, 30L))

    // batch 1: cross-batch near-dup of base drops; novel lands
    val nearB = base.replace("tok31", "edited31")
    val novel2 = (1 to 40).map(i => s"third$i").mkString(" ")
    mem.addData((40L, nearB), (50L, novel2))
    IngestDedupSink.startNearDup(stream, cat, "nd", "doc_id", "text",
      dataDir, ckpt, threshold = 0.8).processAllAvailable()
    assert(cat.read(spark, "nd").select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(10L, 30L, 50L))
    // both index tables carry exactly the three kept docs
    assert(cat.read(spark, IngestDedupSink.shingleIndexTable("nd")).count() == 3)
    assert(cat.read(spark, IngestDedupSink.bandIndexTable("nd"))
      .select("doc_id").distinct().count() == 3)

    // worst crash window: corpus + shingle index landed for batch 2,
    // band index did NOT — the re-delivered batch must not match
    // itself (bands absent), must skip the landed commits and complete
    // the band index
    val fourth = (1 to 40).map(i => s"fourth$i").mkString(" ")
    val b2 = Seq((60L, fourth)).toDF("doc_id", "text")
    val props = Map(IngestDedupSink.BatchIdProp -> "2",
      IngestDedupSink.CheckpointProp -> ckpt)
    graft.sinks.Writers.writeSnapshot(cat, "nd", b2, dataDir, props = props)
    graft.sinks.Writers.writeSnapshot(cat, IngestDedupSink.shingleIndexTable("nd"),
      graft.ops.Dedup.shingleHashes(b2, "doc_id", "text"), dataDir, props = props)
    val corpusSnap = cat.currentSnapshot("nd").get.snapshotId
    IngestDedupSink.nearDupIngestBatch(cat, "nd", "doc_id", "text",
      dataDir, ckpt, 0.8, graft.ops.Dedup.NumBands)(b2, 2L)
    assert(cat.currentSnapshot("nd").get.snapshotId == corpusSnap,
      "re-delivered corpus commit must skip")
    assert(cat.read(spark, "nd").select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(10L, 30L, 50L, 60L))
    assert(cat.read(spark, IngestDedupSink.bandIndexTable("nd"))
      .select("doc_id").distinct().count() == 4, "band index must catch up")
    // and doc 60's bands now probe: its near-dup drops in a later batch
    // "fourth3 " with the trailing space: bare "fourth3" also matches
    // inside fourth30..fourth39 and would edit 11 tokens, a real non-dup
    val nearFourth = fourth.replace("fourth3 ", "edited3 ")
    IngestDedupSink.nearDupIngestBatch(cat, "nd", "doc_id", "text",
      dataDir, ckpt, 0.8, graft.ops.Dedup.NumBands)(
      Seq((70L, nearFourth)).toDF("doc_id", "text"), 3L)
    assert(cat.read(spark, "nd").select("doc_id").as[Long].collect().sorted
      .toSeq == Seq(10L, 30L, 50L, 60L))
  }

  test("per-batch job count is corpus-size-independent (index probe, never a corpus scan)") {
    // r18 (VERDICT #9): the documented design claim is that a micro-batch
    // costs one batch-sized index probe, independent of corpus size. Pin
    // the JOB-count half here: the same-shaped batch must launch the same
    // number of Spark jobs whether the fingerprint index holds 20 rows or
    // ~420 — growth would mean per-batch work is acquiring corpus-sized
    // stages. (The wall-clock half lives in the committed stream_probe
    // artifact, measured at the 10× gate corpus.)
    import spark.implicits._
    val cat = newCat
    val dataDir = tempDir("graft-ingdd-data-").toString
    val ckpt = tempDir("graft-ingdd-ckpt-").toString
    val all = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").limit(480).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    def ingest(rows: Seq[(Long, String)], id: Long): Unit =
      IngestDedupSink.ingestBatch(cat, "jp", "doc_id", "text", dataDir, ckpt)(
        rows.toDF("doc_id", "text"), id)
    def jobsOf(f: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        org.apache.spark.sql.GraftColumnShim.drainListenerBus(spark)
        f
        org.apache.spark.sql.GraftColumnShim.drainListenerBus(spark)
        jobs.get()
      } finally spark.sparkContext.removeSparkListener(l)
    }
    ingest(all.slice(0, 20), 0L) // non-empty index: batch 1+ share one plan shape
    val small = jobsOf(ingest(all.slice(20, 40), 1L))
    ingest(all.slice(40, 440), 2L) // grow the corpus + index ~20×
    val big = jobsOf(ingest(all.slice(440, 460), 3L))
    assert(small == big,
      s"per-batch job count grew with corpus size: $small -> $big")
  }

  test("streaming result equals the batch exactGroups keeper set") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val cat = newCat
    val dataDir = tempDir("graft-ingdd-data-").toString
    val ckpt = tempDir("graft-ingdd-ckpt-").toString
    // ascending doc_id order makes "first seen" == "global min id per
    // fingerprint", so the batch exactGroups keeper set is the oracle
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").limit(120).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    docs.grouped(40).foreach { chunk =>
      mem.addData(chunk: _*)
      IngestDedupSink.start(stream, cat, "d2", "doc_id", "text",
        dataDir, ckpt).processAllAvailable()
    }
    val streamed = cat.read(spark, "d2").select("doc_id").as[Long].collect().sorted
    // batch oracle: keeper = min doc_id per normalized fingerprint
    val keepers = docs.toDF("doc_id", "text")
      .groupBy(graft.ops.TextAnalysis.fingerprint(org.apache.spark.sql.functions.col("text")))
      .agg(org.apache.spark.sql.functions.min("doc_id").as("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(streamed.toSeq == keepers.toSeq)
  }
}
