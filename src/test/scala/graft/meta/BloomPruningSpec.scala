package graft.meta

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class BloomPruningSpec extends SparkSpec {

  test("bloom filter skips files that cannot contain an equality value") {
    val data = tempDir("graft-bloom-").toString
    val n = Tables.nation(spark, sfDir)
    n.filter(col("n_nationkey") < 12).coalesce(1).write.parquet(s"$data/a")
    n.filter(col("n_nationkey") >= 12).coalesce(1).write.parquet(s"$data/b")
    def one(sub: String) = new java.io.File(s"$data/$sub").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val (fa, fb) = (one("a"), one("b"))

    val cat = new SnapshotCatalog(tempDir("graft-cat-").toString)
    val snap = cat.commit(spark, "nation", Seq(fa, fb),
      bloomColumns = Seq("n_name"))
    assert(snap.files.forall(_.blooms.contains("n_name")))

    // NATION_20 only lives in file b; lexicographic min/max can't prune
    // (NATION_2 < NATION_20 < NATION_9 in both files) — bloom must.
    val planned = cat.planFiles("nation", Seq(EqString("n_name", "NATION_20")))
    assert(planned.map(_.path) == Seq(fb))

    // a value in neither file prunes everything (modulo fpp on 2 files)
    val none = cat.planFiles("nation", Seq(EqString("n_name", "NATION_9999")))
    assert(none.isEmpty)

    // and the surviving read still returns the right row
    val df = cat.read(spark, "nation", Seq(EqString("n_name", "NATION_20")))
      .filter(col("n_name") === "NATION_20")
    assert(df.count() == 1)

    // IN-list pruning (the id-list scan): a file survives iff ANY
    // listed value might be present — two absent values prune all,
    // one present value keeps exactly its file, an empty list is IN ()
    assert(cat.planFiles("nation",
      Seq(InString("n_name", Seq("NATION_9999", "NATION_8888")))).isEmpty)
    assert(cat.planFiles("nation",
      Seq(InString("n_name", Seq("NATION_9999", "NATION_20")))).map(_.path) == Seq(fb))
    assert(cat.planFiles("nation", Seq(InString("n_name", Nil))).isEmpty)
    val inDf = cat.read(spark, "nation",
        Seq(InString("n_name", Seq("NATION_20", "NATION_9999"))))
      .filter(col("n_name").isin("NATION_20", "NATION_9999"))
    assert(inDf.count() == 1)
  }

  test("bloom index is sticky: a COW delete's rewritten files are re-indexed") {
    val base = tempDir("graft-bloomstick-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val n = Tables.nation(spark, sfDir)
    graft.sinks.Writers.writeSnapshot(cat, "nation", n, s"$base/data",
      bloomColumns = Seq("n_name"))
    val s1 = cat.currentSnapshot("nation").get
    assert(s1.props.get(SnapshotCatalog.BloomColumnsProp).contains("n_name"))

    // the rewrite does NOT name bloom columns — stickiness must
    val s2 = graft.sinks.Writers.deleteWhere(spark, cat, "nation",
      df => df.filter(col("n_nationkey") =!= 0), Nil, s"$base/data")
    assert(s2.props.get(SnapshotCatalog.BloomColumnsProp).contains("n_name"))
    assert(s2.files.nonEmpty)
    assert(s2.files.forall(_.blooms.contains("n_name")),
      "rewritten files lost their bloom index")

    // and the index still prunes after the rewrite
    val miss = cat.planFiles("nation", Seq(EqString("n_name", "NATION_9999")))
    assert(miss.isEmpty)

    // an append that names nothing keeps indexing its new files too
    val s3 = graft.sinks.Writers.writeSnapshot(cat, "nation", n.limit(3), s"$base/data")
    assert(s3.files.forall(_.blooms.contains("n_name")))
  }

  test("bloom-enabled commit runs O(1) Spark jobs regardless of file count") {
    val data = tempDir("graft-bloomjobs-").toString
    val c = Tables.customer(spark, sfDir)
    val nFiles = 8
    (0 until nFiles).foreach { i =>
      c.filter(pmod(col("c_custkey"), lit(nFiles)) === i).coalesce(1)
        .write.parquet(s"$data/p$i")
    }
    val paths = (0 until nFiles).map { i =>
      new java.io.File(s"$data/p$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    }

    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val cat = new SnapshotCatalog(tempDir("graft-cat-").toString)
      val snap = cat.commit(spark, "customer", paths,
        bloomColumns = Seq("c_mktsegment", "c_name"))
      Thread.sleep(1000) // listener events are async; let the bus drain
      assert(snap.files.size == nFiles)
      assert(snap.files.forall(f =>
        f.blooms.contains("c_mktsegment") && f.blooms.contains("c_name")))
      // one stats job + one bloom job (+ AQE sub-jobs at most): the count
      // must not scale with nFiles — the old per-file loop would be >= 16
      assert(jobs <= 6, s"bloom commit ran $jobs jobs for $nFiles files")
    } finally spark.sparkContext.removeSparkListener(listener)

    // the single-job blooms still prune: a segment value absent from a
    // file's rows prunes that file via bloom membership
    val cat2 = new SnapshotCatalog(tempDir("graft-cat2-").toString)
    val byseg = tempDir("graft-bloomseg-").toString
    c.filter(col("c_mktsegment") === "BUILDING").coalesce(1).write.parquet(s"$byseg/a")
    c.filter(col("c_mktsegment") === "MACHINERY").coalesce(1).write.parquet(s"$byseg/b")
    def one(sub: String) = new java.io.File(s"$byseg/$sub").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    cat2.commit(spark, "cseg", Seq(one("a"), one("b")),
      bloomColumns = Seq("c_mktsegment"))
    val planned = cat2.planFiles("cseg", Seq(EqString("c_mktsegment", "MACHINERY")))
    assert(planned.map(_.path) == Seq(one("b")))
  }

  test("bloom/sketch sidecars are written executor-side: driver task results stay path-sized") {
    // a 400k-row file gets a ~450 KB row-count-sized bloom; if the commit
    // collected serialized blooms to the driver (the pre-r8 shape), task
    // result traffic would exceed the bloom size. The executor-side write
    // returns only sidecar paths, so total result bytes stay far below it.
    val data = tempDir("graft-bloomexec-").toString
    spark.range(400000L)
      .select(col("id"), concat(lit("val_"), col("id")).as("v"))
      .coalesce(1).write.parquet(s"$data/big")
    val path = new java.io.File(s"$data/big").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath

    @volatile var resultBytes = 0L
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) resultBytes += t.taskMetrics.resultSize
    }
    spark.sparkContext.addSparkListener(listener)
    val snap =
      try {
        val cat = new SnapshotCatalog(tempDir("graft-cat-").toString)
        val s = cat.commit(spark, "big", Seq(path),
          bloomColumns = Seq("v"), sketchColumns = Seq("v"))
        Thread.sleep(1000) // listener events are async; let the bus drain
        // exactness first: the index must still prune and still hit
        assert(cat.planFiles("big", Seq(EqString("v", "val_399999"))).map(_.path) == Seq(path))
        assert(cat.planFiles("big", Seq(EqString("v", "nope_123"))).isEmpty)
        s
      } finally spark.sparkContext.removeSparkListener(listener)

    val bloomSidecar = java.nio.file.Paths.get(snap.files.head.blooms("v"))
    val sketchSidecar = java.nio.file.Paths.get(snap.files.head.sketches("v"))
    assert(Files.size(bloomSidecar) > 300000L,
      s"expected a row-count-sized bloom, got ${Files.size(bloomSidecar)} bytes")
    assert(Files.exists(sketchSidecar))
    // the commit's ENTIRE driver-bound result traffic (stats rows + path
    // strings + scheduler bookkeeping) must stay far below one bloom
    assert(resultBytes < 150000L,
      s"driver received $resultBytes result bytes — blooms/sketches are crossing the driver")
  }
}
