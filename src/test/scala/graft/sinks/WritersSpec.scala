package graft.sinks

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import graft.meta.SnapshotCatalog
import org.apache.spark.sql.functions._

class WritersSpec extends SparkSpec {

  test("partitioned write prunes directories on partition filter") {
    val path = tempDir("graft-part-").toString + "/orders"
    val o = Tables.orders(spark, sfDir).withColumn("o_year", year(col("o_orderdate")))
    Writers.writePartitioned(o, path, Seq("o_year"))

    val back = spark.read.parquet(path).filter(col("o_year") === 1996)
    val expected = o.filter(col("o_year") === 1996).count()
    assert(back.count() == expected && expected > 0)

    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_year"),
      s"partition filter not pushed to scan:\n$plan")
  }

  test("partitioned snapshot commit records partition values and prunes from metadata alone") {
    val base = tempDir("graft-psnap-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    val snap = Writers.writePartitionedSnapshot(
      cat, "cust_part", c, s"$base/data", Seq("c_mktsegment"))

    // every manifest entry carries its hive partition value
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(_.partitionValues.contains("c_mktsegment")))
    val segs = snap.files.map(_.partitionValues("c_mktsegment")).toSet
    assert(segs.contains("BUILDING") && segs.size >= 3)

    // the partition column is NOT in the data files (hive layout), so
    // no column stats exist for it — pruning must come from the
    // partition values, i.e. pure manifest metadata, no footer reads
    assert(snap.files.forall(f => !f.stats.contains("c_mktsegment")))
    val planned = cat.planFiles("cust_part",
      Seq(graft.meta.EqString("c_mktsegment", "BUILDING")))
    assert(planned.nonEmpty)
    assert(planned.forall(_.partitionValues("c_mktsegment") == "BUILDING"))
    assert(planned.size < snap.files.size, "other segments must be pruned")

    // pruned read returns exactly the partition's rows
    val n = cat.read(spark, "cust_part",
      Seq(graft.meta.EqString("c_mktsegment", "BUILDING"))).count()
    assert(n == c.filter(col("c_mktsegment") === "BUILDING").count())

    // IN-list pruning on partition values: keeps exactly the listed
    // partitions, no footer reads
    val inPlanned = cat.planFiles("cust_part",
      Seq(graft.meta.InString("c_mktsegment", Seq("BUILDING", "MACHINERY"))))
    assert(inPlanned.nonEmpty && inPlanned.size < snap.files.size)
    assert(inPlanned.forall(f =>
      Set("BUILDING", "MACHINERY").contains(f.partitionValues("c_mktsegment"))))

    // numeric partition values satisfy range pruning too
    val cat2 = new SnapshotCatalog(s"$base/cat2")
    val o = Tables.orders(spark, sfDir).withColumn("o_year", year(col("o_orderdate")))
    val snap2 = Writers.writePartitionedSnapshot(
      cat2, "orders_part", o, s"$base/data2", Seq("o_year"))
    val kept = cat2.planFiles("orders_part", Seq(graft.meta.RangeNum("o_year", 1996, 1997)))
    assert(kept.nonEmpty && kept.size < snap2.files.size)
    assert(kept.forall { f =>
      val y = f.partitionValues("o_year").toDouble; y >= 1996 && y <= 1997
    })
  }

  test("partitioned appends into one path keep every snapshot readable") {
    val base = tempDir("graft-papp-")
    try {
      val cat = new SnapshotCatalog(s"$base/cat")
      val c = Tables.customer(spark, sfDir)
      val s1 = Writers.writePartitionedSnapshot(
        cat, "cust", c, s"$base/data", Seq("c_mktsegment"))
      Writers.writePartitionedSnapshot(cat, "cust", c, s"$base/data", Seq("c_mktsegment"))
      assert(cat.read(spark, "cust").count() == 2 * c.count())
      assert(cat.read(spark, "cust", snapshotId = Some(s1.snapshotId)).count() == c.count())
    } finally SnapshotCatalog.deleteRecursively(base)
  }

  test("partition values with path-special characters prune and survive compaction") {
    val base = tempDir("graft-pesc-")
    try {
      val cat = new SnapshotCatalog(s"$base/cat")
      val zones = Seq("a+b", "c d", "e%f", "x/y")
      val s = spark
      import s.implicits._
      val df = zones.zipWithIndex.flatMap { case (z, i) => Seq((z, 2 * i), (z, 2 * i + 1)) }
        .toDF("zone", "v").coalesce(1)
      def zonesByFile: Seq[String] =
        cat.currentSnapshot("t").get.files.map(_.partitionValues("zone")).sorted
      def assertPrunes(perZone: Int): Unit = zones.foreach { z =>
        val kept = cat.planFiles("t", Seq(graft.meta.EqString("zone", z)))
        assert(kept.size == perZone && kept.forall(_.partitionValues("zone") == z),
          s"'$z' keeps ${kept.size} of $perZone files")
      }
      Writers.writePartitionedSnapshot(cat, "t", df, s"$base/data1", Seq("zone"))
      assertPrunes(1)
      // a second append gives every partition two small files to pack
      Writers.writePartitionedSnapshot(cat, "t", df, s"$base/data2", Seq("zone"))
      assert(zonesByFile == (zones ++ zones).sorted)
      assert(Writers.compact(spark, cat, "t", s"$base/compacted").nonEmpty)
      assert(zonesByFile == zones.sorted)
      assertPrunes(1)
      assert(cat.read(spark, "t").as[Int].collect().sorted.toSeq ==
        (0 until 8).flatMap(v => Seq(v, v)))
    } finally SnapshotCatalog.deleteRecursively(base)
  }

  test("co-bucketed tables join without an exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      Writers.writeBucketed(Tables.orders(spark, sfDir), "orders_b", 8, "o_orderkey")
      Writers.writeBucketed(
        Tables.lineitem(spark, sfDir).withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b", 8, "o_orderkey")
      val joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should be exchange-free:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, sfDir).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("z-ordered write prunes files on EVERY z dimension; linear layouts cannot") {
    import graft.meta.RangeNum
    val cat = new SnapshotCatalog(tempDir("graft-zcat-").toString)
    val dataDir = tempDir("graft-zdata-").toString
    val l = Tables.lineitem(spark, sfDir)
    val stats = l.agg(
      min(col("l_orderkey")), max(col("l_orderkey")),
      min(col("l_partkey")), max(col("l_partkey"))).head()
    val (okLo, okHi) = (stats.getLong(0), stats.getLong(1))
    val (pkLo, pkHi) = (stats.getLong(2), stats.getLong(3))

    val snap = Writers.writeZOrderedSnapshot(cat, "lz", l, dataDir,
      Seq("l_orderkey", "l_partkey"), nFiles = 16)
    assert(snap.files.size >= 8, s"${snap.files.size} files")
    assert(cat.read(spark, "lz").count() == l.count())

    // a ~6% slice on EITHER dimension must skip most files
    def kept(colName: String, lo: Double, hi: Double): Int =
      cat.planFiles("lz", Seq(RangeNum(colName, lo, hi))).size
    val okSlice = kept("l_orderkey", okLo.toDouble, okLo + (okHi - okLo) * 0.06)
    val pkSlice = kept("l_partkey", pkLo.toDouble, pkLo + (pkHi - pkLo) * 0.06)
    assert(okSlice <= snap.files.size / 2,
      s"orderkey slice kept $okSlice of ${snap.files.size} files")
    assert(pkSlice <= snap.files.size / 2,
      s"partkey slice kept $pkSlice of ${snap.files.size} files")

    // contrast: the same data sorted linearly by orderkey prunes orderkey
    // slices perfectly but partkey slices not at all
    val linDir = tempDir("graft-lindata-").toString
    l.repartitionByRange(16, col("l_orderkey"))
      .write.parquet(s"$linDir/files")
    val linFiles = new java.io.File(s"$linDir/files").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq.sorted
    val linSnap = cat.commit(spark, "llin", linFiles)
    val linPk = cat.planFiles("llin",
      Seq(RangeNum("l_partkey", pkLo.toDouble, pkLo + (pkHi - pkLo) * 0.06))).size
    assert(linPk >= linSnap.files.size - 1,
      s"linear layout unexpectedly pruned partkey ($linPk of ${linSnap.files.size})")
    // pruning is sound: no matching row lives in a skipped file
    val hiKey = okLo + ((okHi - okLo) * 0.06)
    assert(cat.read(spark, "lz", Seq(RangeNum("l_orderkey", okLo.toDouble, hiKey)))
      .filter(col("l_orderkey") >= okLo && col("l_orderkey") <= hiKey).count() ==
      l.filter(col("l_orderkey") >= okLo && col("l_orderkey") <= hiKey).count())

    // z-write onto an existing table APPENDS: prior files survive
    Writers.writeZOrderedSnapshot(cat, "lz", l.limit(100), dataDir,
      Seq("l_orderkey", "l_partkey"), nFiles = 4)
    assert(cat.read(spark, "lz").count() == l.count() + 100)
  }

  test("zorderValue matches an independent driver-side reimplementation") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val rows = Seq.fill(300)((rnd.nextDouble() * 1000, rnd.nextDouble() * 50 - 25))
    val boundsA = Seq.fill(63)(rnd.nextDouble() * 1000).sorted
    val boundsB = Seq.fill(63)(rnd.nextDouble() * 50 - 25).sorted

    def refZ(a: Double, b: Double): Long = {
      def bucket(v: Double, bs: Seq[Double]): Long = bs.count(_ < v).toLong
      val (ia, ib) = (bucket(a, boundsA), bucket(b, boundsB))
      (0 until 6).map { i =>
        (((ia >> i) & 1L) << (i * 2)) + (((ib >> i) & 1L) << (i * 2 + 1))
      }.sum
    }

    val got = rows.toDF("a", "b")
      .withColumn("z", Writers.zorderValue(Seq("a" -> boundsA, "b" -> boundsB)))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) == refZ(r.getDouble(0), r.getDouble(1)),
        s"z mismatch at (${r.getDouble(0)}, ${r.getDouble(1)})")
    }
  }

  test("writeSnapshot commits appends; incremental read sees only new rows") {
    val cat = new SnapshotCatalog(tempDir("graft-cat-").toString)
    val dataDir = tempDir("graft-data-").toString
    val c = Tables.customer(spark, sfDir)

    val s1 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 75), dataDir)
    val s2 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") > 75), dataDir)
    assert(s2.snapshotId == s1.snapshotId + 1)
    assert(cat.read(spark, "cust").count() == c.count()) // append semantics

    val inc = cat.readIncremental(spark, "cust", fromSnapshotId = s1.snapshotId)
    assert(inc.count() == c.filter(col("c_custkey") > 75).count())
    assert(inc.agg(min("c_custkey")).head().getLong(0) > 75)
  }

  test("expireSnapshots drops old manifests but keeps current data readable") {
    val cat = new SnapshotCatalog(tempDir("graft-cat-").toString)
    val dataDir = tempDir("graft-data-").toString
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 50), dataDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") > 50 && col("c_custkey") <= 100), dataDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") > 100), dataDir)

    assert(cat.expireSnapshots("cust", keepLast = 1) == 2)
    assert(cat.snapshots("cust").map(_.snapshotId) == Seq(3L))
    assert(cat.read(spark, "cust").count() == c.count())
    intercept[IllegalArgumentException] {
      cat.readIncremental(spark, "cust", fromSnapshotId = 1L)
    }
  }
}
