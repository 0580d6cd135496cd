package graft.sinks

import graft.{SparkSpec, Tables}
import graft.meta.SnapshotCatalog
import org.apache.spark.sql.functions._

/** MERGE INTO (keyed upsert) and small-file compaction, plus their CDC
  * contracts: a merge's net effect is exactly (old versions out, source
  * rows in); a compaction is invisible to the change feed and never eats
  * in-range appends from incremental reads. */
class MergeCompactSpec extends SparkSpec {

  test("mergeInto updates matched keys, inserts new keys, leaves out-of-range files untouched") {
    val cat = new SnapshotCatalog(tempDir("graft-merge-").toString)
    val dataDir = tempDir("graft-merge-data-").toString
    val evens = Tables.customer(spark, sfDir).filter(col("c_custkey") % 2 === 0)
    Writers.writeSnapshot(cat, "cust", evens.filter(col("c_custkey") <= 75), dataDir)
    Writers.writeSnapshot(cat, "cust", evens.filter(col("c_custkey") > 75), dataDir)
    val before = cat.currentSnapshot("cust").get
    val highFile = before.files.maxBy(_.stats("c_custkey").minD.get)

    // source keys all lie in [10, 21]: updates = even keys 10..20 with a
    // sentinel balance; inserts = odd keys 11..21 (absent from the
    // evens-only target). The high file's range is disjoint -> untouched.
    val updates = evens.filter(col("c_custkey").between(10, 20))
      .withColumn("c_acctbal", lit(-999.0))
    val inserts = evens.filter(col("c_custkey").between(10, 20))
      .withColumn("c_custkey", col("c_custkey") + 1)
    val source = updates.unionByName(inserts)
    val after = Writers.mergeInto(spark, cat, "cust", source, Seq("c_custkey"), dataDir)

    assert(after.props(SnapshotCatalog.OperationProp) == SnapshotCatalog.OpMerge)
    assert(after.props(SnapshotCatalog.InsertFilesProp).nonEmpty)
    // untouched file survives with identical FileMeta (not re-scanned)
    assert(after.files.exists(f => f.path == highFile.path && f == highFile))

    val result = cat.read(spark, "cust")
    assert(result.count() == evens.count() + inserts.count())
    // matched keys carry the source version
    assert(result.filter(col("c_custkey").between(10, 20) && col("c_custkey") % 2 === 0)
      .filter(col("c_acctbal") =!= -999.0).count() == 0)
    // inserted keys present exactly once
    val odd = result.filter(col("c_custkey") % 2 === 1)
    assert(odd.count() == inserts.count())
    // unmatched rows untouched
    assert(result.filter(!col("c_custkey").between(10, 21))
      .exceptAll(evens.filter(!col("c_custkey").between(10, 21))).count() == 0)
    // time travel still sees the pre-merge state
    assert(cat.read(spark, "cust", snapshotId = Some(before.snapshotId)).count() == evens.count())
  }

  test("mergeInto null-key rows match nothing — the ANSI MERGE contract, pinned") {
    import spark.implicits._
    // MERGE matching is null-unsafe BY DESIGN (ON t.k = s.k never holds
    // for null — the same contract Delta and Iceberg MERGE ship): a
    // null-key target row always survives, a null-key source row always
    // inserts. Pinned so the behavior reads as a choice, not an
    // accident; machinery whose contract IS null-safe grouping (the MV
    // fold) routes null-group churn around MERGE instead.
    val cat = new SnapshotCatalog(tempDir("graft-merge-nk-").toString)
    val dataDir = tempDir("graft-merge-nk-data-").toString
    Writers.writeSnapshot(cat, "nkm",
      Seq((Some(1L), "a"), (Option.empty[Long], "x")).toDF("k", "v"), dataDir)
    Writers.mergeInto(spark, cat, "nkm",
      Seq((Some(1L), "A"), (Option.empty[Long], "y")).toDF("k", "v"),
      Seq("k"), dataDir)
    val got = cat.read(spark, "nkm").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1)))
      .toSeq.sortBy(_.toString)
    assert(got == Seq((None, "x"), (None, "y"), (Some(1L), "A")).sortBy(_.toString),
      s"ANSI null-unsafe MERGE contract violated: $got")
  }

  test("incremental read across a merge returns exactly the source rows") {
    val cat = new SnapshotCatalog(tempDir("graft-minc-").toString)
    val dataDir = tempDir("graft-minc-data-").toString
    val c = Tables.customer(spark, sfDir)
    val s1 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 100), dataDir)
    val source = c.filter(col("c_custkey").between(40, 60))
      .withColumn("c_acctbal", round(col("c_acctbal") + 1.0, 2))
    val s2 = Writers.mergeInto(spark, cat, "cust", source, Seq("c_custkey"), dataDir)

    val inc = cat.readIncremental(spark, "cust", s1.snapshotId, Some(s2.snapshotId))
    assert(inc.count() == source.count())
    assert(inc.exceptAll(source.select(inc.columns.map(col).toSeq: _*)).count() == 0)
  }

  test("change feed across a merge: old versions out, source rows in, no-op updates silent") {
    val cat = new SnapshotCatalog(tempDir("graft-mcdc-").toString)
    val dataDir = tempDir("graft-mcdc-data-").toString
    val c = Tables.customer(spark, sfDir)
    val base = c.filter(col("c_custkey") <= 100)
    val s1 = Writers.writeSnapshot(cat, "cust", base, dataDir)
    // keys 40..49 genuinely change; key 50 is a no-op (identical row);
    // keys 200.. are brand-new
    val changed = c.filter(col("c_custkey").between(40, 49))
      .withColumn("c_acctbal", lit(-1.0))
    val noop = c.filter(col("c_custkey") === 50)
    val fresh = c.filter(col("c_custkey").between(40, 49))
      .withColumn("c_custkey", col("c_custkey") + 200)
    val source = changed.unionByName(noop).unionByName(fresh)
    val s2 = Writers.mergeInto(spark, cat, "cust", source, Seq("c_custkey"), dataDir)

    val ch = cat.changesBetween(spark, "cust", s1.snapshotId, Some(s2.snapshotId))
    val dels = ch.filter(col("_change_type") === "delete").drop("_change_type")
    val ins = ch.filter(col("_change_type") === "insert").drop("_change_type")
    // deletes: exactly the 10 old versions of the genuinely-changed keys
    assert(dels.count() == 10)
    assert(dels.exceptAll(c.filter(col("c_custkey").between(40, 49))
      .select(dels.columns.map(col).toSeq: _*)).count() == 0)
    // inserts: the 10 new versions + 10 fresh keys; the no-op cancelled
    assert(ins.count() == 20)
    assert(ins.filter(col("c_custkey") === 50).count() == 0)
    // applying the feed to the from-state reproduces the to-state
    val applied = base.select(ins.columns.map(col).toSeq: _*)
      .exceptAll(dels).unionByName(ins)
    val toState = cat.read(spark, "cust", snapshotId = Some(s2.snapshotId))
      .select(ins.columns.map(col).toSeq: _*)
    assert(applied.exceptAll(toState).count() == 0)
    assert(toState.exceptAll(applied).count() == 0)
  }

  test("compaction bin-packs small files, preserves rows, and is invisible to the change feed") {
    val cat = new SnapshotCatalog(tempDir("graft-cpt-").toString)
    val dataDir = tempDir("graft-cpt-data-").toString
    val c = Tables.customer(spark, sfDir)
    (0 until 5).foreach { i =>
      Writers.writeSnapshot(cat, "cust",
        c.filter(col("c_custkey") % 5 === i).coalesce(1), dataDir)
    }
    val pre = cat.currentSnapshot("cust").get
    assert(pre.files.size == 5)

    val post = Writers.compact(spark, cat, "cust", dataDir).get
    assert(post.props(SnapshotCatalog.OperationProp) == SnapshotCatalog.OpCompact)
    assert(post.files.size == 1)
    val result = cat.read(spark, "cust")
    assert(result.count() == c.count())
    assert(result.exceptAll(c).count() == 0)

    // all inputs pre-existed the range -> the feed is EMPTY (a feed that
    // diffed paths would emit every row as delete+insert here)
    val ch = cat.changesBetween(spark, "cust", pre.snapshotId, Some(post.snapshotId))
    assert(ch.count() == 0)
  }

  test("model property: random upsert batches through mergeInto equal a Map-based model") {
    import spark.implicits._
    val cat = new SnapshotCatalog(tempDir("graft-mmod-").toString)
    val dataDir = tempDir("graft-mmod-data-").toString
    val rnd = new scala.util.Random(42)
    var model = (0L until 100L).map(k => k -> s"v0-$k").toMap
    Writers.writeRangedSnapshot(cat, "t",
      model.toSeq.toDF("k", "v"), dataDir, "k", 4)

    (1 to 4).foreach { gen =>
      // each batch: ~20 updates of existing keys + ~10 brand-new keys
      val updates = rnd.shuffle(model.keys.toSeq).take(20).map(k => k -> s"v$gen-$k")
      val maxK = model.keys.max
      val inserts = (1L to 10L).map(i => (maxK + i) -> s"n$gen-${maxK + i}")
      val batch = updates ++ inserts
      model = model ++ batch
      Writers.mergeInto(spark, cat, "t", batch.toDF("k", "v"), Seq("k"), dataDir)

      val got = cat.read(spark, "t").as[(Long, String)].collect().toMap
      assert(got == model, s"diverged at batch $gen")
    }
    // after the batches, compaction must not disturb the state either
    Writers.compact(spark, cat, "t", dataDir)
    assert(cat.read(spark, "t").as[(Long, String)].collect().toMap == model)
  }

  test("compaction never eats in-range appends from incremental reads (pure and mixed bins)") {
    val cat = new SnapshotCatalog(tempDir("graft-cinc-").toString)
    val dataDir = tempDir("graft-cinc-data-").toString
    val c = Tables.customer(spark, sfDir)
    // s1: the pre-existing base
    val s1 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 50), dataDir)
    // in-range appends (streaming micro-batch pattern)
    Writers.writeSnapshot(cat, "cust",
      c.filter(col("c_custkey").between(51, 80)).coalesce(1), dataDir)
    Writers.writeSnapshot(cat, "cust",
      c.filter(col("c_custkey").between(81, 100)).coalesce(1), dataDir)
    // the bin mixes the pre-existing base with both in-range appends
    val post = Writers.compact(spark, cat, "cust", dataDir).get
    assert(post.files.size == 1)

    val inc = cat.readIncremental(spark, "cust", s1.snapshotId, Some(post.snapshotId))
    val expected = c.filter(col("c_custkey").between(51, 100))
    assert(inc.count() == expected.count())
    assert(inc.exceptAll(expected).count() == 0)

    // and the change feed across the same range: inserts = the appends,
    // no deletes (compaction contributes nothing)
    val ch = cat.changesBetween(spark, "cust", s1.snapshotId, Some(post.snapshotId))
    assert(ch.filter(col("_change_type") === "delete").count() == 0)
    val ins = ch.filter(col("_change_type") === "insert").drop("_change_type")
    assert(ins.count() == expected.count())
    assert(ins.exceptAll(expected).count() == 0)
  }
}
