package graft.sinks

import graft.{SparkSpec, Tables}
import graft.meta.{RangeNum, SnapshotCatalog}
import org.apache.spark.sql.functions._

class DeleteEvolveSpec extends SparkSpec {

  test("copy-on-write delete rewrites only affected files; untouched metadata reused") {
    val cat = new SnapshotCatalog(tempDir("graft-cow-").toString)
    val dataDir = tempDir("graft-cow-data-").toString
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 75), dataDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") > 75), dataDir)
    val before = cat.currentSnapshot("cust").get
    val lowFile = before.files.minBy(_.stats("c_custkey").minD.get)

    // delete custkeys 10..20: only the low file's range overlaps
    val after = Writers.deleteWhere(spark, cat, "cust",
      rowPredicate = df => df.filter(!(col("c_custkey") >= 10 && col("c_custkey") <= 20)),
      pruneFilters = Seq(RangeNum("c_custkey", 10, 20)),
      dataDir = dataDir)

    assert(cat.read(spark, "cust")
      .filter(col("c_custkey") >= 10 && col("c_custkey") <= 20).count() == 0)
    assert(cat.read(spark, "cust").count() == c.count() - 11)
    // high file untouched: same path AND same FileMeta carried forward
    val highBefore = before.files.find(_.path != lowFile.path).get
    assert(after.files.exists(f => f.path == highBefore.path && f == highBefore))
    assert(!after.files.exists(_.path == lowFile.path))
    // time travel still sees the pre-delete state
    assert(cat.read(spark, "cust", snapshotId = Some(before.snapshotId)).count() == c.count())
  }

  test("incremental read is CDC-correct across a COW delete: no resurrected rows") {
    val cat = new SnapshotCatalog(tempDir("graft-cdc-").toString)
    val dataDir = tempDir("graft-cdc-data-").toString
    val c = Tables.customer(spark, sfDir)

    val s1 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 50), dataDir)
    val s2 = Writers.deleteWhere(spark, cat, "cust",
      rowPredicate = df => df.filter(!(col("c_custkey") >= 10 && col("c_custkey") <= 20)),
      pruneFilters = Seq(RangeNum("c_custkey", 10, 20)),
      dataDir = dataDir)
    val s3 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") > 100), dataDir)

    // operation kind + rewrite lineage are durably in snapshot props
    assert(s2.props.get(graft.meta.SnapshotCatalog.OperationProp)
      .contains(graft.meta.SnapshotCatalog.OpDelete))
    assert(s2.props(graft.meta.SnapshotCatalog.RewrittenFromProp).nonEmpty)
    assert(s3.props.get(graft.meta.SnapshotCatalog.OperationProp)
      .contains(graft.meta.SnapshotCatalog.OpAppend))

    // s1 -> s2 is a pure delete: the rewritten file's surviving rows are
    // NOT new data — a path diff would resurrect all of them here
    assert(cat.readIncremental(spark, "cust", s1.snapshotId, Some(s2.snapshotId)).count() == 0)

    // s2 -> s3 is a pure append: exactly the new rows
    val expected = c.filter(col("c_custkey") > 100).count()
    assert(cat.readIncremental(spark, "cust", s2.snapshotId, Some(s3.snapshotId))
      .count() == expected)

    // s1 -> s3 spans both: still only the true inserts
    val inc = cat.readIncremental(spark, "cust", s1.snapshotId, Some(s3.snapshotId))
    assert(inc.count() == expected)
    assert(inc.agg(min(col("c_custkey"))).head().getLong(0) > 100)

    // full row-level change feed: deletes reconstructed from lineage
    val ch12 = cat.changesBetween(spark, "cust", s1.snapshotId, Some(s2.snapshotId))
    assert(ch12.filter(col("_change_type") === "insert").count() == 0)
    val deleted = ch12.filter(col("_change_type") === "delete")
    assert(deleted.count() == 11)
    assert(deleted.agg(min("c_custkey"), max("c_custkey")).head() ==
      org.apache.spark.sql.Row(10L, 20L))

    val ch13 = cat.changesBetween(spark, "cust", s1.snapshotId, Some(s3.snapshotId))
    assert(ch13.filter(col("_change_type") === "insert").count() == expected)
    assert(ch13.filter(col("_change_type") === "delete").count() == 11)
  }

  test("change feed nets out in-range appends partially deleted in-range (no phantom events)") {
    val cat = new SnapshotCatalog(tempDir("graft-net-").toString)
    val dataDir = tempDir("graft-net-data-").toString
    val c = Tables.customer(spark, sfDir)
    val s1 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 50), dataDir)
    Writers.writeSnapshot(cat, "cust",
      c.filter(col("c_custkey") > 50 && col("c_custkey") <= 100), dataDir)
    val s3 = Writers.deleteWhere(spark, cat, "cust",
      rowPredicate = df => df.filter(!(col("c_custkey") >= 60 && col("c_custkey") <= 70)),
      pruneFilters = Seq(RangeNum("c_custkey", 60, 70)),
      dataDir = dataDir)

    // net s1 -> s3: the appended file was rewritten IN-RANGE, so its
    // surviving rows are still inserts and nothing is a delete — a feed
    // that excluded rewrite outputs would lose the 39 survivors, one
    // that emitted the 11 removed rows would delete rows never in s1
    val ch = cat.changesBetween(spark, "cust", s1.snapshotId, Some(s3.snapshotId))
    assert(ch.filter(col("_change_type") === "delete").count() == 0)
    val ins = ch.filter(col("_change_type") === "insert")
    assert(ins.count() == 39)
    assert(ins.agg(min("c_custkey"), max("c_custkey")).head() ==
      org.apache.spark.sql.Row(51L, 100L))
    assert(ins.filter(col("c_custkey") >= 60 && col("c_custkey") <= 70).count() == 0)
  }

  test("schema evolution: appended column surfaces, old files read as null") {
    val cat = new SnapshotCatalog(tempDir("graft-evo-").toString)
    val dataDir = tempDir("graft-evo-data-").toString
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 75), dataDir)
    val v2 = c.filter(col("c_custkey") > 75)
      .withColumn("c_tier", when(col("c_acctbal") > 5000, "gold").otherwise("std"))
    Writers.writeSnapshot(cat, "cust", v2, dataDir)

    val snap2 = cat.currentSnapshot("cust").get
    assert(snap2.schema.fieldNames.contains("c_tier"))
    val all = cat.read(spark, "cust")
    assert(all.count() == c.count())
    // old-file rows: c_tier null; new-file rows: populated
    assert(all.filter(col("c_custkey") <= 75 && col("c_tier").isNotNull).count() == 0)
    assert(all.filter(col("c_custkey") > 75 && col("c_tier").isNull).count() == 0)
    // snapshot 1 keeps its own (old) schema
    assert(!cat.snapshotById("cust", 1L).get.schema.fieldNames.contains("c_tier"))
  }
}
