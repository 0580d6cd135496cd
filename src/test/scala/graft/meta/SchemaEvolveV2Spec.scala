package graft.meta

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import graft.sinks.Writers
import org.apache.spark.sql.functions._

/** Column rename + drop as metadata-only commits (SURVEY §2 S48): the
  * Iceberg field-id mechanism re-expressed as per-file name mappings.
  * Old files are scanned under their physical names and aliased back;
  * stats/blooms re-key so pruning survives the rename; dropped bytes
  * can never resurrect under a re-added name.
  */
class SchemaEvolveV2Spec extends SparkSpec {

  test("rename is metadata-only; reads map old and new files; stats re-key for pruning") {
    import spark.implicits._
    val dir = tempDir("graft-sev2-").toString
    val cat = new SnapshotCatalog(dir)
    val c = Tables.customer(spark, sfDir)
    Writers.writeRangedSnapshot(cat, "cust", c.filter(col("c_custkey") <= 75),
      dir, "c_custkey", 3)
    val before = cat.currentSnapshot("cust").get

    val renamed = cat.renameColumn("cust", "c_acctbal", "balance")
    // zero file churn, schema renamed in place (order kept)
    assert(renamed.files.map(_.path).toSet == before.files.map(_.path).toSet)
    assert(renamed.schema.fieldNames.toSeq ==
      before.schema.fieldNames.toSeq.map(n => if (n == "c_acctbal") "balance" else n))
    // stats re-keyed: pruning on the NEW name still skips files
    assert(renamed.files.forall(f => f.stats.contains("balance") && !f.stats.contains("c_acctbal")))
    val pruned = cat.planFiles("cust", Seq(RangeNum("c_custkey", 1, 10)))
    assert(pruned.size < renamed.files.size)

    // append new-era files (physical name = balance), read maps both eras
    Writers.writeSnapshot(cat, "cust",
      c.filter(col("c_custkey") > 75).withColumnRenamed("c_acctbal", "balance"),
      dir)
    val got = cat.read(spark, "cust").select(col("c_custkey"), col("balance"))
    val want = c.select(col("c_custkey"), col("c_acctbal").as("balance"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)

    // time travel BEFORE the rename serves the old name
    val old = cat.read(spark, "cust", snapshotId = Some(before.snapshotId))
    assert(old.columns.contains("c_acctbal") && !old.columns.contains("balance"))
  }

  test("rename chain (a->b->c) and rename of an evolved-in column") {
    import spark.implicits._
    val dir = tempDir("graft-sev2c-").toString
    val cat = new SnapshotCatalog(dir)
    Writers.writeSnapshot(cat, "t", Seq((1L, 10.0), (2L, 20.0)).toDF("id", "a").coalesce(1), dir)
    cat.renameColumn("t", "a", "b")
    cat.renameColumn("t", "b", "c")
    // the file's single mapping goes physical a -> logical c
    val f = cat.currentSnapshot("t").get.files.head
    assert(f.renames == Map("a" -> "c"))
    assert(cat.read(spark, "t").select(col("id"), col("c")).as[(Long, Double)]
      .collect().sorted.toSeq == Seq((1L, 10.0), (2L, 20.0)))
    // a fresh column named "a" on new files must NOT read old physical a
    Writers.writeSnapshot(cat, "t",
      Seq((3L, 30.0, 99.0)).toDF("id", "c", "a").coalesce(1), dir)
    val rows = cat.read(spark, "t").select(col("id"), col("c"), col("a"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), Option(r.get(2)))).sortBy(_._1).toSeq
    assert(rows == Seq((1L, 10.0, None), (2L, 20.0, None), (3L, 30.0, Some(99.0))))
  }

  test("rename composes with MoR position deletes and COW rewrites") {
    import spark.implicits._
    val dir = tempDir("graft-sev2m-").toString
    val cat = new SnapshotCatalog(dir)
    Writers.writeSnapshot(cat, "t",
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v").coalesce(1), dir)
    // mask id=2, then rename v -> val: the mask (position-based) carries
    Writers.deleteWhereMoR(spark, cat, "t", col("id") === 2L, Nil, dir)
    cat.renameColumn("t", "v", "val")
    assert(cat.read(spark, "t").select(col("id"), col("val")).as[(Long, Long)]
      .collect().sorted.toSeq == Seq((1L, 10L), (3L, 30L)))
    // a COW delete after the rename rewrites into NEW-name physical files
    Writers.deleteWhere(spark, cat, "t", d => d.filter(col("id") =!= 3L), Nil, dir)
    val cur = cat.currentSnapshot("t").get
    assert(cur.files.forall(_.renames.isEmpty)) // rewrite cleaned the mapping
    assert(cat.read(spark, "t").select(col("id"), col("val")).as[(Long, Long)]
      .collect().toSeq == Seq((1L, 10L)))
  }

  test("drop hides the column; re-added name reads null from pre-drop files") {
    import spark.implicits._
    val dir = tempDir("graft-sev2d-").toString
    val cat = new SnapshotCatalog(dir)
    Writers.writeSnapshot(cat, "t",
      Seq((1L, "secret1", 5.0), (2L, "secret2", 6.0)).toDF("id", "pii", "x").coalesce(1), dir)
    cat.dropColumn("t", "pii")
    assert(cat.schema("t").get.fieldNames.toSeq == Seq("id", "x"))
    assert(!cat.read(spark, "t").columns.contains("pii"))
    // re-add a column of the same name via an append: old files must
    // yield NULL, never the dropped bytes
    Writers.writeSnapshot(cat, "t",
      Seq((3L, 7.0, "fresh")).toDF("id", "x", "pii").coalesce(1), dir)
    val rows = cat.read(spark, "t").select(col("id"), col("pii"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    assert(rows == Seq((1L, None), (2L, None), (3L, Some("fresh"))))
  }

  test("feeds: appends across a rename render in the end schema; pre-rename rewrites refuse") {
    import spark.implicits._
    val dir = tempDir("graft-sev2f-").toString
    val cat = new SnapshotCatalog(dir)
    val s1 = Writers.writeSnapshot(cat, "t",
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1), dir)
    Writers.writeSnapshot(cat, "t", Seq((3L, 30L)).toDF("id", "v").coalesce(1), dir)
    cat.renameColumn("t", "v", "val")
    val s4 = Writers.writeSnapshot(cat, "t",
      Seq((4L, 40L)).toDF("id", "val").coalesce(1), dir)
    // append-only range spanning the rename: rows arrive in END names
    val inc = cat.readIncremental(spark, "t", s1.snapshotId, Some(s4.snapshotId))
    assert(inc.select(col("id"), col("val")).as[(Long, Long)].collect().sorted.toSeq ==
      Seq((3L, 30L), (4L, 40L)))
    val feed = cat.changesBetween(spark, "t", s1.snapshotId, Some(s4.snapshotId))
    assert(feed.filter(col("_change_type") === "insert")
      .select(col("id"), col("val")).as[(Long, Long)].collect().sorted.toSeq ==
      Seq((3L, 30L), (4L, 40L)))

    // now a COW delete (row-level parts) BEFORE a second rename: refuse
    Writers.deleteWhere(spark, cat, "t", d => d.filter(col("id") =!= 1L), Nil, dir)
    cat.renameColumn("t", "val", "v2")
    assertThrows[UnsupportedOperationException] {
      cat.changesBetween(spark, "t", s1.snapshotId).collect()
    }
    // split at the rename works: both sub-ranges serve exact feeds
    val mid = cat.snapshots("t")
      .filter(_.props.get(SnapshotCatalog.RenameProp).contains("val->v2"))
      .head.snapshotId
    assert(cat.changesBetween(spark, "t", s1.snapshotId, Some(mid - 1))
      .filter(col("_change_type") === "delete").count() == 1) // id=1 out
    assert(cat.changesBetween(spark, "t", mid, None).count() == 0)
  }

  test("refusals: equality-delete keys, duplicate names, last column") {
    import spark.implicits._
    val dir = tempDir("graft-sev2r-").toString
    val cat = new SnapshotCatalog(dir)
    Writers.writeSnapshot(cat, "t", Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1), dir)
    Writers.deleteByKeys(spark, cat, "t", Seq(1L).toDF("id"), Seq("id"), dir)
    assert(cat.currentSnapshot("t").get.deleteFiles.nonEmpty)
    assertThrows[IllegalArgumentException] { cat.renameColumn("t", "id", "id2") }
    assertThrows[IllegalArgumentException] { cat.dropColumn("t", "id") }
    assertThrows[IllegalArgumentException] { cat.renameColumn("t", "v", "id") }
    assertThrows[IllegalArgumentException] { cat.renameColumn("t", "nope", "x") }
  }

  test("type widening: metadata-only, old files read widened, pruning stays exact") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-sevw-").toString
    val cat = new SnapshotCatalog(dir)
    // era 1: int ids, float scores, ranged so pruning has file bounds
    val era1 = (1 to 60).map(i => (i, i * 1.5f)).toDF("id", "score")
    Writers.writeRangedSnapshot(cat, "w", era1, dir, "id", 3)
    val before = cat.currentSnapshot("w").get

    val widened = cat.widenColumn("w", "id", LongType)
    cat.widenColumn("w", "score", DoubleType)
    // zero file churn; schema widened in place
    assert(widened.files.map(_.path).toSet == before.files.map(_.path).toSet)
    val sch = cat.schema("w").get
    assert(sch("id").dataType == LongType && sch("score").dataType == DoubleType)

    // era 2 appends under the widened types — values past int range
    val era2 = Seq((5000000000L, 2.5d), (5000000001L, 3.5d)).toDF("id", "score")
    Writers.writeSnapshot(cat, "w", era2.coalesce(1), dir)
    val got = cat.read(spark, "w")
    assert(got.schema("id").dataType == LongType && got.schema("score").dataType == DoubleType)
    val want = (1 to 60).map(i => (i.toLong, (i * 1.5f).toDouble)) ++
      Seq((5000000000L, 2.5d), (5000000001L, 3.5d))
    assert(got.as[(Long, Double)].collect().toSet == want.toSet)

    // manifest pruning on the widened column stays exact across eras
    val prunedFiles = cat.planFiles("w", Seq(RangeNum("id", 1, 5)))
    assert(prunedFiles.size < cat.currentSnapshot("w").get.files.size)
    val prunedRead = cat.read(spark, "w", Seq(RangeNum("id", 1, 5)))
      .filter(col("id") <= 5)
    assert(prunedRead.count() == 5)

    // time travel BEFORE the widen serves the narrow era exactly
    val old = cat.read(spark, "w", snapshotId = Some(before.snapshotId))
    assert(old.schema("id").dataType == IntegerType)
    assert(old.schema("score").dataType == FloatType)
    assert(old.count() == 60)

    // refusals: narrowing, cross-family, no-op
    assertThrows[IllegalArgumentException] { cat.widenColumn("w", "id", IntegerType) }
    assertThrows[IllegalArgumentException] { cat.widenColumn("w", "score", LongType) }
    assertThrows[IllegalArgumentException] { cat.widenColumn("w", "id", LongType) }
    assertThrows[IllegalArgumentException] { cat.widenColumn("w", "nope", LongType) }

    // an old producer keeps appending the NARROW type: the table keeps
    // its wide schema, the new files record their stored type, and the
    // scan casts them up — never a schema narrowing
    Writers.writeSnapshot(cat, "w",
      Seq((81, 81 * 1.5f)).toDF("id", "score").coalesce(1), dir)
    assert(cat.schema("w").get("id").dataType == LongType)
    assert(cat.currentSnapshot("w").get.files.exists(_.physTypes.get("id").contains("int")))
    assert(cat.read(spark, "w").filter(col("id") === 81L).count() == 1)
    assert(cat.read(spark, "w").count() == 63)
    // widening by APPEND refuses — evolution is an explicit DDL decision
    Writers.writeSnapshot(cat, "nw", (1 to 3).map(i => (i, s"x$i")).toDF("k", "s").coalesce(1), dir)
    val wideErr = intercept[IllegalArgumentException] {
      Writers.writeSnapshot(cat, "nw", Seq((9L, "y")).toDF("k", "s").coalesce(1), dir)
    }
    assert(wideErr.getMessage.contains("widen the table first"))
    // cross-family appends refuse instead of silently re-typing history
    val xErr = intercept[IllegalArgumentException] {
      Writers.writeSnapshot(cat, "nw", Seq(("oops", "y")).toDF("k", "s").coalesce(1), dir)
    }
    assert(xErr.getMessage.contains("never an additive evolution"))
  }

  test("widening composes with rename, MoR deletes, rewrites and the change feed") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-sevwc-").toString
    val cat = new SnapshotCatalog(dir)
    val t0 = Writers.writeSnapshot(cat, "t",
      (1 to 20).map(i => (i, i * 10)).toDF("id", "v").coalesce(1), dir)
    cat.widenColumn("t", "v", LongType)
    // widen THEN rename: physTypes stays keyed by the physical name,
    // so the renamed read still finds the stored type and casts
    cat.renameColumn("t", "v", "value")
    val got = cat.read(spark, "t")
    assert(got.schema("value").dataType == LongType)
    assert(got.as[(Int, Long)].collect().toSet ==
      (1 to 20).map(i => (i, i * 10L)).toSet)

    // MoR position delete on the mixed-era table: mask applies across the cast
    Writers.deleteWhereMoR(spark, cat, "t", col("id") <= 5, Nil, dir)
    assert(cat.read(spark, "t").count() == 15)
    // a rewrite (delete materialization) lands files in the NEW era:
    // fresh manifest entries carry no physTypes
    Writers.materializeDeletes(spark, cat, "t", dir)
    val head = cat.currentSnapshot("t").get
    assert(head.files.exists(_.physTypes.isEmpty))
    assert(cat.read(spark, "t").count() == 15)

    // change feed spanning the widen renders in the end schema
    val feed = cat.changesBetween(spark, "t", t0.snapshotId, Some(head.snapshotId))
    assert(feed.schema("value").dataType == LongType)
    val dels = feed.filter(col("_change_type") === "delete")
    assert(dels.count() == 5 && dels.select("id").as[Int].collect().toSet == (1 to 5).toSet)

    // decimal precision growth is a widen; scale change is not
    Writers.writeSnapshot(cat, "d",
      Seq((1, BigDecimal("12.34"))).toDF("id", "amt")
        .select(col("id"), col("amt").cast(DecimalType(10, 2)).as("amt")).coalesce(1), dir)
    cat.widenColumn("d", "amt", DecimalType(14, 2))
    assert(cat.read(spark, "d").schema("amt").dataType == DecimalType(14, 2))
    assert(cat.read(spark, "d").select("amt").as[BigDecimal].head() == BigDecimal("12.34"))
    assertThrows[IllegalArgumentException] { cat.widenColumn("d", "amt", DecimalType(16, 4)) }
  }
}
