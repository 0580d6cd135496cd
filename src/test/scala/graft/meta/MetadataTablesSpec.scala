package graft.meta

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import graft.sinks.Writers
import org.apache.spark.sql.functions._

/** Iceberg `$snapshots` / `$files` metadata tables: catalog state as
  * queryable DataFrames. */
class MetadataTablesSpec extends SparkSpec {

  test("snapshotsDf: one row per snapshot with operation lineage") {
    val base = tempDir("graft-metatbl-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val n = Tables.nation(spark, sfDir)
    Writers.writeSnapshot(cat, "nation", n, s"$base/data")
    Writers.writeSnapshot(cat, "nation", n.limit(5), s"$base/data")
    Writers.deleteWhere(spark, cat, "nation",
      df => df.filter(col("n_nationkey") =!= 0), Nil, s"$base/data")

    val df = cat.snapshotsDf(spark, "nation")
    val rows = df.orderBy(col("snapshot_id")).collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[String]("operation")).toSeq == Seq("append", "append", "delete"))
    // parent chain is dense
    assert(rows.map(_.getAs[Long]("parent_id")).toSeq == Seq(-1L, 1L, 2L))
    // row counts reflect the operations: 25, +5 dup, then both copies of
    // key 0 deleted
    assert(rows.map(_.getAs[Long]("total_rows")).toSeq == Seq(25L, 30L, 28L))
    // it is a real DataFrame: aggregate over it
    val appends = df.filter(col("operation") === "append").count()
    assert(appends == 2)
  }

  test("filesDf: one row per manifest file incl. partition values and stat columns") {
    val base = tempDir("graft-metatbl2-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    Writers.writePartitionedSnapshot(cat, "cust", c, s"$base/data", Seq("c_mktsegment"))

    val df = cat.filesDf(spark, "cust")
    val rows = df.collect()
    assert(rows.length == cat.currentSnapshot("cust").get.files.size)
    // partition values surface as a queryable map column
    val segs = df.select(element_at(col("partition_values"), "c_mktsegment").as("seg"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(segs.contains("BUILDING") && segs.size >= 3)
    // stats columns recorded for data columns (partition col is path-only)
    assert(rows.forall(_.getAs[Seq[String]]("stat_columns").contains("c_acctbal")))
    // sizes and row counts are live manifest numbers
    val totRows = df.agg(sum(col("row_count"))).collect()(0).getLong(0)
    assert(totRows == c.count())
  }

  test("deleteFilesDf: one row per MoR delete file; tableStats counts masked rows") {
    import spark.implicits._
    val base = tempDir("graft-metatbl3-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 50), s"$base/data")
    assert(cat.deleteFilesDf(spark, "cust").isEmpty)
    Writers.deleteWhereMoR(spark, cat, "cust", col("c_custkey") <= 5, Nil, s"$base/data")
    Writers.deleteByKeys(spark, cat, "cust",
      Seq(9L, 10L).toDF("c_custkey"), Seq("c_custkey"), s"$base/data")

    val df = cat.deleteFilesDf(spark, "cust")
    val byKind = df.select(col("kind"), col("entry_count")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // custkeys start at 0, so <= 5 masks 6 rows
    assert(byKind == Map("position" -> 6L, "equality" -> 2L))
    assert(df.filter(col("kind") === "equality")
      .select(col("equality_columns")).collect()
      .head.getSeq[String](0) == Seq("c_custkey"))

    val stats = cat.tableStats("cust")
    assert(stats("delete_file_count") == 2)
    assert(stats("masked_delete_rows") == 8L)

    // SQL surface: t__delete_files rides registerMetadata
    val engine = new graft.sql.QueryEngine(spark, sfDir)
    engine.registerMetadata(cat, "cust")
    val n = engine.sql(
      "SELECT SUM(entry_count) AS n FROM cust__delete_files").collect()(0).getAs[Long]("n")
    assert(n == 8L)
  }

  test("tables() lists exactly the committed tables, sorted") {
    val base = tempDir("graft-lstbl-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    assert(cat.tables().isEmpty)
    val n = Tables.nation(spark, sfDir)
    Writers.writeSnapshot(cat, "nation", n, s"$base/data")
    Writers.writeSnapshot(cat, "beta", n.limit(3), s"$base/data")
    // a staged-only table (no published snapshot) is NOT listed
    graft.sinks.Writers.stageAppendSnapshot(cat, "pending", n.limit(2), s"$base/data")
    assert(cat.tables() == Seq("beta", "nation"))
  }

  test("dropTable removes all metadata; the name is immediately reusable") {
    val base = tempDir("graft-drop-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val n = Tables.nation(spark, sfDir)
    Writers.writeSnapshot(cat, "nation", n, s"$base/data")
    Writers.writeSnapshot(cat, "nation", n.limit(5), s"$base/data")
    cat.tag("nation", "keep", 1L)
    assert(cat.tables() == Seq("nation"))

    assert(cat.dropTable("nation"))
    assert(cat.tables().isEmpty)
    assert(cat.currentSnapshot("nation").isEmpty)
    assert(!cat.dropTable("nation"), "second drop reports nothing to do")

    // re-create under the same name: history restarts from snapshot 1
    val fresh = Writers.writeSnapshot(cat, "nation", n.limit(3), s"$base/data")
    assert(fresh.snapshotId == 1L)
    assert(cat.read(spark, "nation").count() == 3)
    assert(cat.tags("nation").isEmpty)
  }

  test("partitionsDf: per-partition rollup reconciles with data; deletes charged") {
    import spark.implicits._
    val base = tempDir("graft-metapart-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val n = Tables.nation(spark, sfDir).withColumn("p_rk", col("n_regionkey"))
    Writers.writePartitionedSnapshot(cat, "nation", n, s"$base/c1", Seq("p_rk"))
    // MoR-delete two rows in region 0: charged to that partition's files
    Writers.deleteWhereMoR(spark, cat, "nation",
      col("n_nationkey").isin(0L, 5L), Nil, s"$base/cat")

    val parts = cat.partitionsDf(spark, "nation").collect()
      .map(r => r.getAs[Map[String, String]]("partition_values")("p_rk") ->
        ((r.getAs[Long]("n_files"), r.getAs[Long]("total_rows"),
          r.getAs[Long]("delete_entry_count")))).toMap
    val want = Tables.nation(spark, sfDir).groupBy(col("n_regionkey"))
      .agg(count(lit(1))).collect()
      .map(r => r.getAs[Number](0).longValue.toString -> r.getAs[Number](1).longValue).toMap
    assert(parts.keySet == want.keySet)
    // manifest row counts reconcile with the data per partition
    for ((rk, cnt) <- want) assert(parts(rk)._2 == cnt, s"partition $rk")
    // nations 0 and 5 are both region 0: 2 delete entries charged there
    assert(parts("0")._3 == 2L)
    assert(parts.filterKeys(_ != "0").values.forall(_._3 == 0L))
    // SQL surface: the compaction work-list query runs on metadata alone
    val engine = new graft.sql.QueryEngine(spark, sfDir)
    engine.registerMetadata(cat, "nation")
    val hot = engine.sql(
      """SELECT partition_values['p_rk'] AS rk FROM nation__partitions
        |WHERE delete_entry_count > 0""".stripMargin)
      .as[String].collect().toSeq
    assert(hot == Seq("0"))
  }

  test("metadata tables are SQL-queryable through the engine") {
    val base = tempDir("graft-metasql-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val n = Tables.nation(spark, sfDir)
    Writers.writeSnapshot(cat, "nation", n, s"$base/data")
    Writers.writeSnapshot(cat, "nation", n.limit(7), s"$base/data")

    val engine = new graft.sql.QueryEngine(spark, sfDir)
    engine.registerMetadata(cat, "nation")
    // snapshot growth in plain SQL (Iceberg's t$snapshots surface)
    val growth = engine.sql(
      """SELECT snapshot_id, total_rows,
        |  total_rows - lag(total_rows) OVER (ORDER BY snapshot_id) AS added
        |FROM nation__snapshots ORDER BY snapshot_id""".stripMargin).collect()
    assert(growth.length == 2)
    assert(growth(1).getAs[Long]("added") == 7L)
    // files view joins like any table
    val nFiles = engine.sql(
      "SELECT COUNT(*) AS n FROM nation__files").collect()(0).getAs[Long]("n")
    assert(nFiles == cat.currentSnapshot("nation").get.files.size)
  }
}
