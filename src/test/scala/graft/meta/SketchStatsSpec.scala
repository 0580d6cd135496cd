package graft.meta

import graft.{SparkSpec, Tables}
import graft.sinks.Writers
import org.apache.spark.sql.functions._

/** Per-file HLL NDV sketches in the manifest: metadata-only approximate
  * count-distinct that stays current across appends and rewrites
  * (Iceberg puffin theta-sketch analogue). */
class SketchStatsSpec extends SparkSpec {

  test("metadata-only NDV estimate lands within 5% of exact, across multiple files") {
    val base = tempDir("graft-sk-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir).repartition(4)
    Writers.writeSnapshot(cat, "cust", c, s"$base/data",
      sketchColumns = Seq("c_custkey", "c_mktsegment"))
    val snap = cat.currentSnapshot("cust").get
    assert(snap.files.size > 1, "need multiple files for a real merge")
    assert(snap.files.forall(f =>
      f.sketches.contains("c_custkey") && f.sketches.contains("c_mktsegment")))

    val exactKeys = c.select(col("c_custkey")).distinct().count()
    val gotKeys = cat.approxCountDistinct(spark, "cust", "c_custkey").get
    assert(math.abs(gotKeys - exactKeys).toDouble / exactKeys <= 0.05,
      s"ndv $gotKeys vs exact $exactKeys")
    // low-cardinality columns are exact
    assert(cat.approxCountDistinct(spark, "cust", "c_mktsegment").contains(5L))
  }

  test("sketches are sticky: appends and COW rewrites stay estimable") {
    val base = tempDir("graft-sk2-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 100),
      s"$base/data", sketchColumns = Seq("c_custkey"))
    // append WITHOUT naming sketch columns — stickiness must re-apply
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") > 100), s"$base/data")
    val full = cat.approxCountDistinct(spark, "cust", "c_custkey").get
    val exact = c.select(col("c_custkey")).distinct().count()
    assert(exact > 100)
    assert(math.abs(full - exact).toDouble / exact <= 0.05, s"$full vs $exact")

    // COW delete rewrites files; outputs must still carry sketches and
    // the estimate must track the shrunken table
    Writers.deleteWhere(spark, cat, "cust",
      df => df.filter(col("c_custkey") > 50), Nil, s"$base/data")
    val after = cat.approxCountDistinct(spark, "cust", "c_custkey").get
    val exactAfter = c.filter(col("c_custkey") > 50)
      .select(col("c_custkey")).distinct().count()
    assert(math.abs(after - exactAfter).toDouble / exactAfter <= 0.05,
      s"$after vs $exactAfter")

    // time travel: the pre-delete snapshot still answers with its own files
    val atFirst = cat.approxCountDistinct(spark, "cust", "c_custkey",
      snapshotId = Some(2L)).get
    assert(math.abs(atFirst - exact).toDouble / exact <= 0.05)
  }

  test("q_meta_profile: the no-scan profile tracks exact NDVs per column") {
    val got = graft.queries.Engine.qMetaProfile(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val c = Tables.customer(spark, sfDir)
    val n = c.count()
    got.foreach { case (colName, (ndv, total)) =>
      assert(total == n)
      val exact = c.select(col(colName)).distinct().count()
      assert(ndv >= 0 && math.abs(ndv - exact).toDouble / math.max(1L, exact) <= 0.05,
        s"$colName: $ndv vs $exact")
    }
  }

  test("un-sketched columns refuse to estimate rather than lie") {
    val base = tempDir("graft-sk3-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    Writers.writeSnapshot(cat, "nation", Tables.nation(spark, sfDir), s"$base/data")
    assert(cat.approxCountDistinct(spark, "nation", "n_name").isEmpty)
    // and the files metadata table surfaces which columns ARE sketched
    val cols = cat.filesDf(spark, "nation").select("sketch_columns")
      .collect().map(_.getSeq[String](0))
    assert(cols.forall(_.isEmpty))
  }
}
