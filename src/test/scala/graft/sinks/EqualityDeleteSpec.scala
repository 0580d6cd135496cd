package graft.sinks

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import graft.meta.SnapshotCatalog
import org.apache.spark.sql.functions._

/** Equality deletes (Iceberg v2's zero-scan delete kind): mask by key
  * tuple, scoped to the files that existed at commit time. */
class EqualityDeleteSpec extends SparkSpec {

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select(col("c_custkey")).collect().map(_.getLong(0)).toSet

  private def freshCat(prefix: String): (SnapshotCatalog, String) = {
    val base = tempDir(prefix).toString
    (new SnapshotCatalog(s"$base/cat"), s"$base/d")
  }

  test("deleteByKeys masks matching rows with zero data-file churn; re-append stays visible") {
    import spark.implicits._
    val (cat, d) = freshCat("graft-eq-")
    val c = Tables.customer(spark, sfDir)
    val s1 = Writers.writeRangedSnapshot(cat, "cust",
      c.filter(col("c_custkey") <= 100), d, "c_custkey", 3)
    val gone = Seq(3L, 17L, 42L, 99L)
    val s2 = Writers.deleteByKeys(spark, cat, "cust",
      gone.toDF("c_custkey"), Seq("c_custkey"), d)

    assert(s2.files.map(_.path).toSet == s1.files.map(_.path).toSet)
    assert(s2.deleteFiles.size == 1 && s2.deleteFiles.head.isEquality)
    assert(s2.deleteFiles.head.rowCount == gone.size)
    assert(keys(cat.read(spark, "cust")) ==
      keys(c.filter(col("c_custkey") <= 100)) -- gone)

    // the mask scopes to files that existed at commit: a later append of
    // key 42 is a FRESH row and must be visible
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") === 42), d)
    assert(keys(cat.read(spark, "cust")).contains(42L))
    // ...while 3, 17, 99 stay masked
    assert((keys(cat.read(spark, "cust")) & Set(3L, 17L, 99L)).isEmpty)
  }

  test("position + equality masks stack; materialization retires both kinds") {
    import spark.implicits._
    val (cat, d) = freshCat("graft-eqmix-")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 100), d)
    Writers.deleteWhereMoR(spark, cat, "cust", col("c_custkey") <= 10, Nil, d)
    val s3 = Writers.deleteByKeys(spark, cat, "cust",
      Seq(5L, 20L, 30L).toDF("c_custkey"), Seq("c_custkey"), d)
    assert(s3.deleteFiles.size == 2)
    val expect = keys(c.filter(col("c_custkey") > 10 && col("c_custkey") <= 100)) --
      Set(20L, 30L)
    assert(keys(cat.read(spark, "cust")) == expect)

    val mat = Writers.materializeDeletes(spark, cat, "cust", d).get
    assert(mat.deleteFiles.isEmpty)
    assert(keys(cat.read(spark, "cust")) == expect)
  }

  test("CDC: equality delete nets exactly the killed rows; re-append is a fresh insert") {
    import spark.implicits._
    val (cat, d) = freshCat("graft-eqcdc-")
    val c = Tables.customer(spark, sfDir)
    val s1 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 60), d)
    Writers.deleteByKeys(spark, cat, "cust",
      Seq(7L, 8L).toDF("c_custkey"), Seq("c_custkey"), d)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") === 7), d)

    val feed = cat.changesBetween(spark, "cust", s1.snapshotId)
    def byType(t: String): Seq[Long] =
      feed.filter(col("_change_type") === t)
        .select(col("c_custkey")).collect().map(_.getLong(0)).toSeq.sorted
    // 8 is a plain delete; 7's physical copy turned over (killed by the
    // mask, re-appended as a fresh file-level row), which the feed
    // contract renders as a MATCHED insert+delete pair — net-equivalent
    // under apply: state(a) - deletes + inserts == state(b)
    assert(byType("delete") == Seq(7L, 8L))
    assert(byType("insert") == Seq(7L))
    // appends-only feed sees the re-appended 7
    assert(keys(cat.readIncremental(spark, "cust", s1.snapshotId)) == Set(7L))
  }

  test("key-bound pruning scopes the mask: keys hitting one range file list only it") {
    import spark.implicits._
    val (cat, d) = freshCat("graft-eqprune-")
    val c = Tables.customer(spark, sfDir)
    val s1 = Writers.writeRangedSnapshot(cat, "cust",
      c.filter(col("c_custkey") <= 150), d, "c_custkey", 3)
    // keys 1..5 live in the lowest range file only
    val s2 = Writers.deleteByKeys(spark, cat, "cust",
      Seq(1L, 2L, 5L).toDF("c_custkey"), Seq("c_custkey"), d)
    assert(s2.deleteFiles.head.dataPaths.size < s1.files.size,
      s"expected the key-bound prune to scope the mask below all ${s1.files.size} files")
    assert(keys(cat.read(spark, "cust")) ==
      keys(c.filter(col("c_custkey") <= 150)) -- Set(1L, 2L, 5L))
  }
}
