package graft.meta

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import graft.sinks.Writers
import org.apache.spark.sql.functions._

/** Stats-ordered top-k read (SURVEY §2 S47): ORDER BY ... LIMIT k
  * answered from a stats-pruned file subset — on a range-clustered
  * layout the scan touches O(k / rows-per-file) files, proven here by
  * counting kept files, while the result stays bit-identical to the
  * full sort.
  */
class TopKSpec extends SparkSpec {

  private def rangedOrders(): (SnapshotCatalog, String) = {
    val dir = tempDir("graft-topk-").toString
    val cat = new SnapshotCatalog(dir)
    Writers.writeRangedSnapshot(cat, "orders", Tables.orders(spark, sfDir),
      dir, "o_totalprice", 8)
    (cat, dir)
  }

  test("largest-k equals the full sort and prunes most of a range layout") {
    val (cat, _) = rangedOrders()
    val k = 25
    val kept = cat.topKFiles("orders", "o_totalprice", k)
    assert(kept.size < cat.currentSnapshot("orders").get.files.size,
      s"no pruning: kept ${kept.size} files")
    val got = cat.topKByStats(spark, "orders", "o_totalprice", k,
      extraOrder = Seq(col("o_orderkey")))
      .select("o_orderkey", "o_totalprice").collect().toSeq
    val want = Tables.orders(spark, sfDir)
      .orderBy(desc_nulls_last("o_totalprice"), col("o_orderkey"))
      .limit(k).select("o_orderkey", "o_totalprice").collect().toSeq
    assert(got == want)
  }

  test("smallest-k mirrors with ascending bounds") {
    val (cat, _) = rangedOrders()
    val k = 25
    val kept = cat.topKFiles("orders", "o_totalprice", k, smallest = true)
    assert(kept.size < cat.currentSnapshot("orders").get.files.size)
    val got = cat.topKByStats(spark, "orders", "o_totalprice", k, smallest = true,
      extraOrder = Seq(col("o_orderkey")))
      .select("o_orderkey", "o_totalprice").collect().toSeq
    val want = Tables.orders(spark, sfDir)
      .orderBy(asc_nulls_last("o_totalprice"), col("o_orderkey"))
      .limit(k).select("o_orderkey", "o_totalprice").collect().toSeq
    assert(got == want)
  }

  test("string column top-k uses lexicographic bounds") {
    val (cat, _) = rangedOrders()
    val k = 10
    val got = cat.topKByStats(spark, "orders", "o_orderpriority", k,
      extraOrder = Seq(col("o_orderkey")))
      .select("o_orderkey", "o_orderpriority").collect().toSeq
    val want = Tables.orders(spark, sfDir)
      .orderBy(desc_nulls_last("o_orderpriority"), col("o_orderkey"))
      .limit(k).select("o_orderkey", "o_orderpriority").collect().toSeq
    assert(got == want)
  }

  test("MoR-masked files lose their guarantee but stay correct") {
    import spark.implicits._
    val (cat, dir) = rangedOrders()
    // delete the current top row via MoR: the masked file's guarantee
    // zeroes (bound must not count phantom rows) and the result is the
    // table-wide top-k of the VISIBLE rows
    val top = cat.topKByStats(spark, "orders", "o_totalprice", 1,
      extraOrder = Seq(col("o_orderkey")))
      .select("o_orderkey").as[Long].head()
    Writers.deleteWhereMoR(spark, cat, "orders", col("o_orderkey") === top,
      Seq(RangeNum("o_orderkey", top.toDouble, top.toDouble)), dir)
    val k = 10
    val got = cat.topKByStats(spark, "orders", "o_totalprice", k,
      extraOrder = Seq(col("o_orderkey")))
      .select("o_orderkey", "o_totalprice").collect().toSeq
    val want = Tables.orders(spark, sfDir).filter(col("o_orderkey") =!= top)
      .orderBy(desc_nulls_last("o_totalprice"), col("o_orderkey"))
      .limit(k).select("o_orderkey", "o_totalprice").collect().toSeq
    assert(got == want)
  }

  test("nulls and boundary ties: planted data, exact against a driver-side sort") {
    import spark.implicits._
    val dir = tempDir("graft-topkn-").toString
    val cat = new SnapshotCatalog(dir)
    // three files: high values with ties at the boundary, mids, and a
    // file of mostly-nulls whose rowCount would overstate any guarantee
    val high = Seq((1L, Some(100.0)), (2L, Some(100.0)), (3L, Some(99.0)))
    val mid = Seq((4L, Some(98.0)), (5L, Some(97.0)), (6L, Some(100.0)))
    val nulls = Seq((7L, None), (8L, None), (9L, Some(96.0)))
    for ((rows, i) <- Seq(high, mid, nulls).zipWithIndex)
      Writers.writeSnapshot(cat, "t", rows.toDF("id", "x").coalesce(1), s"$dir/c$i")
    for (k <- 1 to 9) {
      val got = cat.topKByStats(spark, "t", "x", k, extraOrder = Seq(col("id")))
        .select("id").as[Long].collect().toSeq
      val want = (high ++ mid ++ nulls)
        .sortBy { case (id, x) => (x.isEmpty, -x.getOrElse(0.0), id) }
        .take(k).map(_._1)
      assert(got == want, s"k=$k")
    }
  }

  test("files without usable stats are kept, never mis-pruned") {
    import spark.implicits._
    val dir = tempDir("graft-topku-").toString
    val cat = new SnapshotCatalog(dir)
    // an all-null file has no min/max for x: it must be kept (its rows
    // can still surface when k exceeds the non-null row count)
    Writers.writeSnapshot(cat, "t",
      Seq((1L, Option(5.0)), (2L, Option(6.0))).toDF("id", "x").coalesce(1), s"$dir/c0")
    Writers.writeSnapshot(cat, "t",
      Seq((3L, Option.empty[Double])).toDF("id", "x").coalesce(1), s"$dir/c1")
    val got = cat.topKByStats(spark, "t", "x", 3, extraOrder = Seq(col("id")))
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(2L, 1L, 3L))
  }
}
