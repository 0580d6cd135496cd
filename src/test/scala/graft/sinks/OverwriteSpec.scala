package graft.sinks

import graft.{SparkSpec, Tables}
import graft.meta.SnapshotCatalog
import org.apache.spark.sql.functions._

/** Dynamic partition overwrite (SURVEY §2 S46): touched partitions are
  * replaced wholesale in one metadata commit, untouched partitions keep
  * their manifest entries un-rescanned, and both CDC surfaces stay
  * exact across the overwrite (incremental read = the new rows; net
  * feed = old partition content out, new content in).
  */
class OverwriteSpec extends SparkSpec {

  // nation partitioned by a derived region-key column: 5 partitions,
  // data files keep every nation column (the hidden-partitioning idiom)
  private def seed(cat: SnapshotCatalog, dir: String): Unit = {
    val n = Tables.nation(spark, sfDir).withColumn("p_rk", col("n_regionkey"))
    Writers.writePartitionedSnapshot(cat, "nation", n, s"$dir/base", Seq("p_rk"))
  }

  test("touched partition replaced wholesale, untouched files not re-scanned") {
    val dir = tempDir("graft-ow-").toString
    val cat = new SnapshotCatalog(dir)
    seed(cat, dir)
    val before = cat.currentSnapshot("nation").get
    val untouchedBefore = before.files.filter(_.partitionValues("p_rk") != "2")

    // region 2 restated: only even nation keys survive, renamed
    val restated = Tables.nation(spark, sfDir)
      .filter(col("n_regionkey") === 2 && col("n_nationkey") % 2 === 0)
      .withColumn("n_name", concat(lit("NEW_"), col("n_name")))
      .withColumn("p_rk", col("n_regionkey"))
    val after = Writers.overwritePartitions(cat, "nation", restated, s"$dir/ow1", Seq("p_rk"))

    assert(after.props(SnapshotCatalog.OperationProp) == SnapshotCatalog.OpOverwrite)
    // untouched partitions: identical FileMeta objects (reused, not re-scanned)
    untouchedBefore.foreach { f =>
      assert(after.files.exists(g => g.path == f.path && g == f))
    }
    // replaced partition's old files are gone from the snapshot
    val oldR2 = before.files.filter(_.partitionValues("p_rk") == "2").map(_.path).toSet
    assert(after.files.forall(f => !oldR2.contains(f.path)))

    // visible state = untouched regions + restated region-2 rows
    val expect = Tables.nation(spark, sfDir).filter(col("n_regionkey") =!= 2)
      .unionByName(restated.drop("p_rk"))
    assert(cat.read(spark, "nation").exceptAll(expect).count() == 0)
    assert(expect.exceptAll(cat.read(spark, "nation")).count() == 0)
    // time travel still sees the pre-overwrite state
    assert(cat.read(spark, "nation", snapshotId = Some(before.snapshotId)).count() ==
      Tables.nation(spark, sfDir).count())
  }

  test("incremental read across an overwrite returns exactly the restated rows") {
    val dir = tempDir("graft-owinc-").toString
    val cat = new SnapshotCatalog(dir)
    seed(cat, dir)
    val s1 = cat.currentSnapshot("nation").get
    val restated = Tables.nation(spark, sfDir).filter(col("n_regionkey") === 1)
      .withColumn("n_comment", lit("restated"))
      .withColumn("p_rk", col("n_regionkey"))
    Writers.overwritePartitions(cat, "nation", restated, s"$dir/ow1", Seq("p_rk"))

    val inc = cat.readIncremental(spark, "nation", s1.snapshotId)
    assert(inc.exceptAll(restated.drop("p_rk")).count() == 0)
    assert(restated.drop("p_rk").exceptAll(inc).count() == 0)
  }

  test("net change feed across an overwrite applies from -> to; verbatim restatement cancels") {
    val dir = tempDir("graft-owcdc-").toString
    val cat = new SnapshotCatalog(dir)
    seed(cat, dir)
    val s1 = cat.currentSnapshot("nation").get
    // region 3 restated: half the rows verbatim (must cancel in the net
    // feed), the rest dropped, plus one synthetic new row
    val base = Tables.nation(spark, sfDir).filter(col("n_regionkey") === 3)
    val verbatim = base.filter(col("n_nationkey") % 2 === 0)
    // cast to the table's int key type: an append that silently widened
    // the column is exactly what mergeSchemas now refuses
    val fresh = base.limit(1).withColumn("n_nationkey", lit(999).cast("int"))
    val restated = verbatim.unionByName(fresh).withColumn("p_rk", col("n_regionkey"))
    val s2 = Writers.overwritePartitions(cat, "nation", restated, s"$dir/ow1", Seq("p_rk"))

    val feed = cat.changesBetween(spark, "nation", s1.snapshotId, Some(s2.snapshotId))
    val dropped = base.filter(col("n_nationkey") % 2 =!= 0)
    val dels = feed.filter(col("_change_type") === "delete").drop("_change_type")
    val ins = feed.filter(col("_change_type") === "insert").drop("_change_type")
    assert(dels.exceptAll(dropped).count() == 0 && dropped.exceptAll(dels).count() == 0)
    assert(ins.exceptAll(fresh).count() == 0 && fresh.exceptAll(ins).count() == 0)

    // applying the feed to the from-state reproduces the to-state
    val fromState = cat.read(spark, "nation", snapshotId = Some(s1.snapshotId))
    val applied = fromState.unionByName(ins).exceptAll(dels)
    val toState = cat.read(spark, "nation", snapshotId = Some(s2.snapshotId))
    assert(applied.exceptAll(toState).count() == 0)
    assert(toState.exceptAll(applied).count() == 0)
  }

  test("refuses a layout not consistently partitioned on the overwrite columns") {
    val dir = tempDir("graft-owref-").toString
    val cat = new SnapshotCatalog(dir)
    // plain (unpartitioned) snapshot: files carry no p_rk values
    Writers.writeSnapshot(cat, "nation", Tables.nation(spark, sfDir), dir)
    val restated = Tables.nation(spark, sfDir).filter(col("n_regionkey") === 0)
      .withColumn("p_rk", col("n_regionkey"))
    assertThrows[IllegalStateException] {
      Writers.overwritePartitions(cat, "nation", restated, s"$dir/ow1", Seq("p_rk"))
    }
  }

  test("lifecycle property: overwrite composes with append/MoR-delete/rollback/expire") {
    import spark.implicits._
    import graft.meta.RangeNum
    import scala.util.Random
    type MS = Map[(Long, Long), Int]
    def ms(rows: Seq[(Long, Long)]): MS = rows.groupBy(identity).map { case (k, g) => k -> g.size }
    def plus(a: MS, b: MS): MS =
      (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0) + b.getOrElse(k, 0))).filter(_._2 != 0).toMap
    def minus(a: MS, b: MS): MS =
      (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0) - b.getOrElse(k, 0))).filter(_._2 != 0).toMap
    def subsetOf(a: MS, b: MS): Boolean = a.forall { case (k, n) => b.getOrElse(k, 0) >= n }
    def collectMs(df: org.apache.spark.sql.DataFrame): MS =
      ms(df.select(col("id"), col("v")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)

    val rnd = new Random(20260813L)
    for (seq <- 0 until 25) {
      val dir = tempDir(s"graft-owprop-$seq-").toString
      val cat = new SnapshotCatalog(dir)
      val t = "t"
      var commitN = 0
      def freshDir(): String = { commitN += 1; s"$dir/c$commitN" }
      // partition p = id % 3 derived into the path; data keeps (id, v)
      def pdf(rows: Seq[(Long, Long)]) =
        rows.toDF("id", "v").withColumn("p", col("id") % 3).coalesce(1)
      def batch(n: Int): Seq[(Long, Long)] =
        Seq.fill(n)((rnd.nextInt(60).toLong, rnd.nextInt(1000).toLong))

      var states = Vector.empty[(Long, MS)]
      var state: MS = Map.empty
      val trace = new StringBuilder
      val first = batch(8 + rnd.nextInt(12))
      state = ms(first)
      states :+= (Writers.writePartitionedSnapshot(cat, t, pdf(first), freshDir(), Seq("p")).snapshotId, state)
      trace ++= s"append0(${first.size}); "

      for (_ <- 1 until 5) {
        val op = rnd.nextInt(5)
        trace ++= s"op$op; "
        op match {
          case 0 => // partitioned append
            val b = batch(5 + rnd.nextInt(10))
            state = plus(state, ms(b))
            states :+= (Writers.writePartitionedSnapshot(cat, t, pdf(b), freshDir(), Seq("p")).snapshotId, state)
          case 1 => // dynamic overwrite: partitions TOUCHED by the batch replaced wholesale
            val b = batch(3 + rnd.nextInt(8))
            val touched = b.map(_._1 % 3).toSet
            state = plus(state.filter { case ((id, _), _) => !touched.contains(id % 3) }, ms(b))
            states :+= (Writers.overwritePartitions(cat, t, pdf(b), freshDir(), Seq("p")).snapshotId, state)
          case 2 => // MoR delete of an id range (mask retires if overwritten later)
            val lo = rnd.nextInt(50).toLong
            val hi = lo + rnd.nextInt(15).toLong
            val before = cat.currentSnapshot(t).map(_.snapshotId)
            val snap = Writers.deleteWhereMoR(spark, cat, t,
              col("id").between(lo, hi), Seq(RangeNum("id", lo.toDouble, hi.toDouble)), dir)
            if (!before.contains(snap.snapshotId)) {
              state = state.filter { case ((id, _), _) => id < lo || id > hi }
              states :+= (snap.snapshotId, state)
            }
          case 3 => // rollback to a random surviving snapshot
            val (targetId, targetState) = states(rnd.nextInt(states.size))
            val snap = cat.rollbackTo(spark, t, targetId)
            state = targetState
            states :+= (snap.snapshotId, state)
          case 4 => // expire old manifests
            cat.expireSnapshots(t, keepLast = 1 + rnd.nextInt(3))
            val surviving = cat.snapshots(t).map(_.snapshotId).toSet
            states = states.filter { case (id, _) => surviving.contains(id) }
        }
      }

      for ((id, expected) <- states)
        assert(collectMs(cat.read(spark, t, snapshotId = Some(id))) == expected,
          s"seq=$seq snapshot $id read != model state [ops: $trace] files=" +
            cat.snapshotById(t, id).get.files.map(f =>
              f.path.split("/").takeRight(2).mkString("/") + ":" + f.rowCount).mkString(","))
      for (i <- states.indices; j <- (i + 1) until states.size) {
        val (aId, aState) = states(i)
        val (bId, bState) = states(j)
        val feed = cat.changesBetween(spark, t, aId, Some(bId))
          .select(col("id"), col("v"), col("_change_type")).collect()
        val ins = ms(feed.filter(_.getString(2) == "insert").map(r => (r.getLong(0), r.getLong(1))).toSeq)
        val del = ms(feed.filter(_.getString(2) == "delete").map(r => (r.getLong(0), r.getLong(1))).toSeq)
        assert(plus(minus(aState, del), ins) == bState,
          s"seq=$seq changesBetween($aId,$bId) applied to a != b")
        assert(subsetOf(del, aState) && subsetOf(ins, bState), s"seq=$seq feed rows outside endpoints")
        assert(subsetOf(collectMs(cat.readIncremental(spark, t, aId, Some(bId))), bState),
          s"seq=$seq readIncremental($aId,$bId) resurrects rows")
      }
    }
  }

  test("special-char partition values round-trip: stats, MoR + equality deletes, overwrite") {
    import spark.implicits._
    import graft.meta.RangeNum
    val dir = tempDir("graft-owsp-").toString
    val cat = new SnapshotCatalog(dir)
    // partition values with a space and a literal percent: Spark writes
    // the literal name on disk, but _metadata.file_path renders it
    // percent-encoded — every metadata seam must agree on ONE form
    val rows = Seq((1L, 10L, "A SPACE"), (2L, 20L, "A SPACE"),
      (3L, 30L, "B%20LIT"), (4L, 40L, "B%20LIT"), (5L, 50L, "plain"))
    val df = rows.toDF("id", "v", "k").withColumn("p", col("k"))
    val s1 = Writers.writePartitionedSnapshot(cat, "t", df, s"$dir/c1", Seq("p"))
    // manifest stats and sizes must be present for the spacey files
    // (the _metadata/fileSizes key mismatch used to zero them out)
    s1.files.foreach { f =>
      assert(f.sizeBytes > 0, s"zero size for ${f.path}")
      assert(f.stats.contains("id"), s"missing stats for ${f.path}")
      assert(f.rowCount > 0)
    }
    assert(cat.read(spark, "t").count() == 5)

    // MoR position delete inside the spacey partition
    Writers.deleteWhereMoR(spark, cat, "t", col("id") === 1L,
      Seq(RangeNum("id", 1.0, 1.0)), dir)
    assert(cat.read(spark, "t").select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L, 4L, 5L))

    // equality delete of a key living in the literal-% partition
    Writers.deleteByKeys(spark, cat, "t", Seq(3L).toDF("id"), Seq("id"), dir)
    assert(cat.read(spark, "t").select("id").as[Long].collect().sorted.toSeq == Seq(2L, 4L, 5L))

    // dynamic overwrite of the spacey partition (old masked rows must
    // not resurrect; replaced files' masks retire with them)
    val restated = Seq((9L, 90L, "A SPACE")).toDF("id", "v", "k").withColumn("p", col("k"))
    Writers.overwritePartitions(cat, "t", restated, s"$dir/c2", Seq("p"))
    assert(cat.read(spark, "t").select("id").as[Long].collect().sorted.toSeq == Seq(4L, 5L, 9L))
  }

  test("first overwrite on an empty table commits as the initial snapshot") {
    val dir = tempDir("graft-owfirst-").toString
    val cat = new SnapshotCatalog(dir)
    val n = Tables.nation(spark, sfDir).withColumn("p_rk", col("n_regionkey"))
    val s1 = Writers.overwritePartitions(cat, "nation", n, s"$dir/ow0", Seq("p_rk"))
    assert(s1.snapshotId == 1L)
    assert(cat.read(spark, "nation").count() == Tables.nation(spark, sfDir).count())
  }
}
