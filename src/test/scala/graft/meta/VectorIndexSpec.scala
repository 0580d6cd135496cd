package graft.meta

import java.nio.file.Files

import graft.SparkSpec
import graft.sinks.Writers
import graft.sql.GraftSqlResolution
import org.apache.spark.sql.{DataFrame, GraftColumnShim, SparkSession}
import org.apache.spark.sql.functions._

/** Lifecycle contracts of the COMMITTED vector index (r17,
  * [[VectorIndex]]): a fresh catalog instance serves search from the
  * committed sidecars with no retrain (proven by deleting the data
  * files), appends auto-encode under the sticky model, `VERSION AS OF`
  * serves each snapshot with its own generation, MoR deletes refuse
  * until compaction re-encodes, and vacuum keeps live generations.
  */
class VectorIndexSpec extends SparkSpec {

  /** 40 vectors in 4 planted clusters of 8-D (the PqSpec geometry):
    * cluster membership is unambiguous, so ANN results are stable. */
  private def planted(ids: Range): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val g = i % 4
      val eps = (i % 9 - 4) * 0.03f
      (i.toLong, (0 until 8).map(d => (if (d % 4 == g) 10.0f else 0.0f) + eps).toArray)
    }.toDF("id", "vec")
  }

  private def freshCat(): (SnapshotCatalog, String) = {
    val root = tempDir("graft-vecidx-").toString
    (new SnapshotCatalog(root), root)
  }

  /** A SQL session over the catalog at `root`. */
  private def sqlOn(root: String): SparkSession = {
    val s = GraftColumnShim.sessionWithExtensions(
      spark, e => new graft.GraftExtensions().apply(e))
    s.conf.set(GraftSqlResolution.RootConf, root)
    s
  }

  private def queriesOf(df: DataFrame, n: Int): Seq[(String, Seq[Double])] =
    df.filter(col("id") < n).select(col("id").cast("string"), col("vec")).collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).map(_.toDouble).toSeq)).toSeq

  private def resultSet(df: DataFrame): Set[(String, String, Long)] =
    df.select(col("query_id").cast("string"), col("nn_id").cast("string"), col("rk"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

  test("fresh catalog instance serves search from committed sidecars — no retrain, no data files") {
    val (cat, root) = freshCat()
    val df = planted(0 until 40)
    Writers.writeSnapshot(cat, "vecs", df, s"$root/data")
    VectorIndex.indexVectors(spark, cat, "vecs", "id", "vec", m = 4, k = 4, nCells = 4)
    val qs = queriesOf(df, 4)
    val expected = resultSet(
      VectorIndex.search(spark, cat, "vecs", qs, k = 3, excludeSelf = true))
    assert(expected.nonEmpty)

    // a brand-new catalog object over the same root (a fresh session /
    // another node): search must serve from the COMMITTED model + codes.
    // Deleting the table's DATA files proves nothing retrains or rescans
    // the corpus — only sidecars are touched.
    val cat2 = new SnapshotCatalog(root)
    cat2.currentSnapshot("vecs").get.files.foreach(f =>
      Files.delete(java.nio.file.Paths.get(f.path)))
    val got = resultSet(
      VectorIndex.search(spark, cat2, "vecs", qs, k = 3, excludeSelf = true))
    assert(got == expected)
    // IVF-PQ over the same committed cells works data-free too
    val ivf = resultSet(VectorIndex.search(spark, cat2, "vecs", qs, k = 3,
      nProbe = Some(2), excludeSelf = true))
    assert(ivf.nonEmpty)
  }

  test("appends auto-encode under the sticky model; VERSION AS OF serves the matching state") {
    val (cat, root) = freshCat()
    val df0 = planted(0 until 40)
    Writers.writeSnapshot(cat, "vecs", df0, s"$root/data")
    val indexed = VectorIndex.indexVectors(spark, cat, "vecs", "id", "vec", m = 4, k = 4, nCells = 4)
    val qs = queriesOf(df0, 4)
    val before = resultSet(
      VectorIndex.search(spark, cat, "vecs", qs, k = 3, excludeSelf = true))

    // the append re-encodes its new files with ZERO extra calls (the
    // sticky-prop commit hook) — new vectors are immediately searchable
    Writers.writeSnapshot(cat, "vecs", planted(100 until 140), s"$root/data")
    val snap2 = cat.currentSnapshot("vecs").get
    assert(snap2.files.filter(_.rowCount > 0).forall(_.pqCodes.nonEmpty),
      "append's new files must carry codes refs")
    val after = VectorIndex.search(spark, cat, "vecs", qs, k = 50, excludeSelf = true)
    assert(after.filter(col("nn_id") >= 100).count() > 0,
      "appended vectors must be searchable")

    // time travel: AS OF the indexed snapshot reproduces the pre-append
    // results exactly (that snapshot's model + that snapshot's refs)
    val asOf = resultSet(VectorIndex.search(spark, cat, "vecs", qs, k = 3,
      snapshotId = Some(indexed.snapshotId), excludeSelf = true))
    assert(asOf == before)
  }

  test("retrain bumps the generation; old snapshots keep their own; stale refs refuse") {
    val (cat, root) = freshCat()
    Writers.writeSnapshot(cat, "vecs", planted(0 until 40), s"$root/data")
    val g1 = VectorIndex.indexVectors(spark, cat, "vecs", "id", "vec", m = 4, k = 4, nCells = 4)
    assert(g1.props(SnapshotCatalog.PqGenerationProp) == "1")
    val qs = queriesOf(planted(0 until 40), 2)
    val v1 = resultSet(VectorIndex.search(spark, cat, "vecs", qs, k = 3, excludeSelf = true))

    val g2 = VectorIndex.indexVectors(spark, cat, "vecs", "id", "vec", m = 2, k = 4, nCells = 2)
    assert(g2.props(SnapshotCatalog.PqGenerationProp) == "2")
    // every file re-encoded under gen 2; gen-1 snapshot still serves gen 1
    assert(g2.files.filter(_.rowCount > 0).forall(_.pqCodes.exists(_.contains("codes-g2-"))))
    val v1Again = resultSet(VectorIndex.search(spark, cat, "vecs", qs, k = 3,
      snapshotId = Some(g1.snapshotId), excludeSelf = true))
    assert(v1Again == v1)
    // current search runs under the new geometry without error
    assert(resultSet(VectorIndex.search(spark, cat, "vecs", qs, k = 3,
      excludeSelf = true)).nonEmpty)

    // a hand-rolled mixed-generation snapshot refuses instead of
    // silently decoding old codes under the new model
    val mixed = g2.copy(files = g2.files.zipWithIndex.map { case (f, i) =>
      if (i == 0) f.copy(pqCodes = g1.files.find(_.path == f.path).flatMap(_.pqCodes)) else f
    })
    val ex = intercept[IllegalArgumentException] {
      VectorIndex.searchSnapshot(spark, mixed, "vecs", qs, k = 3)
    }
    assert(ex.getMessage.contains("generation"))
  }

  test("MoR deletes refuse; compaction re-encodes and restores searchability") {
    val (cat, root) = freshCat()
    val df = planted(0 until 40)
    // two commits so compaction has something to merge
    Writers.writeSnapshot(cat, "vecs", df.filter(col("id") < 20), s"$root/data")
    VectorIndex.indexVectors(spark, cat, "vecs", "id", "vec", m = 4, k = 4, nCells = 4)
    Writers.writeSnapshot(cat, "vecs", df.filter(col("id") >= 20), s"$root/data")
    val qs = queriesOf(df, 2)

    Writers.deleteWhereMoR(spark, cat, "vecs", col("id") === 7L, Nil, s"$root/data")
    val ex = intercept[IllegalArgumentException] {
      VectorIndex.search(spark, cat, "vecs", qs, k = 3, excludeSelf = true)
    }
    assert(ex.getMessage.contains("Compact first"))

    Writers.compact(spark, cat, "vecs", s"$root/data")
    val after = VectorIndex.search(spark, cat, "vecs", qs, k = 50, excludeSelf = true)
    assert(after.filter(col("nn_id") === 7).count() == 0,
      "compacted-away row must not resurface as a neighbor")
    assert(after.count() > 0)
  }

  test("vacuum keeps live generations, reclaims expired ones") {
    val (cat, root) = freshCat()
    Writers.writeSnapshot(cat, "vecs", planted(0 until 40), s"$root/data")
    VectorIndex.indexVectors(spark, cat, "vecs", "id", "vec", m = 4, k = 4, nCells = 4)
    VectorIndex.indexVectors(spark, cat, "vecs", "id", "vec", m = 2, k = 4, nCells = 2)
    // both generations are referenced by live snapshots: nothing to reap
    assert(cat.vacuumSidecars("vecs", graceMs = 0).isEmpty)
    // expire history down to the head (gen-2): gen-1's model + codes orphan
    cat.expireSnapshots("vecs", keepLast = 1)
    val reaped = cat.vacuumSidecars("vecs", graceMs = 0)
    assert(reaped.exists(_.contains("codes-g1-")) || reaped.exists(_.contains("model-g1-")),
      s"expected gen-1 sidecars reaped, got: $reaped")
    // head still searches
    val qs = queriesOf(planted(0 until 40), 2)
    assert(resultSet(VectorIndex.search(spark, cat, "vecs", qs, k = 3,
      excludeSelf = true)).nonEmpty)
  }

  test("column rename re-keys the index prop; column drop drops the index") {
    val (cat, root) = freshCat()
    Writers.writeSnapshot(cat, "vecs", planted(0 until 40), s"$root/data")
    VectorIndex.indexVectors(spark, cat, "vecs", "id", "vec", m = 4, k = 4, nCells = 4)
    cat.renameColumn("vecs", "vec", "embedding")
    val renamed = cat.currentSnapshot("vecs").get
    assert(renamed.props(SnapshotCatalog.PqColumnsProp) == "id:embedding")
    // the frozen model + codes stay valid under the new name
    val qs = queriesOf(planted(0 until 40), 2)
    assert(resultSet(VectorIndex.search(spark, cat, "vecs", qs, k = 3,
      excludeSelf = true)).nonEmpty)
    // and the re-keyed prop keeps driving the commit hook
    Writers.writeSnapshot(cat, "vecs",
      planted(100 until 120).withColumnRenamed("vec", "embedding"), s"$root/data")
    assert(cat.currentSnapshot("vecs").get.files.filter(_.rowCount > 0)
      .forall(_.pqCodes.nonEmpty))

    cat.dropColumn("vecs", "embedding")
    val dropped = cat.currentSnapshot("vecs").get
    assert(!dropped.props.contains(SnapshotCatalog.PqColumnsProp))
    assert(!dropped.props.contains(SnapshotCatalog.PqModelProp))
    assert(!dropped.props.contains(SnapshotCatalog.PqGenerationProp))
  }

  test("rename keeps the vector index searchable under the new name") {
    val (cat, root) = freshCat()
    val df = planted(0 until 40)
    Writers.writeSnapshot(cat, "vecs", df, s"$root/data")
    VectorIndex.indexVectors(spark, cat, "vecs", "id", "vec", m = 4, k = 4, nCells = 4)
    val qs = queriesOf(df, 4)
    val before = resultSet(
      VectorIndex.search(spark, cat, "vecs", qs, k = 3, excludeSelf = true))
    cat.renameTable("vecs", "vecs2")
    assert(resultSet(
      VectorIndex.search(spark, cat, "vecs2", qs, k = 3, excludeSelf = true)) == before)
  }

  test("after a rename, the sidecar vacuum and PURGE reach the vector index left under the old name") {
    val (cat, root) = freshCat()
    val ext = sqlOn(root)
    val df = planted(0 until 40)
    for (purge <- Seq(false, true)) {
      val (t, t2) = if (purge) ("vp", "vp2") else ("vv", "vv2")
      // the SQL layout: data under the table's own tree, so the renamed
      // table keeps reading files under the old name's directory
      Writers.writeSnapshot(cat, t, df, s"$root/$t/${SnapshotCatalog.DataDir}")
      VectorIndex.indexVectors(spark, cat, t, "id", "vec", m = 4, k = 4, nCells = 4)
      cat.renameTable(t, t2)
      // a retrain under the new name, then expiry: gen-1 is unreferenced
      VectorIndex.indexVectors(spark, cat, t2, "id", "vec", m = 2, k = 4, nCells = 2)
      cat.expireSnapshots(t2, keepLast = 1)
      val oldPq = s"$root/$t/${SnapshotCatalog.PqIndexDir}/"
      if (!purge) {
        val reaped = cat.vacuumSidecars(t2, graceMs = 0)
        assert(reaped.exists(p => p.startsWith(oldPq) && p.contains("model-g1-")) &&
          reaped.exists(p => p.startsWith(oldPq) && p.contains("codes-g1-")),
          s"expected the old name's gen-1 model and codes reaped, got: $reaped")
        assert(resultSet(VectorIndex.search(spark, cat, t2, queriesOf(df, 2), k = 3,
          excludeSelf = true)).nonEmpty)
      } else {
        ext.sql(s"DROP TABLE graft.$t2 PURGE")
        // the old name's directory goes whole: its data dir's write
        // directories held only Spark's commit bookkeeping after the purge
        val left = Seq(s"$root/$t", s"$root/$t2").map(java.nio.file.Paths.get(_))
          .filter(Files.exists(_))
        assert(left.isEmpty, s"PURGE left $left")
      }
    }
  }

  test("a clone's vector index survives SQL DROP and DROP PURGE of its source") {
    val (cat, root) = freshCat()
    val ext = sqlOn(root)
    val df = planted(0 until 40)
    val qs = queriesOf(df, 4)
    for (purge <- Seq(false, true)) {
      val (src, cl) = if (purge) ("vsrc_p", "vcl_p") else ("vsrc", "vcl")
      // the default SQL deployment: data under the source's own tree
      Writers.writeSnapshot(cat, src, df, s"$root/$src/${SnapshotCatalog.DataDir}")
      VectorIndex.indexVectors(spark, cat, src, "id", "vec", m = 4, k = 4, nCells = 4)
      cat.cloneTable(src, cl)
      val before = resultSet(
        VectorIndex.search(spark, cat, cl, qs, k = 3, excludeSelf = true))
      assert(before.nonEmpty)
      ext.sql(s"DROP TABLE graft.$src" + (if (purge) " PURGE" else ""))
      assert(resultSet(
        VectorIndex.search(spark, cat, cl, qs, k = 3, excludeSelf = true)) == before,
        s"DROP TABLE $src${if (purge) " PURGE" else ""} changed the clone's answers")
    }
  }

  test("DROP TABLE PURGE of an unshared vector-indexed table leaves no pqindex file") {
    val (cat, root) = freshCat()
    Writers.writeSnapshot(cat, "vecs", planted(0 until 40), s"$root/vecs/data")
    VectorIndex.indexVectors(spark, cat, "vecs", "id", "vec", m = 4, k = 4, nCells = 4)
    // an append encodes a second codes dir under the sticky model
    Writers.writeSnapshot(cat, "vecs", planted(100 until 120), s"$root/vecs/data")
    val pq = java.nio.file.Paths.get(root, "vecs", SnapshotCatalog.PqIndexDir)
    def filesUnderPq: Long =
      if (!Files.exists(pq)) 0L
      else {
        val st = Files.walk(pq)
        try st.filter(Files.isRegularFile(_)).count() finally st.close()
      }
    assert(filesUnderPq > 0)
    sqlOn(root).sql("DROP TABLE graft.vecs PURGE")
    assert(filesUnderPq == 0, s"PURGE left $filesUnderPq files under $pq")
    assert(!Files.exists(java.nio.file.Paths.get(root, "vecs")),
      "an unshared table vanishes whole")
  }
}
