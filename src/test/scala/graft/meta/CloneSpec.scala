package graft.meta

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import graft.sinks.Writers
import org.apache.spark.sql.functions._

/** Zero-copy table clone (S51): the clone pins the source's snapshot by
  * reference (no data bytes move), then the two tables live independent
  * lives — commits, deletes, refs and drops on one side never touch the
  * other. */
class CloneSpec extends SparkSpec {

  private def keys(cat: SnapshotCatalog, table: String): Set[Long] =
    cat.read(spark, table).select(col("c_custkey")).collect().map(_.getLong(0)).toSet

  test("clone reads the pinned state; both sides then diverge independently") {
    val base = tempDir("graft-clone-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 50), s"$base/d")
    val srcHead = cat.currentSnapshot("cust").get

    val cloned = cat.cloneTable("cust", "cust2")
    assert(cloned.snapshotId == 1L)
    assert(cloned.props.get(SnapshotCatalog.ForkTableProp).contains("cust"))
    assert(cloned.props.get(SnapshotCatalog.ForkIdProp).contains(srcHead.snapshotId.toString))
    // zero-copy: the clone lists the SAME file paths, no new data files
    assert(cloned.files.map(_.path) == srcHead.files.map(_.path))
    assert(keys(cat, "cust2") == keys(cat, "cust"))
    assert(cat.tables().contains("cust2"))

    // source append: clone must not see it
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey").between(51, 60)), s"$base/d")
    assert(keys(cat, "cust2") == c.filter(col("c_custkey") <= 50)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet)

    // clone-side MoR delete: source must not feel it
    Writers.deleteWhereMoR(spark, cat, "cust2", col("c_custkey") <= 10,
      Seq(RangeNum("c_custkey", Double.NegativeInfinity, 10.0)), s"$base/d")
    assert(keys(cat, "cust2") == c.filter(col("c_custkey").between(11, 50))
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet)
    assert(keys(cat, "cust") == c.filter(col("c_custkey") <= 60)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet)

    // clone is a first-class table: own time travel back to the pin
    assert(cat.read(spark, "cust2", snapshotId = Some(1L)).count() ==
      c.filter(col("c_custkey") <= 50).count())

    // dropping the clone leaves the source intact (shared files survive:
    // drop removes metadata; data files remain live via the source)
    assert(cat.dropTable("cust2"))
    assert(!cat.tables().contains("cust2"))
    assert(keys(cat, "cust") == c.filter(col("c_custkey") <= 60)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet)
  }

  test("clone pins a historical snapshot; sticky index props carry; name collisions refuse") {
    val base = tempDir("graft-clone2-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 20), s"$base/d",
      bloomColumns = Seq("c_custkey"))
    val v1 = cat.currentSnapshot("cust").get
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey").between(21, 40)), s"$base/d")

    val pinned = cat.cloneTable("cust", "cust_v1", fromSnapshotId = Some(v1.snapshotId))
    assert(keys(cat, "cust_v1") == c.filter(col("c_custkey") <= 20)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet)
    // sticky bloom columns carry so the clone keeps indexing new commits
    assert(pinned.props.get(SnapshotCatalog.BloomColumnsProp).contains("c_custkey"))
    // and the clone's files still reference the source's sidecars
    assert(pinned.files.forall(_.blooms.nonEmpty))

    intercept[IllegalStateException] { cat.cloneTable("cust", "cust_v1") }
    intercept[IllegalArgumentException] { cat.cloneTable("nope", "x") }
  }

  test("source-side expire + vacuum never deletes bytes a clone still lists") {
    import java.nio.file.Paths
    val base = tempDir("graft-clone3-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "vsrc", c.filter(col("c_custkey") <= 30)
      .coalesce(1), s"$base/d")
    val shared = cat.currentSnapshot("vsrc").get.files.map(_.path)
    cat.cloneTable("vsrc", "vkeep")
    // the source moves on: overwrite drops every reference to the
    // original files, then expiration erases the history that held them
    Writers.replaceSnapshot(cat, "vsrc",
      c.filter(col("c_custkey").between(31, 40)).coalesce(1), s"$base/d")
    cat.expireSnapshots("vsrc", keepLast = 1)
    assert(!cat.snapshots("vsrc").flatMap(_.files).map(_.path).exists(shared.contains))
    // vacuum with zero grace: the shared bytes are orphans of vsrc but
    // live for the clone — they must survive
    val removed = cat.vacuumDataFiles("vsrc", s"$base/d", graceMs = 0L)
    assert(!removed.exists(shared.contains),
      s"vacuum deleted clone-referenced files: ${removed.filter(shared.contains)}")
    assert(shared.forall(p => java.nio.file.Files.exists(Paths.get(p))))
    assert(keys(cat, "vkeep") == c.filter(col("c_custkey") <= 30)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet)
    // dropping the clone releases the bytes to the next vacuum
    cat.dropTable("vkeep")
    val removed2 = cat.vacuumDataFiles("vsrc", s"$base/d", graceMs = 0L)
    assert(shared.forall(p => removed2.contains(p) ||
      !java.nio.file.Files.exists(Paths.get(p))))
  }

  test("clone-referenced SIDECARS survive source drop/vacuum; missing ones degrade, not fail") {
    import java.nio.file.Paths
    import graft.meta.{EqString => Eq}
    val base = tempDir("graft-clone4-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "bsrc", c.filter(col("c_custkey") <= 30).coalesce(1),
      s"$base/d", bloomColumns = Seq("c_name"))
    cat.cloneTable("bsrc", "bkeep")
    val sidecars = cat.currentSnapshot("bkeep").get.files
      .flatMap(_.blooms.values).filter(_.startsWith("/"))
    assert(sidecars.nonEmpty)
    // an in-range value absent from the data: only the bloom can prune it
    val ghost = "Customer#0000000150000"
    assert(cat.planFiles("bkeep", Seq(Eq("c_name", ghost))).isEmpty)

    // source-side expire + sidecar vacuum: clone-referenced sidecars live
    Writers.replaceSnapshot(cat, "bsrc",
      c.filter(col("c_custkey").between(31, 35)).coalesce(1), s"$base/d")
    cat.expireSnapshots("bsrc", keepLast = 1)
    cat.vacuumSidecars("bsrc", graceMs = 0L)
    assert(sidecars.forall(p => java.nio.file.Files.exists(Paths.get(p))))

    // plain DROP of the source spares sidecar dirs too: the clone keeps
    // reading AND keeps its bloom pruning
    cat.dropTable("bsrc")
    assert(sidecars.forall(p => java.nio.file.Files.exists(Paths.get(p))))
    assert(cat.planFiles("bkeep", Seq(Eq("c_name", ghost))).isEmpty)
    assert(keys(cat, "bkeep") == c.filter(col("c_custkey") <= 30)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet)

    // a genuinely missing sidecar (deleted by an out-of-catalog actor)
    // degrades to "no bloom": the file is kept and the read still works
    sidecars.foreach(p => java.nio.file.Files.delete(Paths.get(p)))
    assert(cat.planFiles("bkeep", Seq(Eq("c_name", ghost))).nonEmpty)
    assert(keys(cat, "bkeep") == c.filter(col("c_custkey") <= 30)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet)
  }

  test("a dropped branch's sidecars fall to the sidecar vacuum") {
    import java.nio.file.Paths
    val base = tempDir("graft-clone5-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "t", c.filter(col("c_custkey") <= 20).coalesce(1),
      s"$base/d", bloomColumns = Seq("c_name"))
    cat.createBranch("t", "dev")
    val ref = cat.branchRef("t", "dev")
    Writers.writeSnapshot(cat, ref, c.filter(col("c_custkey").between(21, 40)).coalesce(1),
      s"$base/d")
    val mainSidecars = cat.currentSnapshot("t").get.files.flatMap(_.blooms.values).toSet
    val branchSidecars = cat.currentSnapshot(ref).get.files.flatMap(_.blooms.values)
      .filterNot(mainSidecars.contains)
    assert(branchSidecars.nonEmpty &&
      branchSidecars.forall(_.startsWith(cat.tableDirOf(ref) + "/")))
    // while the branch lives, its sidecars are live
    assert(cat.vacuumSidecars("t", graceMs = 0L).isEmpty)

    assert(cat.dropBranch("t", "dev"))
    assert(branchSidecars.forall(p => Files.exists(Paths.get(p))),
      "a drop deletes no payload bytes")
    cat.expireSnapshots("t", keepLast = 1)
    val removed = cat.vacuumSidecars("t", graceMs = 0L)
    assert(branchSidecars.forall(removed.contains), s"not reclaimed: $branchSidecars")
    assert(branchSidecars.forall(p => !Files.exists(Paths.get(p))))
    assert(mainSidecars.forall(p => Files.exists(Paths.get(p))))
  }
}
