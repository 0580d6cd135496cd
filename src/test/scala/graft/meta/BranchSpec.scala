package graft.meta

import java.nio.file.{Files, Paths}

import graft.{SparkSpec, Tables}
import graft.sinks.Writers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Branches (S44): isolated writable refs as self-contained snapshot
  * chains. A branch ref is a first-class catalog table, so the whole
  * engine surface (reads, time travel, CDC, MoR deletes) works on it;
  * fast-forward publishes the chain back with its feed intact. */
class BranchSpec extends SparkSpec {

  private def keys(cat: SnapshotCatalog, table: String): Set[Long] =
    cat.read(spark, table).select(col("c_custkey")).collect().map(_.getLong(0)).toSet

  private def feed(df: DataFrame): Set[(Long, String)] =
    df.select(col("c_custkey"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("branch writes are invisible to the table; branch sees fork state plus its own commits") {
    val base = tempDir("graft-br-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 40), s"$base/d")
    val head = Writers.writeSnapshot(cat, "cust",
      c.filter(col("c_custkey").between(41, 60)), s"$base/d")

    val fork = cat.createBranch("cust", "dev")
    assert(fork.snapshotId == 1L)
    assert(fork.props.get(SnapshotCatalog.ForkIdProp).contains(head.snapshotId.toString))
    val ref = cat.branchRef("cust", "dev")

    // fork state == table state, via one metadata-only commit
    assert(keys(cat, ref) == keys(cat, "cust"))

    // branch-only append + COW delete
    Writers.writeSnapshot(cat, ref, c.filter(col("c_custkey").between(61, 70)), s"$base/d")
    Writers.deleteWhere(spark, cat, ref,
      df => df.filter(col("c_custkey") > 5), Nil, s"$base/d")

    val expectBranch = c.filter(col("c_custkey").between(6, 70))
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    assert(keys(cat, ref) == expectBranch)
    // the table never saw any of it
    assert(cat.currentSnapshot("cust").get.snapshotId == head.snapshotId)
    assert(keys(cat, "cust") ==
      c.filter(col("c_custkey") <= 60).select(col("c_custkey"))
        .collect().map(_.getLong(0)).toSet)
    // branch-internal time travel: snapshot 1 is the fork state
    assert(cat.read(spark, ref, snapshotId = Some(1L)).count() ==
      c.filter(col("c_custkey") <= 60).count())
    // listing + lifecycle
    assert(cat.branches("cust") == Seq("dev"))
    assert(cat.tables().contains("cust") && !cat.tables().exists(_.contains("branches")))
    assert(cat.dropBranch("cust", "dev"))
    assert(cat.branches("cust").isEmpty)
  }

  test("branch from an older snapshot id; branch-of-branch refused; bad names refused") {
    val base = tempDir("graft-br2-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    val s1 = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 20), s"$base/d")
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey").between(21, 40)), s"$base/d")

    cat.createBranch("cust", "old", fromSnapshotId = Some(s1.snapshotId))
    val ref = cat.branchRef("cust", "old")
    assert(cat.read(spark, ref).count() == c.filter(col("c_custkey") <= 20).count())

    intercept[IllegalArgumentException](cat.branchRef(ref, "nested"))
    intercept[IllegalArgumentException](cat.branchRef("cust", "../escape"))
    intercept[IllegalStateException](cat.createBranch("cust", "old"))
  }

  test("fast-forward replays the branch chain onto the table with an exact change feed") {
    val base = tempDir("graft-ff-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    val head = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 50), s"$base/d")

    cat.createBranch("cust", "etl")
    val ref = cat.branchRef("cust", "etl")
    Writers.writeSnapshot(cat, ref, c.filter(col("c_custkey").between(51, 70)), s"$base/d")
    Writers.deleteWhere(spark, cat, ref,
      df => df.filter(col("c_custkey") =!= 10), Nil, s"$base/d")
    val branchState = keys(cat, ref)
    val branchFeed = feed(cat.changesBetween(spark, ref, 1L))

    val newHead = cat.fastForward("cust", "etl")
    // one table commit per branch commit, labels + lineage preserved
    assert(newHead.snapshotId == head.snapshotId + 2)
    assert(newHead.props.get(SnapshotCatalog.OperationProp)
      .contains(SnapshotCatalog.OpDelete) ||
      newHead.props.get(SnapshotCatalog.OperationProp)
        .contains(SnapshotCatalog.OpRewrite))
    assert(newHead.props.get(SnapshotCatalog.FastForwardOfProp).exists(_.startsWith("etl@")))
    assert(keys(cat, "cust") == branchState)
    // the table's feed across the publish IS the branch's own feed
    assert(feed(cat.changesBetween(spark, "cust", head.snapshotId)) == branchFeed)
  }

  test("fast-forward refuses a diverged table") {
    val base = tempDir("graft-ffd-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 30), s"$base/d")
    cat.createBranch("cust", "dev")
    Writers.writeSnapshot(cat, cat.branchRef("cust", "dev"),
      c.filter(col("c_custkey").between(31, 40)), s"$base/d")
    // table moves past the fork point
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey").between(41, 50)), s"$base/d")
    intercept[IllegalArgumentException](cat.fastForward("cust", "dev"))
  }

  test("vacuum keeps branch-only files live until the branch is dropped") {
    val base = tempDir("graft-brv-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 20), s"$base/d")
    cat.createBranch("cust", "dev")
    val ref = cat.branchRef("cust", "dev")
    val bs = Writers.writeSnapshot(cat, ref,
      c.filter(col("c_custkey").between(21, 30)), s"$base/d")
    val branchOnly = bs.files.map(_.path).toSet --
      cat.currentSnapshot("cust").get.files.map(_.path).toSet
    assert(branchOnly.nonEmpty)

    // zero grace: everything unreferenced would go — branch files stay
    val removed1 = cat.vacuumDataFiles("cust", s"$base/d", graceMs = 0L)
    assert(removed1.isEmpty)
    assert(branchOnly.forall(p => Files.exists(Paths.get(p))))

    cat.dropBranch("cust", "dev")
    val removed2 = cat.vacuumDataFiles("cust", s"$base/d", graceMs = 0L).toSet
    assert(removed2 == branchOnly)
    // table reads intact
    assert(cat.read(spark, "cust").count() == c.filter(col("c_custkey") <= 20).count())
  }

  test("MoR equality delete on a branch stays branch-local and fast-forwards exactly") {
    val base = tempDir("graft-brm-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    val head = Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 40), s"$base/d")
    cat.createBranch("cust", "gdpr")
    val ref = cat.branchRef("cust", "gdpr")
    import spark.implicits._
    Writers.deleteByKeys(spark, cat, ref, Seq(7L, 9L).toDF("c_custkey"),
      Seq("c_custkey"), s"$base/d")

    assert(!keys(cat, ref).contains(7L) && !keys(cat, ref).contains(9L))
    assert(keys(cat, "cust").contains(7L)) // table unaffected

    cat.fastForward("cust", "gdpr")
    assert(keys(cat, "cust") == keys(cat, ref))
    val f = feed(cat.changesBetween(spark, "cust", head.snapshotId))
    assert(f == Set((7L, "delete"), (9L, "delete")))
  }
}
