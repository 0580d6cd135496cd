package graft.sql

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.meta.SnapshotCatalog
import graft.sinks.Writers
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.functions._

/** `CALL graft.<proc>(...)` — the SQL maintenance surface (S56). Every
  * procedure must route to the SAME maintenance code the Scala API
  * uses: compaction is row-preserving and CDC-silent, expiration
  * respects retention, vacuum deletes only unreferenced files, rollback
  * and cherry-pick are new commits. Procedures return a one-row summary
  * the caller can assert on. */
class GraftCallSpec extends SparkSpec {

  private lazy val root = tempDir("graft-call-").toString
  private lazy val dataDir = tempDir("graft-call-data-").toString
  private lazy val cat = new SnapshotCatalog(root)

  private lazy val ext = {
    val s = GraftColumnShim.sessionWithExtensions(
      spark, e => new graft.GraftExtensions().apply(e))
    s.conf.set(GraftSqlResolution.RootConf, root)
    s
  }

  private def freshTable(name: String, keys: Range): String = {
    Writers.writeSnapshot(cat, name,
      graft.Tables.customer(spark, sfDir)
        .filter(col("c_custkey").isin(keys.map(Integer.valueOf): _*))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
      dataDir)
    name
  }

  test("CALL graft.compact merges small files, preserves rows, stays CDC-silent") {
    val t = freshTable("cmp", 1 to 10)
    // three one-row SQL appends → four files, three of them tiny
    (1 to 3).foreach { i =>
      ext.sql(s"INSERT INTO $t VALUES (${100 + i}, 'Late#$i', $i.5)")
    }
    val before = cat.currentSnapshot(t).get
    val rowsBefore = ext.sql(s"SELECT * FROM $t").collect().toSet
    val res = ext.sql(s"CALL graft.compact('$t')").head()
    assert(res.getBoolean(0), "compact should commit on 4 small files")
    val after = cat.currentSnapshot(t).get
    assert(res.getLong(1) == after.snapshotId)
    assert(after.props.get(SnapshotCatalog.OperationProp)
      .contains(SnapshotCatalog.OpCompact))
    assert(after.files.size < before.files.size)
    assert(ext.sql(s"SELECT * FROM $t").collect().toSet == rowsBefore)
    // row-preserving commit: the change feed across the compaction is empty
    assert(cat.changesBetween(spark, t, before.snapshotId).isEmpty)
  }

  test("CALL graft.compact with where => scopes the sweep to the matching partition") {
    import graft.meta.DaysTransform
    val t = "cmpw"
    val days = Seq(DaysTransform("ts"))
    val ev = graft.Tables.events(spark, sfDir)
      .filter(col("ts") < lit("2024-01-04").cast("timestamp"))
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    // 3 days x 3 small files each
    (0 until 3).foreach { i =>
      Writers.writeTransformedSnapshot(cat, t,
        ev.filter(pmod(col("event_id"), lit(3)) === i).repartition(1),
        s"$dataDir/$t-a$i", days)
    }
    val before = cat.currentSnapshot(t).get
    assert(before.files.size == 9)
    val rowsBefore = ext.sql(s"SELECT * FROM $t").collect().toSet
    val res = ext.sql(s"CALL graft.compact('$t', " +
      "where => 'ts >= TIMESTAMP \\'2024-01-02\\' AND ts < TIMESTAMP \\'2024-01-03\\'')")
      .head()
    assert(res.getBoolean(0))
    val after = cat.currentSnapshot(t).get
    // only the matching day's 3 files compacted; the other 6 SURVIVE
    // with their file identity (metadata untouched)
    val dayOf = (f: graft.meta.FileMeta) => f.partitionValues(days.head.partCol)
    val untouchedBefore = before.files.filter(f => dayOf(f) != "2024-01-02").map(_.path).toSet
    assert(after.files.filter(f => dayOf(f) != "2024-01-02").map(_.path).toSet ==
      untouchedBefore)
    assert(after.files.count(f => dayOf(f) == "2024-01-02") == 1)
    assert(ext.sql(s"SELECT * FROM $t").collect().toSet == rowsBefore)
    assert(cat.changesBetween(spark, t, before.snapshotId).isEmpty)
    // a predicate yielding no manifest filter refuses loudly
    val ex = intercept[Exception] {
      ext.sql(s"CALL graft.compact('$t', where => 'value + 1 > 0')")
    }
    assert(ex.getMessage.contains("yields no manifest filter"))
  }

  test("CALL graft.check audits data quality from SQL: per-rule violation counts") {
    val t = freshTable("qc", 1 to 10)
    ext.sql(s"INSERT INTO $t VALUES (301, NULL, -5.0), (301, 'Dup#301', 2.0)")
    val rep = ext.sql(s"CALL graft.check('$t', 'c_name IS NOT NULL', " +
      "'c_acctbal >= -1000.0', unique => 'c_custkey')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("check:c_name IS NOT NULL") == 1L) // the planted null
    assert(rep("check:c_acctbal >= -1000.0") == 0L)
    assert(rep("unique:c_custkey") == 1L) // 301 appears twice
    // a clean table audits clean; no predicate refuses
    val clean = ext.sql(s"CALL graft.check('$t', 'c_custkey > 0')")
      .head().getLong(1)
    assert(clean == 0L)
    val ex = intercept[Exception] { ext.sql(s"CALL graft.check('$t')") }
    assert(ex.getMessage.contains("at least one predicate"))
    // predicates are plain SQL: a string literal uses standard ''
    // escaping inside the CALL argument, and the label reports VERBATIM
    // (no backtick-for-quote rewriting)
    val lit = ext.sql(s"CALL graft.check('$t', 'c_name != ''nope''')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lit("check:c_name != 'nope'") == 1L) // only the planted NULL name
  }

  test("CALL graft.changelog registers the net CDC feed as a queryable view") {
    val t = freshTable("chg", 1 to 5)
    val s1 = cat.currentSnapshot(t).get.snapshotId
    ext.sql(s"INSERT INTO $t VALUES (300, 'New#300', 1.0)")
    ext.sql(s"DELETE FROM $t WHERE c_custkey = 1")
    ext.sql(s"UPDATE $t SET c_acctbal = 99.0 WHERE c_custkey = 2")
    // feed from s1 to current, registered under a chosen name
    val v = ext.sql(s"CALL graft.changelog('$t', $s1, view => 'chg_feed')")
      .head().getString(0)
    assert(v == "chg_feed")
    val feed = ext.sql(
      "SELECT _change_type, c_custkey FROM chg_feed ORDER BY _change_type, c_custkey")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // NET: insert of 300, delete of 1, update of 2 (delete+insert pair)
    assert(feed.contains(("insert", 300L)) && feed.contains(("delete", 1L)))
    assert(feed.contains(("delete", 2L)) && feed.contains(("insert", 2L)))
    assert(!feed.exists(_._2 == 3L)) // untouched rows never appear
    // the view composes with plain SQL (aggregate over the feed)
    val n = ext.sql("SELECT count(*) AS n FROM chg_feed WHERE _change_type = 'insert'")
      .head().getLong(0)
    assert(n == 2L)
    // bounded to-snapshot: only the first commit's insert
    ext.sql(s"CALL graft.changelog('$t', $s1, ${s1 + 1}, view => 'chg_one')")
    val one = ext.sql("SELECT _change_type, c_custkey FROM chg_one").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(one.toSeq == Seq(("insert", 300L)))
    // refusals: missing from-snapshot, invalid view name
    val e1 = intercept[Exception] { ext.sql(s"CALL graft.changelog('$t')") }
    assert(e1.getMessage.contains("from-snapshot"))
    val e2 = intercept[Exception] {
      ext.sql(s"CALL graft.changelog('$t', $s1, view => 'bad name')")
    }
    assert(e2.getMessage.contains("invalid view name"))
    // a feed named like a catalog table/view would temp-view-shadow it
    // for every later plain-name read — refuse, don't hijack
    val e3 = intercept[Exception] {
      ext.sql(s"CALL graft.changelog('$t', $s1, view => '$t')")
    }
    assert(e3.getMessage.contains("shadow"))
    ext.sql(s"CREATE VIEW graft.chg_v AS SELECT c_custkey FROM $t")
    val e4 = intercept[Exception] {
      ext.sql(s"CALL graft.changelog('$t', $s1, view => 'chg_v')")
    }
    assert(e4.getMessage.contains("shadow") && e4.getMessage.contains("view"))
    ext.sql("DROP VIEW graft.chg_v")
  }

  test("WAP from pure SQL: stage invisibly, audit the prospective state, publish iff clean, discard") {
    val t = freshTable("wap", 1 to 8)
    val baseRows = ext.sql(s"SELECT * FROM $t").collect().toSet
    val baseSnap = cat.currentSnapshot(t).get.snapshotId
    // STAGE: a batch with a planted violation (null name) — invisible
    val dirtyId = ext.sql(s"CALL graft.stage('$t', " +
      "'SELECT 501L, CAST(NULL AS STRING), -3.0')").head().getString(0)
    assert(ext.sql(s"SELECT * FROM $t").collect().toSet == baseRows,
      "a staged batch must be invisible to reads")
    assert(cat.currentSnapshot(t).get.snapshotId == baseSnap,
      "staging must not commit")
    assert(cat.changesBetween(spark, t, baseSnap).isEmpty,
      "a staged batch must be invisible to CDC")
    // the audit queue lists it
    val queue = ext.sql(s"CALL graft.staged('$t')").collect()
    assert(queue.map(_.getString(0)).contains(dirtyId))
    // AUDIT the prospective state: the staged null violates; base rows pass
    val audit = ext.sql(s"CALL graft.check('$t', 'c_name IS NOT NULL', " +
      s"staged => '$dirtyId')").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit("check:c_name IS NOT NULL") == 1L)
    // GATED PUBLISH refuses: rows report the violation, nothing commits,
    // the staged entry stays for inspection
    val refused = ext.sql(s"CALL graft.publish_if_clean('$t', '$dirtyId', " +
      "'c_name IS NOT NULL')").collect()
    assert(refused.forall(!_.getBoolean(2)) &&
      refused.exists(r => r.getString(0) == "check:c_name IS NOT NULL" && r.getLong(1) == 1L))
    assert(cat.currentSnapshot(t).get.snapshotId == baseSnap)
    assert(cat.listStaged(t).contains(dirtyId), "a failed audit keeps the evidence")
    // DISCARD it; its files fall to remove_orphans
    assert(ext.sql(s"CALL graft.discard_staged('$t', '$dirtyId')").head().getBoolean(0))
    assert(!cat.listStaged(t).contains(dirtyId))
    val removed = ext.sql(s"CALL graft.remove_orphans('$t', grace_s => 0)")
      .head().getLong(0)
    assert(removed >= 1L, "discarded staged files are orphans")
    assert(ext.sql(s"SELECT * FROM $t").collect().toSet == baseRows)
    // a clean batch staged, gate-published: rows land, WAP id recorded
    val cleanId = ext.sql(s"CALL graft.stage('$t', " +
      "'SELECT 502L, ''Clean#502'', 7.5')").head().getString(0)
    val ok = ext.sql(s"CALL graft.publish_if_clean('$t', '$cleanId', " +
      "'c_name IS NOT NULL', unique => 'c_custkey')").collect()
    assert(ok.forall(_.getBoolean(2)) && ok.length == 2)
    val published = cat.currentSnapshot(t).get
    assert(published.snapshotId == baseSnap + 1)
    assert(published.props.get(SnapshotCatalog.WapIdProp).contains(cleanId))
    assert(ext.sql(s"SELECT c_name FROM $t WHERE c_custkey = 502").head()
      .getString(0) == "Clean#502")
    // unconditional publish path + refusals
    val id3 = ext.sql(s"CALL graft.stage('$t', 'SELECT 503L, ''X#503'', 1.0')")
      .head().getString(0)
    val snap3 = ext.sql(s"CALL graft.publish_staged('$t', '$id3')").head().getLong(0)
    assert(snap3 == published.snapshotId + 1)
    assert(ext.sql(s"CALL graft.staged('$t')").collect().isEmpty)
    val e1 = intercept[Exception] {
      ext.sql(s"CALL graft.discard_staged('$t', 'nosuch')")
    }
    assert(e1.getMessage.contains("no staged commit"))
    val e2 = intercept[Exception] {
      ext.sql(s"CALL graft.stage('$t', 'SELECT 1L')")
    }
    assert(e2.getMessage.contains("columns"))
  }

  test("WAP on a branch: stage/gate-publish against dev, fast_forward lands it on main") {
    val t = freshTable("wapbr", 1 to 5)
    ext.sql(s"CALL graft.branch('$t', 'dev')")
    val ref = s"$t/branches/dev"
    val id = ext.sql(s"CALL graft.stage('$ref', 'SELECT 600L, ''Dev#600'', 6.0')")
      .head().getString(0)
    // staged: invisible on BOTH refs
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 5L)
    assert(ext.sql(s"SELECT count(*) AS n FROM `$ref`").head().getLong(0) == 5L)
    val ok = ext.sql(
      s"CALL graft.publish_if_clean('$ref', '$id', 'c_name IS NOT NULL')").collect()
    assert(ok.forall(_.getBoolean(2)))
    // published on the branch only...
    assert(ext.sql(s"SELECT count(*) AS n FROM `$ref`").head().getLong(0) == 6L)
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 5L)
    // ...fast-forward is the main-publish step
    ext.sql(s"CALL graft.fast_forward('$t', 'dev')")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 6L)
    assert(ext.sql(s"SELECT c_name FROM $t WHERE c_custkey = 600").head()
      .getString(0) == "Dev#600")
  }

  test("CALL graft.expire_snapshots trims history to retain_last") {
    val t = freshTable("exp", 1 to 3)
    ext.sql(s"INSERT INTO $t VALUES (201, 'A', 1.0)")
    ext.sql(s"INSERT INTO $t VALUES (202, 'B', 2.0)")
    assert(cat.snapshots(t).size == 3)
    val n = ext.sql(s"CALL graft.expire_snapshots('$t', retain_last => 1)")
      .head().getLong(0)
    assert(n == 2 && cat.snapshots(t).size == 1)
    // current state unaffected
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 5)
  }

  test("CALL graft.remove_orphans deletes unreferenced files only") {
    val t = freshTable("orp", 1 to 4)
    // the table's own dataDir (root/<t>/data) with a planted orphan
    val ownDir = Paths.get(root, t, "data")
    Files.createDirectories(ownDir)
    val orphan = ownDir.resolve("orphan-not-in-any-snapshot.parquet")
    Files.write(orphan, Array[Byte](80, 65, 82, 49))
    // a referenced file written through SQL INSERT lands in the same dir
    ext.sql(s"INSERT INTO $t VALUES (300, 'Kept', 9.0)")
    val res = ext.sql(s"CALL graft.remove_orphans('$t', grace_s => 0)").head()
    assert(res.getLong(0) >= 1)
    assert(!Files.exists(orphan), "orphan must be deleted")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 5,
      "referenced files must survive the vacuum")
  }

  test("CALL graft.expire_rows sweeps rows before the cutoff as a MoR mask, no data churn") {
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("value"))
    Writers.writeSnapshot(cat, "ttlsql", ev.repartitionByRange(4, col("ts")), dataDir)
    val (minTs, maxTs) = {
      val r = ev.agg(min(col("ts")).cast("long"), max(col("ts")).cast("long")).head()
      (r.getLong(0) * 1000L, r.getLong(1) * 1000L)
    }
    val cutoff = (minTs + maxTs) / 2
    val expectedKept = ev.filter(
      col("ts").cast("timestamp") >= timestamp_millis(lit(cutoff))).count()
    val before = cat.currentSnapshot("ttlsql").get
    val sid = ext.sql(s"CALL graft.expire_rows('ttlsql', 'ts', cutoff_ms => $cutoff)")
      .head().getLong(0)
    val after = cat.currentSnapshot("ttlsql").get
    assert(sid == after.snapshotId && after.snapshotId == before.snapshotId + 1)
    // MoR: the sweep is a mask commit, zero data-file churn
    assert(after.files.map(_.path) == before.files.map(_.path))
    assert(after.deleteFiles.size > before.deleteFiles.size)
    assert(ext.sql("SELECT count(*) AS n FROM ttlsql").head().getLong(0) == expectedKept)
    assert(expectedKept > 0, "fixture must keep a live tail")
    // an age so large nothing qualifies: no commit, head unchanged
    val same = ext.sql(
      "CALL graft.expire_rows('ttlsql', 'ts', older_than_ms => 4102444800000)")
      .head().getLong(0)
    assert(same == after.snapshotId)
    // missing cutoff refuses with the expected usage
    val e = intercept[Exception] { ext.sql("CALL graft.expire_rows('ttlsql', 'ts')") }
    assert(e.getMessage.contains("cutoff_ms"))
  }

  test("CALL graft.rollback and graft.cherrypick move the table as new commits") {
    val t = freshTable("rb", 1 to 2)
    val v1 = cat.currentSnapshot(t).get.snapshotId
    ext.sql(s"INSERT INTO $t VALUES (401, 'Extra', 4.0)")
    val v2 = cat.currentSnapshot(t).get.snapshotId
    val rolled = ext.sql(s"CALL graft.rollback('$t', $v1)").head().getLong(0)
    assert(rolled > v2, "rollback is a NEW commit, not a history rewrite")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 2)
    // cherry-pick re-applies the rolled-off append on top
    ext.sql(s"CALL graft.cherrypick('$t', $v2)")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 3)
  }

  test("CALL graft.clone creates a zero-copy table; graft.system namespace works") {
    val t = freshTable("cl", 1 to 6)
    ext.sql(s"CALL graft.system.clone('$t', 'cl2')")
    assert(ext.sql("SELECT * FROM cl2").collect().toSet ==
      ext.sql(s"SELECT * FROM $t").collect().toSet)
    // writes to the clone don't touch the source
    ext.sql("INSERT INTO cl2 VALUES (500, 'CloneOnly', 0.5)")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 6)
    assert(ext.sql("SELECT count(*) AS n FROM cl2").head().getLong(0) == 7)
  }

  test("CALL graft.tag names a snapshot for SQL time travel; drop_tag removes it") {
    val t = freshTable("tg", 1 to 4)
    val v = ext.sql(s"CALL graft.tag('$t', 'prod')").head().getLong(0)
    assert(v == cat.currentSnapshot(t).get.snapshotId)
    ext.sql(s"INSERT INTO $t VALUES (600, 'After', 1.0)")
    // the tag reaches the pre-insert state from pure SQL
    assert(ext.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF 'prod'")
      .head().getLong(0) == 4)
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 5)
    // explicit version form
    ext.sql(s"CALL graft.tag('$t', 'pinned', version => $v)")
    assert(cat.tags(t)("pinned") == v)
    ext.sql(s"CALL graft.drop_tag('$t', 'pinned')")
    assert(!cat.tags(t).contains("pinned"))
    val err = intercept[Exception] { ext.sql(s"CALL graft.drop_tag('$t', 'pinned')") }
    assert(err.getMessage.contains("no tag"))
  }

  test("CALL graft.branch + backquoted ref: SQL reads, writes and fast-forwards a branch") {
    val t = freshTable("br", 1 to 5)
    ext.sql(s"CALL graft.branch('$t', 'dev')")
    val ref = s"`$t/branches/dev`"
    // branch reads the fork point
    assert(ext.sql(s"SELECT count(*) AS n FROM $ref").head().getLong(0) == 5)
    // SQL DML lands on the BRANCH only (the ref is a full catalog table)
    ext.sql(s"INSERT INTO $ref VALUES (800, 'BranchOnly', 2.0)")
    assert(ext.sql(s"SELECT count(*) AS n FROM $ref").head().getLong(0) == 6)
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 5)
    // fast-forward publishes the branch to the base table
    ext.sql(s"CALL graft.fast_forward('$t', 'dev')")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 6)
    ext.sql(s"CALL graft.drop_branch('$t', 'dev')")
    assert(!cat.branches(t).contains("dev"))
    // a second drop finds no branch, though the branch's payload stays on disk
    assert(Files.isDirectory(Paths.get(cat.tableDirOf(s"$t/branches/dev"))))
    val again = intercept[Exception] {
      ext.sql(s"CALL graft.drop_branch('$t', 'dev')")
    }
    assert(again.getMessage.contains("no branch 'dev'"))
    // the dropped ref no longer resolves in SQL
    val err = intercept[Exception] { ext.sql(s"SELECT * FROM $ref") }
    assert(err != null)
  }

  test("CALL graft.branch and graft.clone honor a positional version argument") {
    val t = freshTable("pos", 1 to 3)
    val v1 = cat.currentSnapshot(t).get.snapshotId
    ext.sql(s"INSERT INTO $t VALUES (905, 'Later', 5.0)")
    // Iceberg-style positional third argument = snapshot version; it must
    // pin the fork point, not be silently discarded for the current head
    ext.sql(s"CALL graft.branch('$t', 'old', $v1)")
    assert(ext.sql(s"SELECT count(*) AS n FROM `$t/branches/old`")
      .head().getLong(0) == 3)
    ext.sql(s"CALL graft.clone('$t', 'pos_old', $v1)")
    assert(ext.sql("SELECT count(*) AS n FROM pos_old").head().getLong(0) == 3)
    // named form still works and agrees
    ext.sql(s"CALL graft.clone('$t', 'pos_old2', version => $v1)")
    assert(ext.sql("SELECT count(*) AS n FROM pos_old2").head().getLong(0) == 3)
  }

  test("CALL graft.rewrite_sorted re-clusters: pruning selective again, rows kept, CDC-silent") {
    import graft.meta.RangeNum
    val t = "rws"
    // three interleaved appends: every file spans the whole key range,
    // so range pruning keeps everything — the degradation this verb fixes
    (0 until 3).foreach { i =>
      Writers.writeSnapshot(cat, t,
        graft.Tables.customer(spark, sfDir)
          .filter(col("c_custkey") <= 90 && col("c_custkey") % 3 === i)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal")).coalesce(1),
        dataDir)
    }
    val before = cat.currentSnapshot(t).get
    assert(before.files.size == 3)
    assert(cat.planFiles(t, Seq(RangeNum("c_custkey", 1, 10))).size == 3)
    val pre = ext.sql(s"SELECT * FROM $t").collect().toSet

    val sid = ext.sql(s"CALL graft.rewrite_sorted('$t', 'c_custkey', files => 3)")
      .head().getLong(0)
    val after = cat.currentSnapshot(t).get
    assert(after.snapshotId == sid && after.files.size == 3)
    // disjoint sorted ranges: the same predicate now keeps ONE file
    assert(cat.planFiles(t, Seq(RangeNum("c_custkey", 1, 10))).size == 1)
    assert(ext.sql(s"SELECT * FROM $t").collect().toSet == pre)
    // compact protocol: row-preserving and silent in the change feed
    assert(after.props.get(SnapshotCatalog.OperationProp).contains(SnapshotCatalog.OpCompact))
    assert(cat.changesBetween(spark, t, before.snapshotId, Some(after.snapshotId)).count() == 0)

    // scoped form: `where` bounds the sweep to matching files — the
    // partition-at-a-time maintenance shape. Append 2 more interleaved
    // full-range files, then rewrite ONLY the low half.
    (0 until 2).foreach { i =>
      Writers.writeSnapshot(cat, t,
        graft.Tables.customer(spark, sfDir)
          .filter(col("c_custkey") <= 90 && col("c_custkey") % 2 === i)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal")).coalesce(1),
        dataDir)
    }
    val files5 = cat.currentSnapshot(t).get.files.map(_.path).toSet
    assert(files5.size == 5)
    ext.sql(s"CALL graft.rewrite_sorted('$t', 'c_custkey', files => 2, " +
      "where => 'c_custkey <= 45')")
    val afterScoped = cat.currentSnapshot(t).get
    // the 3 sorted disjoint files: only those overlapping [_, 45] swept;
    // the 2 new full-range files swept; high-half sorted files untouched
    val untouched = afterScoped.files.map(_.path).toSet.intersect(files5)
    assert(untouched.nonEmpty, "scoped rewrite must leave out-of-scope files untouched")
    // rows preserved: the appended batches together duplicate exactly
    // the pre-rewrite rows, so the distinct set is unchanged and the
    // multiset doubled
    assert(ext.sql(s"SELECT * FROM $t").collect().toSet == pre)
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 2L * pre.size)
    // a where that yields no manifest filter refuses loudly
    val err = intercept[Exception] {
      ext.sql(s"CALL graft.rewrite_sorted('$t', 'c_custkey', " +
        "where => 'c_custkey + 0 > 1')")
    }
    assert(err.getMessage.contains("no manifest filter"))
    // z-order on a non-numeric column refuses loudly, not deep in Spark
    val zerr = intercept[Exception] {
      ext.sql(s"CALL graft.rewrite_sorted('$t', 'c_name', 'c_custkey', zorder => true)")
    }
    assert(zerr.getMessage.contains("numeric"))
  }

  test("CALL graft.rewrite_sorted is partition-aware: days(ts) pruning survives the rewrite") {
    import graft.meta.{DaysTransform, EqString, RangeNum}
    val t = "rwsdays"
    val days = Seq(DaysTransform("ts"))
    val ev = graft.Tables.events(spark, sfDir)
      .filter(col("ts") < lit("2024-01-04").cast("timestamp"))
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    // three interleaved appends: each day partition holds 3 files, each
    // spanning the whole value range — partition pruning works, value
    // stats pruning does not
    (0 until 3).foreach { i =>
      Writers.writeTransformedSnapshot(cat, t,
        ev.filter(pmod(col("event_id"), lit(3)) === i).repartition(1),
        s"$dataDir/$t-append$i", days)
    }
    val partCol = days.head.partCol
    val dayFilter = Seq(EqString(partCol, "2024-01-02"))
    val before = cat.currentSnapshot(t).get
    assert(before.files.size == 9, "3 days x 3 appends")
    assert(cat.planFiles(t, dayFilter).size == 3)
    val pre = ext.sql(s"SELECT * FROM $t").collect().toSet

    ext.sql(s"CALL graft.rewrite_sorted('$t', 'value', files => 6)")
    val after = cat.currentSnapshot(t).get
    // THE S59 acceptance: partition-value pruning is IDENTICAL in
    // selectivity — a day filter keeps exactly that day's files, and
    // every kept file still carries the day partition value (a flat
    // rewrite would have erased them and kept everything)
    val keptDay = cat.planFiles(t, dayFilter)
    assert(after.files.forall(_.partitionValues.contains(partCol)),
      "every rewritten file must keep its day partition value")
    assert(keptDay.nonEmpty && keptDay.size < after.files.size)
    assert(keptDay.forall(_.partitionValues.get(partCol).contains("2024-01-02")))
    assert(keptDay.size == after.files.count(
      _.partitionValues.get(partCol).contains("2024-01-02")))
    // AND the rewrite did its actual job: within a day, the value sort
    // makes a narrow value range strictly more file-selective than the
    // day filter alone (files => 6 over 3 equal days = 2 sorted files/day)
    assert(keptDay.size == 2)
    val dayAndValue = cat.planFiles(t, dayFilter :+ RangeNum("value", 0.0, 5.0))
    assert(dayAndValue.size < keptDay.size,
      "within-partition sort must restore value stats pruning")
    // rows preserved, feed silent (compact protocol)
    assert(ext.sql(s"SELECT * FROM $t").collect().toSet == pre)
    assert(cat.changesBetween(spark, t, before.snapshotId, Some(after.snapshotId)).count() == 0)
  }

  test("CALL graft.rewrite_sorted is partition-aware: bucket(n,c) point pruning survives") {
    import graft.meta.{BucketTransform, EqString}
    val t = "rwsbkt"
    val b = BucketTransform("c_custkey", 4)
    (0 until 3).foreach { i =>
      Writers.writeTransformedSnapshot(cat, t,
        graft.Tables.customer(spark, sfDir)
          .filter(col("c_custkey") <= 120 && pmod(col("c_custkey"), lit(3)) === i)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal")).repartition(1),
        s"$dataDir/$t-append$i", Seq(b))
    }
    val pv = b.bucketOf("7")
    val pointFilter = Seq(EqString(b.partCol, pv))
    val before = cat.currentSnapshot(t).get
    assert(cat.planFiles(t, pointFilter).size < before.files.size,
      "bucket layout must prune before the rewrite")
    val pre = ext.sql(s"SELECT * FROM $t").collect().toSet

    ext.sql(s"CALL graft.rewrite_sorted('$t', 'c_acctbal', files => 4)")
    val after = cat.currentSnapshot(t).get
    val kept = cat.planFiles(t, pointFilter)
    // a bucket point lookup is UNRECOVERABLE from column stats — only
    // preserved partition values can prune it; the flat rewrite kept all
    assert(kept.nonEmpty && kept.size < after.files.size,
      "bucket point-lookup prune must survive the rewrite")
    assert(kept.forall(_.partitionValues.get(b.partCol).contains(pv)))
    assert(ext.sql(s"SELECT * FROM $t").collect().toSet == pre)
    assert(cat.changesBetween(spark, t, before.snapshotId, Some(after.snapshotId)).count() == 0)
  }

  test("CALL graft.index backfills blooms/sketches and sticks for future commits") {
    import graft.meta.EqString
    // three files, none indexed at write time (the SQL-only deployment:
    // tables created through SQL have no way to pass bloomColumns)
    val t = "idx"
    (0 until 3).foreach { i =>
      Writers.writeSnapshot(cat, t,
        graft.Tables.customer(spark, sfDir)
          .filter(col("c_custkey") % 3 === i && col("c_custkey") <= 60)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment")).coalesce(1),
        dataDir)
    }
    assert(cat.currentSnapshot(t).get.files.forall(_.blooms.isEmpty))
    val n0 = ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0)
    val sid = ext.sql(s"CALL graft.index('$t', 'c_name', type => 'both')")
      .head().getLong(0)
    val snap = cat.currentSnapshot(t).get
    assert(snap.snapshotId == sid)
    // metadata-only: same files, every one now carries bloom + sketch
    assert(snap.files.size == 3)
    assert(snap.files.forall(f => f.blooms.contains("c_name") &&
      f.sketches.contains("c_name")))
    // the backfilled bloom actually prunes: a value present in exactly
    // one file keeps that file; an absent value keeps none
    val one = ext.sql(s"SELECT c_name FROM $t WHERE c_custkey = 7").head().getString(0)
    assert(cat.planFiles(t, Seq(EqString("c_name", one))).size == 1)
    assert(cat.planFiles(t, Seq(EqString("c_name", "Customer#nope"))).isEmpty)
    // rows unharmed, feed silent across the index commit
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == n0)
    assert(cat.changesBetween(spark, t, sid - 1, Some(sid)).count() == 0)
    // sticky: a future SQL INSERT indexes its new file without asking
    ext.sql(s"INSERT INTO $t VALUES (901, 'Customer#000000901', 'BUILDING')")
    val newFile = cat.currentSnapshot(t).get.files
      .filterNot(f => snap.files.map(_.path).contains(f.path))
    assert(newFile.nonEmpty && newFile.forall(_.blooms.contains("c_name")))
    // re-running converges WITHOUT churn: nothing to stamp + sticky
    // already in force = no snapshot-id burn on an identical commit
    val before = cat.currentSnapshot(t).get.snapshotId
    assert(ext.sql(s"CALL graft.index('$t', 'c_name')").head().getLong(0) == before)
    assert(cat.currentSnapshot(t).get.snapshotId == before)
    val err = intercept[Exception] { ext.sql(s"CALL graft.index('$t', 'nope')") }
    assert(err.getMessage.contains("no column"))
    // drop_index: maintenance stops and per-file entries go; the next
    // insert no longer indexes
    ext.sql(s"CALL graft.drop_index('$t', 'c_name')")
    assert(cat.currentSnapshot(t).get.files.forall(f =>
      !f.blooms.contains("c_name") && !f.sketches.contains("c_name")))
    ext.sql(s"INSERT INTO $t VALUES (902, 'Customer#000000902', 'AUTOMOBILE')")
    assert(cat.currentSnapshot(t).get.files.forall(!_.blooms.contains("c_name")))
  }

  test("CALL graft.delete_by_keys masks rows without scanning the table; re-append stays visible") {
    val t = freshTable("delkeys", 1 to 40)
    val before = cat.currentSnapshot(t).get
    val recordsRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    val sid = try {
      GraftColumnShim.drainListenerBus(spark)
      val s = ext.sql(s"CALL graft.delete_by_keys('$t', 'c_custkey', '3, 7,11')")
        .head().getLong(0)
      GraftColumnShim.drainListenerBus(spark)
      s
    } finally spark.sparkContext.removeSparkListener(l)
    val after = cat.currentSnapshot(t).get
    assert(sid == after.snapshotId && after.snapshotId == before.snapshotId + 1)
    // zero-scan: the table's data files are neither read nor rewritten —
    // the only input records anywhere are the key parquet's own rows
    assert(after.files.map(_.path) == before.files.map(_.path))
    assert(after.deleteFiles.size == before.deleteFiles.size + 1)
    assert(recordsRead.get() <= 3,
      s"delete_by_keys read ${recordsRead.get()} records; the GDPR path must not scan the table")
    val keys = ext.sql(s"SELECT c_custkey FROM $t").collect().map(_.getLong(0)).toSet
    assert(Set(3L, 7L, 11L).forall(!keys.contains(_)) && keys.size == 37)
    // a later append of a masked key is a fresh row and stays visible
    ext.sql(s"INSERT INTO $t VALUES (7, 'Back#7', 1.0)")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t WHERE c_custkey = 7")
      .head().getLong(0) == 1L)
    // unknown key column refuses loudly; so does a value the column's
    // type can't parse (a NULL-casting value would silently never match)
    val e = intercept[Exception] { ext.sql(s"CALL graft.delete_by_keys('$t', 'nope', '1')") }
    assert(e.getMessage.contains("no column"))
    val e2 = intercept[Exception] {
      ext.sql(s"CALL graft.delete_by_keys('$t', 'c_custkey', '1,abc')")
    }
    assert(e2.getMessage.contains("do not parse"))
  }

  test("CALL graft.changelog mode => 'percommit' attributes changes to their commits") {
    val t = freshTable("cdfsql", 1 to 20)
    val s1 = cat.currentSnapshot(t).get.snapshotId
    ext.sql(s"INSERT INTO $t VALUES (801, 'A#801', 1.0), (802, 'A#802', 2.0)")
    val s2 = cat.currentSnapshot(t).get.snapshotId
    ext.sql(s"DELETE FROM $t WHERE c_custkey = 801 OR c_custkey = 5")
    val s3 = cat.currentSnapshot(t).get.snapshotId
    ext.sql(s"CALL graft.changelog('$t', $s1, mode => 'percommit', view => 'cdf_pc')")
    val feed = ext.sql("SELECT _commit_snapshot_id, _change_type, c_custkey FROM cdf_pc")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // intra-range churn preserved with attribution: 801 appears as s2's
    // insert AND s3's delete — the shape audit trails / ordered replay need
    assert(feed == Set((s2, "insert", 801L), (s2, "insert", 802L),
      (s3, "delete", 801L), (s3, "delete", 5L)))
    // the default net mode cancels the churn over the same range
    ext.sql(s"CALL graft.changelog('$t', $s1, view => 'cdf_net')")
    val net = ext.sql("SELECT _change_type, c_custkey FROM cdf_net")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(net == Set(("insert", 802L), ("delete", 5L)))
    // a bad mode refuses loudly, naming the valid ones
    val e = intercept[Exception] {
      ext.sql(s"CALL graft.changelog('$t', $s1, mode => 'nope')")
    }
    assert(e.getMessage.contains("percommit"))
  }

  test("CALL graft.export reads the feed mode like changelog: any letter case, typos refused") {
    val t = freshTable("cdfexp", 1 to 5)
    val s1 = cat.currentSnapshot(t).get.snapshotId
    ext.sql(s"INSERT INTO $t VALUES (901, 'A#901', 1.0)")
    val s2 = cat.currentSnapshot(t).get.snapshotId
    val out = tempDir("graft-call-expmode-").toString + "/feed"
    ext.sql(s"CALL graft.export('$t', '$out', changes_from => $s1, mode => 'PERCOMMIT')")
    val feed = spark.read.parquet(out)
      .select(col("_commit_snapshot_id"), col("_change_type"), col("c_custkey"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(feed == Set((s2, "insert", 901L)))
    val e = intercept[Exception] {
      ext.sql(s"CALL graft.export('$t', '$out-typo', changes_from => $s1, mode => 'percomit')")
    }
    assert(e.getMessage.contains("net|percommit"), e.getMessage)
  }

  test("CALL graft.create_mv / refresh_mv: CDC-folded aggregate view from pure SQL") {
    Writers.writeSnapshot(cat, "mvsrc",
      graft.Tables.orders(spark, sfDir)
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
      dataDir)
    def fromScratch(): Set[(String, Long, java.math.BigDecimal)] =
      cat.read(spark, "mvsrc").groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(28,6)")).as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    def view(): Set[(String, Long, java.math.BigDecimal)] =
      cat.read(spark, "mv1")
        .select(col("o_orderstatus"), col("n_rows"), col("sum_o_totalprice"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet
    val r1 = ext.sql("CALL graft.create_mv('mv1', 'mvsrc', 'o_orderstatus', " +
      "'o_totalprice')").head()
    assert(r1.getString(0) == "mv1" &&
      r1.getLong(1) == cat.currentSnapshot("mvsrc").get.snapshotId)
    assert(view() == fromScratch())
    // the definition rides the view's own snapshots — visible in SQL
    assert(ext.sql("SHOW TBLPROPERTIES mv1 ('graft.view.src')")
      .head().getString(1) == "mvsrc")
    // mutate the source ENTIRELY through SQL, then refresh by name alone
    ext.sql("INSERT INTO mvsrc SELECT o_orderkey + 4000, o_orderstatus, " +
      "o_totalprice + 10.0 FROM mvsrc WHERE o_orderkey <= 500")
    ext.sql("DELETE FROM mvsrc WHERE o_orderkey % 7 = 0")
    val r2 = ext.sql("CALL graft.refresh_mv('mv1')").head()
    assert(r2.getLong(1) == cat.currentSnapshot("mvsrc").get.snapshotId)
    assert(view() == fromScratch(),
      "refreshed view must equal a from-scratch aggregate of the mutated source")
    // idle source: refresh is a no-op — watermark and view head unchanged
    val head = cat.currentSnapshot("mv1").get.snapshotId
    val r3 = ext.sql("CALL graft.refresh_mv('mv1')").head()
    assert(r3.getLong(1) == r2.getLong(1))
    assert(cat.currentSnapshot("mv1").get.snapshotId == head,
      "an idle-source refresh must not burn a view snapshot")
    // no-arg form: ONE statement refreshes every view in the catalog
    // (the enforce_retention symmetry); each row reports its view's new
    // watermark, and plain tables are never visited
    ext.sql("INSERT INTO mvsrc VALUES (9001, 'Z', 42.0)")
    val all = ext.sql("CALL graft.refresh_mv()").collect()
    assert(all.exists(r => r.getString(0) == "mv1" &&
      r.getLong(1) == cat.currentSnapshot("mvsrc").get.snapshotId && r.isNullAt(2)),
      s"the sweep must refresh mv1 to the moved head: ${all.mkString(";")}")
    assert(all.forall(r => cat.currentSnapshot(r.getString(0)).get.props
      .contains("graft.view.src")), "only MVs appear in the sweep")
    assert(view() == fromScratch())
    // refresh of a non-MV table refuses loudly
    val t2 = freshTable("notamv", 1 to 3)
    val e = intercept[Exception] { ext.sql(s"CALL graft.refresh_mv('$t2')") }
    assert(e.getMessage.contains("not a materialized aggregate view"))
    // the source is protected like a view base: rename/drop refuse and
    // NAME the dependent MV (a moved source would strand its refresh)
    val e2 = intercept[Exception] { ext.sql("ALTER TABLE mvsrc RENAME TO mvsrc2") }
    assert(e2.getMessage.contains("mv1"))
    val e3 = intercept[Exception] { ext.sql("DROP TABLE graft.mvsrc") }
    assert(e3.getMessage.contains("mv1"))
    // dropping the MV first releases the source
    ext.sql("DROP TABLE graft.mv1")
    ext.sql("ALTER TABLE mvsrc RENAME TO mvsrc2")
    assert(cat.tables().contains("mvsrc2"))
  }

  test("create_mv generalized aggregates: min/max/avg/nd + where from SQL") {
    Writers.writeSnapshot(cat, "mvgsrc",
      graft.Tables.orders(spark, sfDir)
        .filter(col("o_orderkey") <= 600)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
      dataDir)
    val where = "o_totalprice > 100000.0"
    ext.sql("CALL graft.create_mv('mvg', 'mvgsrc', 'o_orderstatus', " +
      "'o_totalprice', avg_columns => 'o_totalprice', " +
      "min_columns => 'o_totalprice', max_columns => 'o_totalprice', " +
      "nd_columns => 'o_orderkey', where => 'o_totalprice > 100000.0')")
    def fromScratch(): Set[(String, Long, Double, Double, Double, Long)] =
      cat.read(spark, "mvgsrc").filter(where)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(28,6)")).as("s"),
          count(col("o_totalprice")).as("c"),
          min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"),
          countDistinct(col("o_orderkey")).as("nd"))
        .select(col("o_orderstatus"), col("n"),
          (col("s").cast("double") / col("c")).as("avg"),
          col("mn"), col("mx"), col("nd"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getLong(5))).toSet
    def rendered(): Set[(String, Long, Double, Double, Double, Long)] =
      graft.sinks.MaterializedAgg.readRendered(spark, cat, "mvg")
        .select(col("o_orderstatus"), col("n_rows"), col("avg_o_totalprice"),
          col("min_o_totalprice"), col("max_o_totalprice"),
          col("approx_nd_o_orderkey"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getLong(5))).toSet
    assert(rendered() == fromScratch())
    // kill stored extrema + add rows, all through SQL; refresh by name
    ext.sql("DELETE FROM mvgsrc WHERE o_totalprice > 300000.0")
    ext.sql("INSERT INTO mvgsrc SELECT o_orderkey + 9000, o_orderstatus, " +
      "o_totalprice + 5000.0 FROM mvgsrc WHERE o_orderkey <= 100")
    ext.sql("CALL graft.refresh_mv('mvg')")
    assert(rendered() == fromScratch(),
      "generalized MV after extremum deletes must equal from-scratch")
    // unknown aggregate columns refuse loudly at create time
    val e = intercept[Exception] {
      ext.sql("CALL graft.create_mv('mvgbad', 'mvgsrc', 'o_orderstatus', " +
        "min_columns => 'nope')")
    }
    assert(e.getMessage.contains("unknown column"), e.getMessage)
  }

  test("CALL graft.cache / uncache / expire_cache / cache_stats: the keyed cache from SQL") {
    val t = freshTable("cachesql", 1 to 25)
    // first call is a miss: loads (filter + projection shape the KEY),
    // persists, registers the entry as a temp view
    val r1 = ext.sql(s"CALL graft.cache('$t', predicate => 'c_acctbal > 0', " +
      "columns => 'c_custkey,c_acctbal', view => 'cache_v')").head()
    assert(!r1.getBoolean(1), "first cache call must be a miss")
    val expected = ext.sql(
      s"SELECT c_acctbal, c_custkey FROM $t WHERE c_acctbal > 0").collect().toSet
    assert(ext.sql("SELECT c_acctbal, c_custkey FROM cache_v")
      .collect().toSet == expected)
    // the SAME key is a hit; a different key is its own entry
    val r2 = ext.sql(s"CALL graft.cache('$t', predicate => 'c_acctbal > 0', " +
      "columns => 'c_custkey,c_acctbal', view => 'cache_v')").head()
    assert(r2.getBoolean(1) && r2.getString(0) == r1.getString(0))
    // the "no re-scan" claim by PLAN, not timing: reads through the
    // cached view execute an in-memory table scan, not a file scan
    assert(ext.sql("SELECT count(*) AS n FROM cache_v")
      .queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
      "a cache hit must serve the persisted plan")
    ext.sql(s"CALL graft.cache('$t', view => 'cache_all')")
    val stats = ext.sql("CALL graft.cache_stats()").head()
    assert(stats.getLong(0) >= 2 && stats.getLong(3) >= 1 && stats.getLong(4) >= 2)
    // a cached entry PINS its snapshot: a later write is invisible
    // through the cache until explicit invalidation (like CACHE TABLE)
    ext.sql(s"INSERT INTO $t VALUES (900, 'New#900', 9.0)")
    assert(ext.sql("SELECT count(*) AS n FROM cache_all").head().getLong(0) == 25)
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 26)
    // uncache drops every entry of the table; a re-cache sees the write
    assert(ext.sql(s"CALL graft.uncache('$t')").head().getLong(0) == 2L)
    ext.sql(s"CALL graft.cache('$t', view => 'cache_all')")
    assert(ext.sql("SELECT count(*) AS n FROM cache_all").head().getLong(0) == 26)
    // TTL sweep evicts idle entries
    Thread.sleep(10)
    assert(ext.sql("CALL graft.expire_cache(1)").head().getLong(0) >= 1L)
    // shadow refusal + missing table refusal
    val e1 = intercept[Exception] { ext.sql(s"CALL graft.cache('$t', view => '$t')") }
    assert(e1.getMessage.contains("shadow"))
    val e2 = intercept[Exception] { ext.sql("CALL graft.cache('cache_missing')") }
    assert(e2.getMessage.contains("no table"))
    // DROP invalidates the name's entries: a table RE-CREATED under the
    // same name must never hit the dropped table's persisted plan
    ext.sql(s"CALL graft.cache('$t', view => 'cache_all')")
    ext.sql(s"DROP TABLE graft.$t")
    freshTable("cachesql", 30 to 34)
    val r3 = ext.sql(s"CALL graft.cache('$t', view => 'cache_all')").head()
    assert(!r3.getBoolean(1), "a post-drop cache call must be a miss")
    assert(ext.sql("SELECT count(*) AS n FROM cache_all").head().getLong(0) == 5L,
      "the cache served a dropped table's rows to its re-created namesake")
  }

  test("CALL graft.materialize_deletes folds MoR masks; closes the column-DDL loop from SQL") {
    val t = freshTable("matsql", 1 to 12)
    ext.sql(s"DELETE FROM $t WHERE c_custkey <= 4")
    val before = cat.currentSnapshot(t).get
    assert(before.deleteFiles.nonEmpty)
    val rowsBefore = ext.sql(s"SELECT * FROM $t").collect().toSet
    val r = ext.sql(s"CALL graft.materialize_deletes('$t')").head()
    assert(r.getBoolean(0))
    val after = cat.currentSnapshot(t).get
    assert(r.getLong(1) == after.snapshotId)
    assert(after.deleteFiles.isEmpty, "masks must retire into the rewrite")
    assert(ext.sql(s"SELECT * FROM $t").collect().toSet == rowsBefore)
    // row-preserving: the feed across the materialization is empty
    assert(cat.changesBetween(spark, t, before.snapshotId).isEmpty)
    // nothing outstanding: no commit, null snapshot id
    val r2 = ext.sql(s"CALL graft.materialize_deletes('$t')").head()
    assert(!r2.getBoolean(0) && r2.isNullAt(1))
    assert(cat.currentSnapshot(t).get.snapshotId == after.snapshotId)
    // the refusal it unblocks is now satisfiable from pure SQL: equality
    // deletes key on a column and block its rename until materialized
    ext.sql(s"CALL graft.delete_by_keys('$t', 'c_custkey', '5')")
    val e = intercept[Exception] {
      ext.sql(s"ALTER TABLE $t RENAME COLUMN c_custkey TO ck")
    }
    assert(e.getMessage.contains("materialize"))
    ext.sql(s"CALL graft.materialize_deletes('$t')")
    ext.sql(s"ALTER TABLE $t RENAME COLUMN c_custkey TO ck")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t WHERE ck > 0")
      .head().getLong(0) == 7L)
  }

  test("table refs can never address a path outside the catalog root") {
    // CALL arguments are arbitrary strings (not parser identifiers), so
    // every path-addressed access validates the ref shape — the same
    // discipline the view store applies to view names
    val t = freshTable("safe", 1 to 2)
    val e1 = intercept[Exception] { ext.sql(s"CALL graft.clone('$t', '../evil')") }
    assert(e1.getMessage.contains("invalid table name"))
    val e2 = intercept[Exception] { ext.sql("CALL graft.cache('../../etc')") }
    assert(e2.getMessage.contains("invalid table name"))
    val e3 = intercept[Exception] {
      ext.sql(s"CALL graft.create_mv('../mv', '$t', 'c_custkey')")
    }
    assert(e3.getMessage.contains("invalid table name"))
    val e4 = intercept[Exception] { cat.cloneTable(t, "x/../../y") }
    assert(e4.getMessage.contains("invalid table name"))
    // nothing escaped: no 'evil' or 'mv' debris landed beside the root
    val parent = java.nio.file.Paths.get(root).getParent
    assert(!java.nio.file.Files.exists(parent.resolve("evil")) &&
      !java.nio.file.Files.exists(parent.resolve("mv")))
    // legitimate branch refs still pass the guard
    ext.sql(s"CALL graft.branch('$t', 'dev')")
    assert(ext.sql(s"SELECT count(*) AS n FROM `$t/branches/dev`")
      .head().getLong(0) == 2L)
  }

  test("unknown procedures, non-literal args and misordered args refuse loudly") {
    val t = freshTable("bad", 1 to 2)
    val e1 = intercept[Exception] { ext.sql(s"CALL graft.nope('$t')") }
    assert(e1.getMessage.contains("unknown graft procedure"))
    val e2 = intercept[Exception] {
      ext.sql(s"CALL graft.compact((SELECT 't'))")
    }
    assert(e2.getMessage.toLowerCase.contains("literal"))
    val e3 = intercept[Exception] {
      ext.sql(s"CALL graft.expire_snapshots(retain_last => 1, '$t')")
    }
    assert(e3.getMessage.contains("positional arguments must precede"))
    val e4 = intercept[Exception] { ext.sql(s"CALL graft.rollback('$t')") }
    assert(e4.getMessage.contains("missing required argument 'version'"))
  }

  test("CALL graft.enforce_retention applies the table's own sticky policy") {
    val t = freshTable("ret1", 1 to 5)
    (1 to 4).foreach(i => ext.sql(s"INSERT INTO $t VALUES (${200 + i}, 'R#$i', 1.0)"))
    // an explicit call on a table with no policy refuses loudly — the
    // error IS the recipe (names the props to set)
    val err = intercept[Exception] { ext.sql(s"CALL graft.enforce_retention('$t')").collect() }
    assert(err.getMessage.contains("no retention policy") &&
      err.getMessage.contains("graft.retention.snapshots"))
    // tag one mid-history snapshot: tags survive every expire path
    ext.sql(s"CALL graft.tag('$t', 'epoch', version => 2)")
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.retention.snapshots' = '3')")
    // history: 5 data snapshots + the SET commit = 6; keep 3 + the tag
    val res = ext.sql(s"CALL graft.enforce_retention('$t')").head()
    assert(res.getString(0) == t)
    assert(res.getLong(1) == 2L, s"expected 2 expired (6 - 3 kept - 1 tagged); got $res")
    val left = cat.snapshots(t).map(_.snapshotId)
    assert(left.contains(2L), "the tagged snapshot must survive retention")
    assert(left.size == 4)
    // the data is untouched — maintenance that leaks into results is corruption
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 9)
    // idempotent: a second sweep finds nothing to expire
    assert(ext.sql(s"CALL graft.enforce_retention('$t')").head().getLong(1) == 0L)
    // age bound: with graft.retention.ms set, age drives and count is the
    // floor — a 1-hour window keeps every young snapshot
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.retention.ms' = '3600000')")
    assert(ext.sql(s"CALL graft.enforce_retention('$t')").head().getLong(1) == 0L)
  }

  test("row-TTL retention: the policy pair drives expire_rows; dry_run touches nothing") {
    import spark.implicits._
    val t = "ret_rows"
    Writers.writeSnapshot(cat,
      t, (1L to 20L).map(i => (i, i * 1000L)).toDF("id", "ts_ms"), dataDir)
    // half a policy refuses loudly (a typo'd compliance sweep must not skip)
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.retention.rows.ms' = '3600000')")
    val half = intercept[Exception] { ext.sql(s"CALL graft.enforce_retention('$t')").collect() }
    assert(half.getMessage.contains("half"))
    // the column must exist at SET time
    val badCol = intercept[Exception] {
      ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.retention.rows.column' = 'nope')")
    }
    assert(badCol.getMessage.contains("must name a column"))
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.retention.rows.column' = 'ts_ms')")
    // every ts_ms is seconds-from-epoch-1970 scaled tiny → all older than 1h
    val dry = ext.sql(s"CALL graft.enforce_retention('$t', dry_run => true)").head()
    assert(dry.getLong(2) == 20L, s"dry run must count the doomed rows: $dry")
    val snapBefore = cat.currentSnapshot(t).get.snapshotId
    assert(cat.currentSnapshot(t).get.snapshotId == snapBefore &&
      ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 20,
      "dry run must not commit or mask")
    // the real sweep masks them as a MoR delete (zero data churn)
    val res = ext.sql(s"CALL graft.enforce_retention('$t')").head()
    assert(res.getLong(2) == 20L, s"expected 20 rows swept: $res")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 0)
    assert(cat.currentSnapshot(t).get.files.map(_.path).toSet ==
      cat.snapshotById(t, snapBefore).get.files.map(_.path).toSet,
      "the TTL sweep is a mask, not a rewrite")
    // idempotent: already-masked rows never re-match
    assert(ext.sql(s"CALL graft.enforce_retention('$t')").head().getLong(2) == 0L)
    // a RENAME of the TTL column follows it (the policy stays valid)...
    ext.sql(s"ALTER TABLE $t RENAME COLUMN ts_ms TO event_ms")
    assert(cat.currentSnapshot(t).get.props
      .get(SnapshotCatalog.RetentionRowsColumnProp).contains("event_ms"),
      "rename must follow the row-TTL retention column")
    assert(ext.sql(s"CALL graft.enforce_retention('$t')").head().getLong(2) == 0L)
    // ...and a DROP of it refuses: silently shedding a compliance
    // policy is the one thing a column drop must not do
    val eDrop = intercept[Exception] { ext.sql(s"ALTER TABLE $t DROP COLUMN event_ms") }
    assert(eDrop.getMessage.contains("row-TTL retention column"))
  }

  test("multi-prop SET TBLPROPERTIES validates the whole statement before committing") {
    import spark.implicits._
    val t = "atomprops"
    Writers.writeSnapshot(cat, t,
      (1L to 5L).map(i => (i, i * 1000L)).toDF("id", "ts_ms"), dataDir)
    val before = cat.currentSnapshot(t).get
    // a bad SECOND prop must leave the first unapplied too: SET is one
    // statement and applies all-or-nothing, not in Map-iteration-order
    val e = intercept[Exception] {
      ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
        "'graft.retention.snapshots' = '5', 'graft.retention.ms' = 'bogus')")
    }
    assert(e.getMessage.contains("milliseconds"), e.getMessage)
    val after = cat.currentSnapshot(t).get
    assert(after.snapshotId == before.snapshotId,
      "a refused SET must commit NOTHING")
    assert(!after.props.contains(SnapshotCatalog.RetentionSnapshotsProp))
    // a bad COLUMN prop in the same statement blocks the value props too
    val e2 = intercept[Exception] {
      ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
        "'graft.retention.snapshots' = '5', 'graft.bloom.columns' = 'nope')")
    }
    assert(e2.getMessage.contains("unknown column"), e2.getMessage)
    assert(cat.currentSnapshot(t).get.snapshotId == before.snapshotId)
    // the all-valid statement still lands every prop
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
      "'graft.retention.snapshots' = '5', 'graft.retention.ms' = '3600000')")
    val props = cat.currentSnapshot(t).get.props
    assert(props.get(SnapshotCatalog.RetentionSnapshotsProp).contains("5") &&
      props.get(SnapshotCatalog.RetentionAgeMsProp).contains("3600000"))
  }

  test("enforce_retention dry-run history count: the documented one-commit skew") {
    import spark.implicits._
    val t = "ret_skew"
    Writers.writeSnapshot(cat, t,
      (1L to 20L).map(i => (i, i * 1000L)).toDF("id", "ts_ms"), dataDir)
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES (" +
      "'graft.retention.rows.column' = 'ts_ms', 'graft.retention.rows.ms' = '3600000', " +
      "'graft.retention.snapshots' = '3')")
    // chain: data commit + 3 SET commits = 4; keep 3 → dry reports 1.
    // The REAL run's row sweep commits the MoR mask first (chain 5), so
    // it expires 2 — the one-commit skew Writers.enforceRetention's
    // scaladoc documents. This spec PINS that contract: if the dry run
    // is ever aligned to simulate the pending mask commit, update both.
    assert(cat.snapshots(t).size == 4)
    val dry = ext.sql(s"CALL graft.enforce_retention('$t', dry_run => true)").head()
    assert(dry.getLong(1) == 1L && dry.getLong(2) == 20L, s"dry: $dry")
    val real = ext.sql(s"CALL graft.enforce_retention('$t')").head()
    assert(real.getLong(2) == 20L, s"real: $real")
    assert(real.getLong(1) == dry.getLong(1) + 1,
      "with rows to sweep, a count-bound real run expires one more than " +
        s"the dry run reported (the documented skew): $real vs $dry")
    assert(cat.snapshots(t).size == 3)
  }

  test("no-arg enforce_retention sweeps exactly the opted-in tables") {
    val a = freshTable("ret_opt", 1 to 3)
    val b = freshTable("ret_out", 1 to 3)
    (1 to 3).foreach { i =>
      ext.sql(s"INSERT INTO $a VALUES (${300 + i}, 'x', 1.0)")
      ext.sql(s"INSERT INTO $b VALUES (${300 + i}, 'x', 1.0)")
    }
    ext.sql(s"ALTER TABLE $a SET TBLPROPERTIES ('graft.retention.snapshots' = '2')")
    // a HALF row policy (column without age — each prop validates alone)
    // must reach the sweep and report, not abort it or silently skip
    val h = freshTable("ret_half", 1 to 3)
    ext.sql(s"ALTER TABLE $h SET TBLPROPERTIES ('graft.retention.rows.column' = 'c_custkey')")
    val bSnaps = cat.snapshots(b).size
    val rows = ext.sql("CALL graft.enforce_retention()").collect()
    val swept = rows.map(_.getString(0)).toSet
    assert(swept.contains(a), "the opted-in table must be swept")
    assert(!swept.contains(b), "a table that never opted in must never be touched")
    assert(rows.find(_.getString(0) == a).get.getLong(1) == 3L) // 5 - 2 kept
    assert(cat.snapshots(a).size == 2)
    assert(cat.snapshots(b).size == bSnaps, "the opted-out table's history is intact")
    // per-table isolation: the half-policy table reports its error in
    // ITS row; the healthy tables' sweeps above still happened
    val hRow = rows.find(_.getString(0) == h).get
    assert(!hRow.isNullAt(3) && hRow.getString(3).contains("half"),
      s"a misconfigured table must report, not abort the sweep: $hRow")
    assert(rows.filterNot(_.getString(0) == h).forall(_.isNullAt(3)))
  }
}
