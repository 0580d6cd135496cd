package graft.sinks

import java.nio.file.Files

import graft.SparkSpec
import graft.meta.SnapshotCatalog
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.functions._

/** Snapshot export (`CALL graft.export`): a table state written to
  * external files must round-trip exactly — current state, time-travel
  * versions, tag refs, where-scoped subsets — and the default must
  * refuse to write over an existing export. */
class ExportSpec extends SparkSpec {

  private lazy val root = tempDir("graft-exp-").toString
  private lazy val dataDir = tempDir("graft-exp-data-").toString
  private lazy val cat = new SnapshotCatalog(root)

  private lazy val ext = {
    val s = GraftColumnShim.sessionWithExtensions(
      spark, e => new graft.GraftExtensions().apply(e))
    s.conf.set(graft.sql.GraftSqlResolution.RootConf, root)
    s
  }

  test("export round-trips current state, versions, tags and where-scopes") {
    import spark.implicits._
    Writers.writeSnapshot(cat, "exp",
      (1L to 50L).map(i => (i, s"row$i", i * 1.5)).toDF("id", "name", "score"), dataDir)
    ext.sql("CALL graft.tag('exp', 'epoch1')")
    ext.sql("INSERT INTO exp VALUES (51, 'late', 99.0)")
    ext.sql("DELETE FROM exp WHERE id <= 5")

    // current state, parquet
    val out1 = tempDir("graft-expout-").toString + "/cur"
    val r1 = ext.sql(s"CALL graft.export('exp', '$out1')").head()
    assert(r1.getLong(0) >= 1 && r1.getLong(1) > 0)
    val back1 = spark.read.parquet(out1)
    assert(back1.count() == 46 && back1.agg(sum("id")).head().getLong(0) ==
      ext.sql("SELECT sum(id) FROM exp").head().getLong(0))

    // the tagged epoch exports the OLD state
    val out2 = tempDir("graft-expout-").toString + "/v1"
    ext.sql(s"CALL graft.export('exp', '$out2', version => 'epoch1')")
    assert(spark.read.parquet(out2).count() == 50)

    // where both scopes the scan and filters the rows; csv round-trips
    val out3 = tempDir("graft-expout-").toString + "/csv"
    ext.sql(s"CALL graft.export('exp', '$out3', format => 'csv', " +
      "header => 'true', where => 'id BETWEEN 10 AND 20')")
    val back3 = spark.read.option("header", "true").option("inferSchema", "true").csv(out3)
    assert(back3.count() == 11)
    assert(back3.agg(sum("id")).head().getLong(0) == (10L to 20L).sum)

    // default refuses an existing destination; overwrite replaces
    val e = intercept[Exception] { ext.sql(s"CALL graft.export('exp', '$out1')").collect() }
    assert(e.getMessage != null)
    ext.sql(s"CALL graft.export('exp', '$out1', overwrite => true, " +
      "where => 'id > 40')")
    assert(spark.read.parquet(out1).count() == 11) // 41..51

    // a destination under the catalog root refuses
    val e2 = intercept[Exception] {
      ext.sql(s"CALL graft.export('exp', '$root/evil')").collect()
    }
    assert(e2.getMessage.contains("catalog root"))
    // an unknown version refuses loudly — numeric OR named (a numeric
    // miss must never silently fall back to current)
    val e3 = intercept[Exception] {
      ext.sql(s"CALL graft.export('exp', '/tmp/never', version => 'nope')").collect()
    }
    assert(e3.getMessage.contains("no snapshot id or tag"))
    val e4b = intercept[Exception] {
      ext.sql(s"CALL graft.export('exp', '/tmp/never2', version => '999')").collect()
    }
    assert(e4b.getMessage.contains("no snapshot id or tag"))
    // timestamp travel: as-of NOW serves current; a pre-table timestamp refuses
    val out4 = tempDir("graft-expout-").toString + "/asof"
    ext.sql(s"CALL graft.export('exp', '$out4', as_of_ms => ${System.currentTimeMillis()})")
    assert(spark.read.parquet(out4).count() == 46)
    val e5 = intercept[Exception] {
      ext.sql(s"CALL graft.export('exp', '/tmp/never3', as_of_ms => 1000)").collect()
    }
    assert(e5.getMessage.contains("at or before"))
  }

  test("partition_by exports a hive layout a downstream reader partition-prunes") {
    import spark.implicits._
    Writers.writeSnapshot(cat, "expp",
      (1L to 30L).map(i => (i, if (i % 2 == 0) "even" else "odd", i * 1.0))
        .toDF("id", "parity", "score"), dataDir)
    val out = tempDir("graft-expout-p-").toString + "/hive"
    ext.sql(s"CALL graft.export('expp', '$out', partition_by => 'parity')")
    assert(Files.isDirectory(java.nio.file.Paths.get(out, "parity=even")) &&
      Files.isDirectory(java.nio.file.Paths.get(out, "parity=odd")),
      "the output must be a hive layout")
    val back = spark.read.parquet(out)
    assert(back.count() == 30)
    assert(back.filter(col("parity") === "even").count() == 15)
  }

  test("change-feed export: applied shards reproduce the to-state (the apply-law)") {
    import spark.implicits._
    Writers.writeSnapshot(cat, "expc",
      (1L to 40L).map(i => (i, i * 1.0)).toDF("id", "v"), dataDir)
    // churn the range: an insert batch, then a delete overlapping BOTH
    // the base and the fresh rows (net must cancel the overlap; the
    // per-commit feed must preserve it with attribution)
    ext.sql("INSERT INTO expc SELECT id, id * 1.0 AS v FROM range(41, 61)")
    ext.sql("DELETE FROM expc WHERE id BETWEEN 30 AND 50")
    val out = tempDir("graft-expout-c-").toString + "/feed"
    val r = ext.sql(s"CALL graft.export('expc', '$out', changes_from => 1)").head()
    assert(r.getLong(0) >= 1)
    val feed = spark.read.parquet(out)
    // the apply-law THROUGH FILES: from-state + shards = to-state
    val from = cat.read(spark, "expc", snapshotId = Some(1L)).select("id", "v")
    val ins = feed.filter(col("_change_type") === "insert").select("id", "v")
    val del = feed.filter(col("_change_type") === "delete").select("id", "v")
    val applied = from.unionAll(ins).exceptAll(del)
    val now = ext.sql("SELECT id, v FROM expc")
    assert(applied.exceptAll(now).isEmpty && now.exceptAll(applied).isEmpty,
      "exported feed applied to the from-state must reproduce the to-state")
    // net cancels intra-range churn: rows 41..50 were inserted AND
    // deleted inside the range, so the net feed never mentions them
    assert(feed.filter(col("id").between(41, 50)).count() == 0)

    // percommit preserves the churn WITH commit attribution, and its
    // per-commit application reproduces the same end state
    val outP = tempDir("graft-expout-c-").toString + "/percommit"
    ext.sql(s"CALL graft.export('expc', '$outP', changes_from => 1, " +
      "mode => 'percommit')")
    val pfeed = spark.read.parquet(outP)
    assert(pfeed.columns.contains("_commit_snapshot_id") &&
      pfeed.columns.contains("_commit_timestamp_ms"))
    assert(pfeed.filter(col("id").between(41, 50)).count() == 20,
      "churn rows appear as insert@s2 + delete@s3 in the per-commit feed")
    val pIns = pfeed.filter(col("_change_type") === "insert").select("id", "v")
    val pDel = pfeed.filter(col("_change_type") === "delete").select("id", "v")
    val pApplied = from.unionAll(pIns).exceptAll(pDel)
    assert(pApplied.exceptAll(now).isEmpty && now.exceptAll(pApplied).isEmpty)

    // a feed export selects a RANGE, not a state: state args refuse
    val e1 = intercept[Exception] {
      ext.sql(s"CALL graft.export('expc', '/tmp/neverf', changes_from => 1, " +
        "version => '2')").collect()
    }
    assert(e1.getMessage.contains("STATE"), e1.getMessage)
    val e2 = intercept[Exception] {
      ext.sql(s"CALL graft.export('expc', '/tmp/neverf2', mode => 'percommit')").collect()
    }
    assert(e2.getMessage.contains("changes_from"), e2.getMessage)
  }

  test("a URI-form destination counts through the Hadoop filesystem") {
    import spark.implicits._
    Writers.writeSnapshot(cat, "expu",
      (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v"), dataDir)
    // file:// URIs are valid writer destinations; the post-write count
    // (and the containment check) must go through the SAME Hadoop
    // filesystem the write used — a java.nio walk would throw here
    val dir = tempDir("graft-expout-u-").toString
    val r = ext.sql(s"CALL graft.export('expu', 'file:$dir/shards')").head()
    assert(r.getLong(0) >= 1 && r.getLong(1) > 0)
    assert(spark.read.parquet(s"$dir/shards").count() == 10)
  }

  test("a pinned version derives where-pruning from ITS schema, not the current one") {
    import spark.implicits._
    Writers.writeSnapshot(cat, "exps",
      (1L to 20L).map(i => (i, i * 2.0)).toDF("id", "score"), dataDir)
    ext.sql("CALL graft.tag('exps', 'before_rename')")
    ext.sql("ALTER TABLE exps RENAME COLUMN score TO points")
    // the pinned snapshot speaks the OLD schema: its where filters must
    // translate against THAT schema's stats domain (the current schema
    // no longer has `score` at all)
    val out = tempDir("graft-expout-s-").toString + "/pinned"
    ext.sql(s"CALL graft.export('exps', '$out', version => 'before_rename', " +
      "where => 'score >= 30.0')")
    val back = spark.read.parquet(out)
    assert(back.count() == 6, "ids 15..20 have score >= 30")
    assert(back.columns.contains("score"), "the pinned state exports its own schema")
  }

  test("export of a branch ref serves the branch state") {
    import spark.implicits._
    Writers.writeSnapshot(cat, "expb",
      (1L to 10L).map(i => (i, i * 2L)).toDF("id", "v"), dataDir)
    ext.sql("CALL graft.branch('expb', 'dev')")
    ext.sql("INSERT INTO `expb/branches/dev` VALUES (11, 22)")
    val out = tempDir("graft-expout-b-").toString + "/dev"
    ext.sql(s"CALL graft.export('expb/branches/dev', '$out')")
    assert(spark.read.parquet(out).count() == 11)
    val outMain = tempDir("graft-expout-b-").toString + "/main"
    ext.sql(s"CALL graft.export('expb', '$outMain')")
    assert(spark.read.parquet(outMain).count() == 10,
      "the base table export must not see branch commits")
  }
}
