package graft.sql

import java.nio.file.Files

import graft.SparkSpec
import graft.meta.SnapshotCatalog
import graft.sinks.Writers
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.functions._

/** SQL DML (INSERT / DELETE / MERGE) on catalog tables through
  * GraftExtensions — the write half of the SQL-only deployment. Every
  * statement must route to the SAME writer semantics the Scala API
  * has: append commits, MoR position deletes, key-merge rewrites. */
class GraftDmlSpec extends SparkSpec {

  private lazy val root = tempDir("graft-dml-").toString
  private lazy val dataDir = tempDir("graft-dml-data-").toString
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

  test("INSERT INTO appends a snapshot; VALUES and SELECT sources both work") {
    val t = freshTable("ins1", 1 to 5)
    ext.sql(s"INSERT INTO $t VALUES (100, 'Customer#100', 12.5), (101, 'Customer#101', -3.25)")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 7)
    val row = ext.sql(s"SELECT c_name, c_acctbal FROM $t WHERE c_custkey = 100").head()
    assert(row.getString(0) == "Customer#100" && row.getDouble(1) == 12.5)
    // SELECT source, including a catalog table read inside the INSERT
    ext.sql(s"INSERT INTO $t SELECT c_custkey + 200, c_name, c_acctbal FROM $t WHERE c_custkey <= 2")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 9)
    // the commit is a real append snapshot (op recorded, history grows)
    val snap = cat.currentSnapshot(t).get
    assert(snap.props.get(SnapshotCatalog.OperationProp).contains(SnapshotCatalog.OpAppend))
    assert(snap.snapshotId == 3L)
  }

  test("INSERT INTO with a column list fills unnamed columns with NULL") {
    val t = freshTable("ins2", 1 to 3)
    ext.sql(s"INSERT INTO $t (c_custkey, c_name) VALUES (300, 'NoBalance')")
    val row = ext.sql(s"SELECT c_acctbal FROM $t WHERE c_custkey = 300").head()
    assert(row.isNullAt(0))
    val err = intercept[Exception] {
      ext.sql(s"INSERT INTO $t (c_custkey, nope) VALUES (1, 'x')")
    }
    assert(err.getMessage.contains("unknown columns"))
  }

  test("INSERT OVERWRITE replaces the whole table in one snapshot") {
    val t = freshTable("ovw", 1 to 10)
    ext.sql(s"INSERT OVERWRITE $t VALUES (1, 'OnlyRow', 0.0)")
    val rows = ext.sql(s"SELECT c_custkey, c_name FROM $t").collect()
    assert(rows.length == 1 && rows.head.getString(1) == "OnlyRow")
    val snap = cat.currentSnapshot(t).get
    assert(snap.props.get(SnapshotCatalog.OperationProp).contains(SnapshotCatalog.OpOverwrite))
    // time travel still reaches the pre-overwrite state
    assert(ext.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF 1").head().getLong(0) == 10)
  }

  test("DELETE FROM is a MoR position delete: rows vanish, no data file rewritten") {
    val t = freshTable("del1", 1 to 20)
    val before = cat.currentSnapshot(t).get
    ext.sql(s"DELETE FROM $t WHERE c_custkey <= 5")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 15)
    assert(ext.sql(s"SELECT min(c_custkey) AS k FROM $t").head().getLong(0) == 6L)
    val after = cat.currentSnapshot(t).get
    assert(after.props.get(SnapshotCatalog.OperationProp).contains(SnapshotCatalog.OpMorDelete))
    // data files untouched; one delete file added
    assert(after.files.map(_.path).sorted == before.files.map(_.path).sorted)
    assert(after.deleteFiles.size == before.deleteFiles.size + 1)
    // qualified form resolves too, and a no-match delete is a no-op snapshot
    ext.sql(s"DELETE FROM $t d WHERE d.c_custkey > 99999")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 15)
  }

  test("DELETE's WHERE bounds the marking scan via manifest pruning") {
    // 4 range-clustered files; a key-bounded delete must mask rows in
    // exactly one of them (the delete file's dataPaths prove the scope)
    Writers.writeRangedSnapshot(cat, "delrange",
      graft.Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal")),
      dataDir, "c_custkey", nFiles = 4)
    val files = cat.currentSnapshot("delrange").get.files
    assert(files.size == 4)
    ext.sql("DELETE FROM delrange WHERE c_custkey <= 3")
    val del = cat.currentSnapshot("delrange").get.deleteFiles
    assert(del.size == 1, "one delete file expected")
    assert(del.head.dataPaths.size == 1,
      s"prune should bound the mask to 1 of 4 files, got ${del.head.dataPaths.size}")
  }

  test("UPDATE SET sees the old row, prunes by WHERE, commits the self-merge shape") {
    val t = freshTable("upd1", 1 to 20)
    val before = cat.currentSnapshot(t).get
    // both SETs read the PRE-update values: name gets the old balance
    ext.sql(
      s"""UPDATE $t SET c_name = concat('was:', CAST(c_acctbal AS STRING)),
         |  c_acctbal = c_acctbal + 100.0
         |WHERE c_custkey <= 3""".stripMargin)
    val got = ext.sql(s"SELECT c_custkey, c_name, c_acctbal FROM $t WHERE c_custkey <= 3")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val orig = graft.Tables.customer(spark, sfDir)
      .filter(col("c_custkey").between(1, 3))
      .select(col("c_custkey"), col("c_acctbal"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    orig.foreach { case (k, bal) =>
      assert(got(k) == (s"was:$bal", bal + 100.0), s"key $k")
    }
    // untouched rows identical; total row count unchanged
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 20)
    // commit shape: self-merge (insert_files = new versions), rewrite lineage
    val after = cat.currentSnapshot(t).get
    assert(after.props.get(SnapshotCatalog.OperationProp).contains(SnapshotCatalog.OpMerge))
    assert(after.props.get(SnapshotCatalog.InsertFilesProp).exists(_.nonEmpty))
    // CDC: the feed nets exactly delete(old) + insert(new) for the 3 rows
    val feed = cat.changesBetween(spark, t, before.snapshotId, Some(after.snapshotId))
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 3L, "insert" -> 3L))
  }

  test("UPDATE without WHERE updates every row; no-match UPDATE commits nothing") {
    val t = freshTable("upd2", 1 to 6)
    val s0 = cat.currentSnapshot(t).get.snapshotId
    ext.sql(s"UPDATE $t SET c_acctbal = 0.0")
    assert(ext.sql(s"SELECT sum(c_acctbal) AS s FROM $t").head().getDouble(0) == 0.0)
    assert(cat.currentSnapshot(t).get.snapshotId == s0 + 1)
    ext.sql(s"UPDATE $t SET c_acctbal = 99.0 WHERE c_custkey > 1000000")
    assert(cat.currentSnapshot(t).get.snapshotId == s0 + 1, "no-match UPDATE must not commit")
  }

  test("UPDATE over a MoR-masked table never resurrects masked rows") {
    val t = freshTable("upd4", 1 to 10)
    ext.sql(s"DELETE FROM $t WHERE c_custkey <= 2")
    // rewrites the masked file's survivors: rows 1-2 must stay gone
    ext.sql(s"UPDATE $t SET c_acctbal = -1.0 WHERE c_custkey <= 6")
    val keys = ext.sql(s"SELECT c_custkey FROM $t").collect().map(_.getLong(0)).toSet
    assert(keys == (3 to 10).map(_.toLong).toSet)
    assert(ext.sql(s"SELECT count(*) AS n FROM $t WHERE c_acctbal = -1.0")
      .head().getLong(0) == 4)
  }

  test("unsupported UPDATE shapes fail loudly") {
    val t = freshTable("upd3", 1 to 3)
    val e1 = intercept[Exception] {
      ext.sql(s"UPDATE $t SET nope = 1")
    }
    assert(e1.getMessage.contains("unknown column"))
    val e2 = intercept[Exception] {
      ext.sql(s"UPDATE $t SET c_acctbal = 1.0, c_acctbal = 2.0")
    }
    assert(e2.getMessage.toLowerCase.contains("more than once") ||
      e2.getMessage.toLowerCase.contains("duplicate"))
  }

  test("MERGE INTO upserts by key through the key-merge writer") {
    val t = freshTable("mrg", 1 to 10)
    ext.sql(
      s"""MERGE INTO $t t USING (
         |  SELECT 1 AS c_custkey, 'Updated#1' AS c_name, 999.0 AS c_acctbal
         |  UNION ALL
         |  SELECT 42 AS c_custkey, 'Fresh#42' AS c_name, 1.0 AS c_acctbal) s
         |ON t.c_custkey = s.c_custkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 11)
    assert(ext.sql(s"SELECT c_name FROM $t WHERE c_custkey = 1").head().getString(0) == "Updated#1")
    assert(ext.sql(s"SELECT c_name FROM $t WHERE c_custkey = 42").head().getString(0) == "Fresh#42")
    val snap = cat.currentSnapshot(t).get
    assert(snap.props.get(SnapshotCatalog.OperationProp).contains(SnapshotCatalog.OpMerge))
  }

  test("MERGE WHEN MATCHED THEN DELETE masks matched keys (delete-only source needs only keys)") {
    val t = freshTable("mrgdel", 1 to 10)
    ext.sql(
      s"""MERGE INTO $t t USING (
         |  SELECT 2 AS c_custkey UNION ALL SELECT 4 UNION ALL SELECT 999) s
         |ON t.c_custkey = s.c_custkey
         |WHEN MATCHED THEN DELETE""".stripMargin)
    val keys = ext.sql(s"SELECT c_custkey FROM $t").collect().map(_.getLong(0)).sorted
    assert(keys.toSeq == Seq(1L, 3L, 5L, 6L, 7L, 8L, 9L, 10L))
    val snap = cat.currentSnapshot(t).get
    assert(snap.props.get(SnapshotCatalog.OperationProp).contains(SnapshotCatalog.OpMerge))
  }

  test("conditional MERGE clauses: the CDC-apply idiom, first match wins") {
    val t = freshTable("mrgcdc", 1 to 6)
    // op D on 1,2 → delete; op U on 3,4 → update; unmatched 50 with U →
    // insert; unmatched 60 with D → insert clause's condition rejects it
    ext.sql(
      s"""MERGE INTO $t t USING (
         |  SELECT * FROM VALUES
         |    (1, 'x', 0.0, 'D'), (2, 'x', 0.0, 'D'),
         |    (3, 'Upd#3', 30.0, 'U'), (4, 'Upd#4', 40.0, 'U'),
         |    (50, 'New#50', 50.0, 'U'), (60, 'Dead#60', 60.0, 'D')
         |  AS v(c_custkey, c_name, c_acctbal, op)) s
         |ON t.c_custkey = s.c_custkey
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *""".stripMargin)
    val rows = ext.sql(s"SELECT c_custkey, c_name FROM $t ORDER BY c_custkey").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(3L, 4L, 5L, 6L, 50L))
    assert(rows.find(_.getLong(0) == 3L).get.getString(1) == "Upd#3")
    assert(rows.find(_.getLong(0) == 4L).get.getString(1) == "Upd#4")
    assert(rows.find(_.getLong(0) == 50L).get.getString(1) == "New#50")
    // 5,6 untouched (matched nothing); the extra source column op never
    // lands in the table
    assert(!ext.table(t).columns.contains("op"))
  }

  test("MERGE explicit matched UPDATE SET reads both pair sides; INSERT (cols) null-fills") {
    val t = freshTable("mrgset", 1 to 6)
    val orig = graft.Tables.customer(spark, sfDir)
      .filter(col("c_custkey").between(1, 6))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    // source carries ONLY the key and a delta — no full target schema
    ext.sql(
      s"""MERGE INTO $t t USING (
         |  SELECT * FROM VALUES (2, 5.0), (3, 7.5), (99, 1.25) AS v(c_custkey, delta)) s
         |ON t.c_custkey = s.c_custkey
         |WHEN MATCHED AND s.delta > 6 THEN UPDATE SET c_acctbal = t.c_acctbal + s.delta * 2
         |WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + s.delta,
         |  c_name = concat(t.c_name, ':upd')
         |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name) VALUES (s.c_custkey, 'NewGuy')""".stripMargin)
    val got = ext.sql(s"SELECT c_custkey, c_name, c_acctbal FROM $t")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    // key 3 takes the FIRST holding clause (delta > 6): bal + 15, name kept
    assert(got(3L) == (orig(3L)._1, orig(3L)._2 + 15.0))
    // key 2 takes the second: bal + 5, name suffixed
    assert(got(2L) == (orig(2L)._1 + ":upd", orig(2L)._2 + 5.0))
    // key 99 inserted with the explicit columns, c_acctbal NULL-filled
    assert(got(99L)._1 == "NewGuy" && got(99L)._2.isNaN)
    // untouched rows identical
    assert(got(1L) == orig(1L) && got(5L) == orig(5L))
    assert(got.size == 7)
  }

  test("explicit-SET and by-source MERGE never resurrect MoR-masked rows") {
    val t = freshTable("mrgmor", 1 to 8)
    ext.sql(s"DELETE FROM $t WHERE c_custkey <= 2") // MoR mask, no rewrite
    assert(cat.currentSnapshot(t).get.deleteFiles.nonEmpty)
    ext.sql(
      s"""MERGE INTO $t t USING (
         |  SELECT * FROM VALUES (1, 10.0), (3, 30.0) AS v(c_custkey, delta)) s
         |ON t.c_custkey = s.c_custkey
         |WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal + s.delta
         |WHEN NOT MATCHED BY SOURCE AND c_custkey = 4 THEN DELETE""".stripMargin)
    val got = ext.sql(s"SELECT c_custkey FROM $t ORDER BY 1").collect().map(_.getLong(0))
    // 1,2 were masked (1's source row matches NOTHING visible and must
    // not resurrect it); 3 updated in place; 4 swept; 5..8 survive
    assert(got.toSeq == Seq(3L, 5L, 6L, 7L, 8L))
    val bal3 = ext.sql(s"SELECT c_acctbal FROM $t WHERE c_custkey = 3").head().getDouble(0)
    val orig3 = graft.Tables.customer(spark, sfDir).filter(col("c_custkey") === 3)
      .select(col("c_acctbal")).head().getDouble(0)
    assert(bal3 == orig3 + 30.0)
  }

  test("unsupported MERGE shapes fail loudly instead of mis-executing") {
    val t = freshTable("mrgbad", 1 to 3)
    val err2 = intercept[Exception] {
      ext.sql(
        s"""MERGE INTO $t t USING (SELECT 1 AS k, 'x' AS c_name, 0.0 AS c_acctbal) s
           |ON t.c_custkey = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(err2.getMessage.contains("same-named"))
    // a clause condition over the TARGET row can't evaluate source-side
    val err3 = intercept[Exception] {
      ext.sql(
        s"""MERGE INTO $t t USING (SELECT 1 AS c_custkey, 'x' AS c_name, 0.0 AS c_acctbal) s
           |ON t.c_custkey = s.c_custkey
           |WHEN MATCHED AND t.c_acctbal < 0 THEN DELETE""".stripMargin)
    }
    assert(err3.getMessage.contains("only source columns"))
    // a BY SOURCE clause has no source row: source-qualified refs refuse
    val err4 = intercept[Exception] {
      ext.sql(
        s"""MERGE INTO $t t USING (SELECT 1 AS c_custkey, 'x' AS c_name, 0.0 AS c_acctbal) s
           |ON t.c_custkey = s.c_custkey
           |WHEN NOT MATCHED BY SOURCE AND s.c_name = 'x' THEN DELETE""".stripMargin)
    }
    assert(err4.getMessage.contains("only target columns"))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: full-sync delete, conditional flag, CDC-exact") {
    // full sync: after the merge the target IS the source
    val t = freshTable("mrgbs", 1 to 6)
    ext.sql(
      s"""MERGE INTO $t t USING (
         |  SELECT * FROM VALUES
         |    (2, 'Keep#2', 2.0), (3, 'Keep#3', 3.0), (100, 'New#100', 100.0)
         |  AS v(c_custkey, c_name, c_acctbal)) s
         |ON t.c_custkey = s.c_custkey
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val rows = ext.sql(s"SELECT c_custkey, c_name FROM $t ORDER BY c_custkey").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 3L, 100L))
    assert(rows.map(_.getString(1)).toSeq == Seq("Keep#2", "Keep#3", "New#100"))

    // conditional variants: first holding clause wins, SET expressions
    // read the TARGET row, unselected rows survive untouched
    val t2 = freshTable("mrgbs2", 1 to 6)
    val before = cat.currentSnapshot(t2).get
    ext.sql(
      s"""MERGE INTO $t2 t USING (
         |  SELECT * FROM VALUES (1, 'S#1', 1.0) AS v(c_custkey, c_name, c_acctbal)) s
         |ON t.c_custkey = s.c_custkey
         |WHEN NOT MATCHED BY SOURCE AND t.c_custkey <= 3
         |  THEN UPDATE SET c_name = concat('STALE:', t.c_name), c_acctbal = -t.c_acctbal
         |WHEN NOT MATCHED BY SOURCE AND c_custkey = 4 THEN DELETE""".stripMargin)
    val got = ext.sql(s"SELECT c_custkey, c_name, c_acctbal FROM $t2 ORDER BY c_custkey")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // 1 matched (no matched clause -> untouched), 2..3 flagged, 4 gone, 5..6 untouched
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 5L, 6L))
    assert(got.filter(r => r._1 == 2L || r._1 == 3L)
      .forall(r => r._2.startsWith("STALE:") && r._3 <= 0))
    assert(got.filter(r => r._1 == 1L || r._1 >= 5L).forall(!_._2.startsWith("STALE:")))
    // CDC exactness across the by-source merge: net feed is
    // delete(old 2,3,4) + insert(new 2,3)
    val after = cat.currentSnapshot(t2).get
    assert(after.props.get(SnapshotCatalog.OperationProp).contains(SnapshotCatalog.OpMerge))
    val feed = cat.changesBetween(spark, t2, before.snapshotId, Some(after.snapshotId))
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 3L, "insert" -> 2L), s"got $byType")
    assert(feed.filter(col("_change_type") === "delete").select("c_custkey")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L, 4L))

    // delete-only by-source merge needs only key columns in the source
    val t3 = freshTable("mrgbs3", 1 to 4)
    ext.sql(
      s"""MERGE INTO $t3 t USING (
         |  SELECT * FROM VALUES (1), (2) AS v(c_custkey)) s
         |ON t.c_custkey = s.c_custkey
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(ext.sql(s"SELECT c_custkey FROM $t3 ORDER BY 1").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("CREATE TABLE graft.t AS SELECT completes the SQL-only lifecycle") {
    seedCtas()
    ext.sql(
      """CREATE TABLE graft.ctas1 AS
        |SELECT c_custkey, c_name, c_acctbal FROM cust_ctas_seed WHERE c_custkey <= 8""".stripMargin)
    assert(ext.sql("SELECT count(*) AS n FROM ctas1").head().getLong(0) == 8)
    // it is a real catalog table: history, time travel, DML all work
    ext.sql("INSERT INTO ctas1 VALUES (100, 'More', 1.0)")
    assert(ext.sql("SELECT count(*) AS n FROM ctas1").head().getLong(0) == 9)
    assert(ext.sql("SELECT count(*) AS n FROM ctas1 VERSION AS OF 1").head().getLong(0) == 8)
    // name collision refused; IF NOT EXISTS is a no-op
    val err = intercept[Exception] {
      ext.sql("CREATE TABLE graft.ctas1 AS SELECT 1 AS a")
    }
    assert(err.getMessage.contains("already exists"))
    ext.sql("CREATE TABLE IF NOT EXISTS graft.ctas1 AS SELECT 1 AS a")
    assert(ext.sql("SELECT count(*) AS n FROM ctas1").head().getLong(0) == 9)
    // bare-name CTAS stays with the session catalog (not claimed)
    ext.sql("CREATE TABLE bare_ctas AS SELECT 1 AS a")
    try assert(!cat.tables().contains("bare_ctas"))
    finally ext.sql("DROP TABLE bare_ctas")
  }

  private def seedCtas(): Unit =
    if (!cat.tables().contains("cust_ctas_seed")) freshTable("cust_ctas_seed", 1 to 20)

  test("ALTER TABLE ADD/DROP/RENAME COLUMN are metadata-only schema evolution") {
    val t = freshTable("ddl1", 1 to 8)
    val filesBefore = cat.currentSnapshot(t).get.files.map(_.path).toSet

    // ADD: appends nullable; existing rows read NULL; INSERT can fill it
    ext.sql(s"ALTER TABLE $t ADD COLUMNS (segment STRING, score BIGINT)")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t WHERE segment IS NULL")
      .head().getLong(0) == 8)
    ext.sql(s"INSERT INTO $t VALUES (900, 'NewCust', 1.5, 'SEG_A', 7)")
    assert(ext.sql(s"SELECT segment, score FROM $t WHERE c_custkey = 900")
      .head().toSeq == Seq("SEG_A", 7L))

    // RENAME: reads through the new name, old name gone, pruning keys re-keyed
    ext.sql(s"ALTER TABLE $t RENAME COLUMN c_acctbal TO balance")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t WHERE balance IS NOT NULL")
      .head().getLong(0) == 9)
    assert(intercept[Exception](ext.sql(s"SELECT c_acctbal FROM $t").collect())
      .getMessage.toLowerCase.contains("c_acctbal"))

    // DROP: data invisible; drop-then-re-add reads null, not old values
    ext.sql(s"ALTER TABLE $t DROP COLUMN segment")
    assert(!ext.sql(s"SELECT * FROM $t").columns.contains("segment"))
    ext.sql(s"ALTER TABLE $t ADD COLUMNS (segment STRING)")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t WHERE segment IS NULL")
      .head().getLong(0) == 9, "re-added column must not resurrect dropped values")

    // all of the above were metadata commits: the original files still
    // carry the data (only the INSERT added one)
    val filesAfter = cat.currentSnapshot(t).get.files.map(_.path).toSet
    assert(filesBefore.subsetOf(filesAfter) && filesAfter.size == filesBefore.size + 1)

    // IF EXISTS swallows a missing drop; plain drop refuses
    ext.sql(s"ALTER TABLE $t DROP COLUMN IF EXISTS nope")
    assert(intercept[Exception](ext.sql(s"ALTER TABLE $t DROP COLUMN nope"))
      .getMessage.contains("no column"))

    // unsupported shapes refuse loudly
    assert(intercept[UnsupportedOperationException](
      ext.sql(s"ALTER TABLE $t ADD COLUMNS (x INT NOT NULL)"))
      .getMessage.contains("unsatisfiable"))
    assert(intercept[UnsupportedOperationException](
      ext.sql(s"ALTER TABLE $t ADD COLUMNS (x INT FIRST)"))
      .getMessage.contains("FIRST/AFTER"))
  }

  test("ALTER TABLE ALTER COLUMN TYPE widens along the promotion lattice") {
    ext.sql("CREATE TABLE graft.wt (k INT, x FLOAT)")
    ext.sql("INSERT INTO wt VALUES (1, CAST(1.5 AS FLOAT)), (2, CAST(2.5 AS FLOAT))")
    ext.sql("ALTER TABLE wt ALTER COLUMN k TYPE BIGINT")
    ext.sql("ALTER TABLE wt ALTER COLUMN x TYPE DOUBLE")
    // post-widen inserts use the wide type for real
    ext.sql("INSERT INTO wt VALUES (5000000000, 9.5)")
    val rows = ext.sql("SELECT k, x FROM wt ORDER BY k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 5000000000L))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(1.5, 2.5, 9.5))
    // narrowing and positional moves refuse loudly (COMMENT is r13's
    // supported form — see the comment battery)
    val e1 = intercept[Exception] { ext.sql("ALTER TABLE wt ALTER COLUMN k TYPE INT") }
    assert(e1.getMessage.contains("widening"))
    val e2 = intercept[Exception] {
      ext.sql("ALTER TABLE wt ALTER COLUMN k AFTER x") }
    assert(e2.getMessage.contains("FIRST/AFTER"))
  }

  test("DML on an unclaimed name falls through to builtin analysis") {
    val err = intercept[Exception] {
      ext.sql("DELETE FROM no_such_table WHERE x = 1")
    }
    assert(err.getMessage.toLowerCase.contains("cannot be found") ||
      err.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
  }

  test("SQL-written state round-trips through the code API read") {
    val t = freshTable("rt", 1 to 4)
    ext.sql(s"INSERT INTO $t VALUES (50, 'Api#50', 5.0)")
    ext.sql(s"DELETE FROM $t WHERE c_custkey = 2")
    val api = cat.read(spark, t).select("c_custkey").collect().map(_.getLong(0)).sorted
    assert(api.toSeq == Seq(1L, 3L, 4L, 50L))
  }

  test("CREATE TABLE graft.t (cols) is born empty with the declared schema") {
    ext.sql("CREATE TABLE graft.ct1 (k BIGINT, name STRING, bal DOUBLE)")
    assert(cat.tables().contains("ct1"))
    assert(ext.sql("SELECT count(*) AS n FROM ct1").head().getLong(0) == 0)
    // the declared schema governs later inserts (positional cast)
    ext.sql("INSERT INTO ct1 VALUES (1, 'A', 2.5)")
    val row = ext.sql("SELECT k, name, bal FROM ct1").head()
    assert(row.getLong(0) == 1L && row.getString(1) == "A" && row.getDouble(2) == 2.5)
    // collision refuses; IF NOT EXISTS no-ops
    val err = intercept[Exception] { ext.sql("CREATE TABLE graft.ct1 (x INT)") }
    assert(err.getMessage.contains("already exists"))
    ext.sql("CREATE TABLE IF NOT EXISTS graft.ct1 (x INT)")
    assert(ext.sql("SELECT count(*) AS n FROM ct1").head().getLong(0) == 1)
    // NOT NULL is a declared contract (S61): accepted at create,
    // enforced at commit — a violating insert aborts before publish
    ext.sql("CREATE TABLE graft.ct2 (k BIGINT NOT NULL)")
    val nn = intercept[Exception] {
      ext.sql("INSERT INTO ct2 VALUES (CAST(NULL AS BIGINT))") }
    assert(nn.getMessage.contains("NOT NULL"))
    assert(ext.sql("SELECT count(*) AS n FROM ct2").head().getLong(0) == 0)
  }

  test("TRUNCATE TABLE empties in one snapshot; time travel reaches the old rows") {
    val t = freshTable("trc", 1 to 8)
    val v1 = cat.currentSnapshot(t).get.snapshotId
    ext.sql(s"TRUNCATE TABLE $t")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 0)
    assert(ext.sql(s"SELECT count(*) AS n FROM $t VERSION AS OF $v1").head().getLong(0) == 8)
    // schema survives: the table still accepts inserts
    ext.sql(s"INSERT INTO $t VALUES (900, 'PostTruncate', 1.0)")
    assert(ext.sql(s"SELECT c_name FROM $t").head().getString(0) == "PostTruncate")
  }

  test("DROP TABLE removes metadata; PURGE also deletes main-history files; plain DROP spares clone-shared data") {
    val t = freshTable("drp", 1 to 5)
    ext.sql(s"INSERT INTO $t VALUES (700, 'X', 0.0)")
    // zero-copy clone shares the data files
    cat.cloneTable(t, "drp_keep")
    val sharedPaths = cat.currentSnapshot(t).get.files.map(_.path)
    ext.sql(s"DROP TABLE $t")
    assert(!cat.tables().contains(t))
    // clone still reads every row: plain DROP must not delete shared data
    assert(ext.sql("SELECT count(*) AS n FROM drp_keep").head().getLong(0) == 6)
    assert(sharedPaths.forall(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    // PURGE: files referenced by the dropped table's history go away
    val t2 = freshTable("drp2", 1 to 3)
    val purgePaths = cat.currentSnapshot(t2).get.files.map(_.path)
    ext.sql(s"DROP TABLE graft.$t2 PURGE")
    assert(!cat.tables().contains(t2))
    assert(purgePaths.forall(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    // IF EXISTS on a missing graft table is OUR no-op; without it, loud
    ext.sql("DROP TABLE IF EXISTS graft.never_was")
    val err = intercept[Exception] { ext.sql("DROP TABLE graft.never_was") }
    assert(err.getMessage.contains("no table"))
  }

  test("DROP PURGE is clone-safe in both directions: shared bytes survive, own bytes go") {
    import java.nio.file.Paths
    // direction 1: purge the CLONE — the source's files must survive
    val t = freshTable("pg_src", 1 to 5)
    ext.sql(s"CALL graft.clone('$t', 'pg_cl')")
    val shared = cat.currentSnapshot(t).get.files.map(_.path)
    ext.sql("INSERT INTO pg_cl VALUES (901, 'CloneOwn', 1.0)")
    val cloneOwn = cat.currentSnapshot("pg_cl").get.files.map(_.path)
      .filterNot(shared.contains)
    assert(cloneOwn.nonEmpty)
    ext.sql("DROP TABLE graft.pg_cl PURGE")
    assert(shared.forall(p => Files.exists(Paths.get(p))),
      "PURGE of a clone must not delete the source's files")
    assert(cloneOwn.forall(p => !Files.exists(Paths.get(p))),
      "PURGE must still delete the clone's own unshared files")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 5)
    // direction 2: purge the SOURCE — files the clone still lists survive
    cat.cloneTable(t, "pg_keep")
    ext.sql(s"INSERT INTO $t VALUES (902, 'SrcOwn', 2.0)")
    val srcOwn = cat.currentSnapshot(t).get.files.map(_.path)
      .filterNot(shared.contains)
    assert(srcOwn.nonEmpty)
    ext.sql(s"DROP TABLE graft.$t PURGE")
    assert(shared.forall(p => Files.exists(Paths.get(p))),
      "PURGE of the source must not delete files a clone still references")
    assert(srcOwn.forall(p => !Files.exists(Paths.get(p))))
    assert(ext.sql("SELECT count(*) AS n FROM pg_keep").head().getLong(0) == 5)
  }

  test("DROP PURGE spares clone-shared bytes under the source's OWN data dir (default SQL deployment)") {
    import java.nio.file.Paths
    // the source is built ENTIRELY through SQL, so its data files live
    // under <tableDir>/data — the layout where a tree-wiping PURGE of
    // the source would reach through the clone's shared references
    ext.sql("CREATE TABLE graft.pgown (k BIGINT, name STRING, v DOUBLE)")
    ext.sql("INSERT INTO pgown VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    val shared = cat.currentSnapshot("pgown").get.files.map(_.path)
    assert(shared.nonEmpty && shared.forall(_.startsWith(cat.tableDirOf("pgown"))),
      "precondition: default SQL deployment writes under the source's own tableDir")
    ext.sql("CALL graft.clone('pgown', 'pgown_cl')")
    ext.sql("INSERT INTO pgown VALUES (3, 'c', 3.0)") // post-clone, unshared
    val own = cat.currentSnapshot("pgown").get.files.map(_.path)
      .filterNot(shared.contains)
    assert(own.nonEmpty)
    ext.sql("DROP TABLE graft.pgown PURGE")
    assert(shared.forall(p => Files.exists(Paths.get(p))),
      "PURGE of a cloned-from source must not tree-wipe its own data dir")
    assert(own.forall(p => !Files.exists(Paths.get(p))),
      "the source's unshared bytes still go")
    // the clone reads every pre-clone row through the shared bytes
    assert(ext.sql("SELECT count(*) AS n FROM pgown_cl").head().getLong(0) == 2)
    assert(ext.sql("SELECT sum(k) AS s FROM pgown_cl").head().getLong(0) == 3)
    // dropping the last referent releases the shared bytes AND the
    // empty directory skeleton they kept alive
    ext.sql("DROP TABLE graft.pgown_cl PURGE")
    assert(shared.forall(p => !Files.exists(Paths.get(p))))
    assert(!Files.exists(Paths.get(cat.tableDirOf("pgown"))),
      "with no referents left, the source tree is fully pruned")
    assert(!Files.exists(Paths.get(cat.tableDirOf("pgown_cl"))))
  }

  test("PURGE foreign-liveness walk is bounded: unrelated tables are never history-walked") {
    // a catalog full of unrelated tables: none of them may appear in the
    // purge walk set (on a 10k-snapshot catalog, walking them is the
    // cost; the probes are two memoized parses each)
    ext.sql("CREATE TABLE graft.fw_u1 (k BIGINT)")
    ext.sql("INSERT INTO fw_u1 VALUES (1), (2)")
    ext.sql("CREATE TABLE graft.fw_u2 (k BIGINT)")
    ext.sql("INSERT INTO fw_u2 VALUES (3)")
    ext.sql("CREATE TABLE graft.fw_src (k BIGINT, v DOUBLE)")
    ext.sql("INSERT INTO fw_src VALUES (1, 1.0), (2, 2.0)")
    ext.sql("CALL graft.clone('fw_src', 'fw_cl')")
    // dropping the SOURCE: its candidates live under its own tree; the
    // clone is found by the fork-snapshot membership probe
    val srcCands = cat.snapshots("fw_src").flatMap(_.files.map(_.path)).distinct
    val w1 = cat.foreignWalkRefs(Set("fw_src"), "fw_src", srcCands)
    assert(w1.contains("fw_cl"), "the clone must be fully walked")
    assert(!w1.exists(r => r.startsWith("fw_u1") || r.startsWith("fw_u2")),
      "unrelated tables must be skipped")
    // dropping the CLONE: candidates sit under the source's tree — the
    // tree-prefix probe attributes them to the source alone
    val clCands = cat.snapshots("fw_cl").flatMap(_.files.map(_.path)).distinct
    val w2 = cat.foreignWalkRefs(Set("fw_cl"), "fw_cl", clCands)
    assert(w2.contains("fw_src"))
    assert(!w2.exists(r => r.startsWith("fw_u1") || r.startsWith("fw_u2")))
    // a candidate OUTSIDE every table tree (external shared dataDir):
    // attribution impossible — conservative full walk
    val w3 = cat.foreignWalkRefs(Set("fw_cl"), "fw_cl",
      clCands :+ "/somewhere/external/shared.parquet")
    assert(w3.contains("fw_u1") && w3.contains("fw_u2") && w3.contains("fw_src"))
  }

  test("DROP PURGE covers branch-only files; DROP on a branch ref drops just the branch") {
    import java.nio.file.Paths
    val t = freshTable("pgbr", 1 to 4)
    ext.sql(s"CALL graft.branch('$t', 'dev')")
    val ref = s"`$t/branches/dev`"
    ext.sql(s"INSERT INTO $ref VALUES (903, 'BranchOnly', 3.0)")
    // DROP of the backquoted branch ref removes the branch, not the table
    ext.sql(s"DROP TABLE $ref")
    assert(!cat.branches(t).contains("dev"))
    assert(cat.tables().contains(t))
    assert(ext.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 4)
    // IF EXISTS on the now-missing branch ref: quiet no-op; plain: loud
    ext.sql(s"DROP TABLE IF EXISTS graft.$ref")
    val err = intercept[Exception] { ext.sql(s"DROP TABLE graft.$ref") }
    assert(err.getMessage.contains("no table"))
    // a table PURGE must also delete files written ONLY on a branch —
    // once the metadata tree is gone no vacuum can ever identify them
    val t2 = freshTable("pgbr2", 1 to 3)
    ext.sql(s"CALL graft.branch('$t2', 'dev')")
    ext.sql(s"INSERT INTO `$t2/branches/dev` VALUES (904, 'B', 4.0)")
    val basePaths = cat.currentSnapshot(t2).get.files.map(_.path)
    val brPaths = cat.currentSnapshot(s"$t2/branches/dev").get.files.map(_.path)
    assert(brPaths.exists(!basePaths.contains(_)))
    ext.sql(s"DROP TABLE graft.$t2 PURGE")
    assert((basePaths ++ brPaths).forall(p => !Files.exists(Paths.get(p))),
      "branch-only files must not become permanent orphans under PURGE")
  }

  test("S61 SQL: CREATE TABLE DEFAULT/NOT NULL; INSERT fills defaults; null refuses") {
    ext.sql("CREATE TABLE graft.defs (id BIGINT NOT NULL, name STRING, " +
      "score DOUBLE DEFAULT 0.25)")
    // subset INSERT: score fills its write-default, not NULL
    ext.sql("INSERT INTO defs (id, name) VALUES (1, 'a')")
    ext.sql("INSERT INTO defs VALUES (2, 'b', 9.0)")
    val rows = ext.sql("SELECT id, score FROM defs ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 0.25), (2L, 9.0)))
    // a null in the NOT NULL key aborts before publish — table unchanged
    val head = cat.currentSnapshot("defs").get.snapshotId
    val ex = intercept[Exception] {
      ext.sql("INSERT INTO defs VALUES (NULL, 'x', 1.0)")
    }
    assert(ex.getMessage.contains("NOT NULL violation"))
    assert(cat.currentSnapshot("defs").get.snapshotId == head)
    // NOT NULL on a type stats can't enforce refuses at CREATE
    val ex2 = intercept[Exception] {
      ext.sql("CREATE TABLE graft.defs2 (b BINARY NOT NULL)")
    }
    assert(ex2.getMessage.contains("cannot be enforced"))
    // NOT NULL with DEFAULT NULL is contradictory — and the typed form
    // CAST(NULL AS T) is the same null (the canonical-sentinel check)
    val ex3 = intercept[Exception] {
      ext.sql("CREATE TABLE graft.defs3 (k BIGINT NOT NULL DEFAULT NULL)")
    }
    assert(ex3.getMessage.contains("contradictory"))
    val ex4 = intercept[Exception] {
      ext.sql("CREATE TABLE graft.defs3 (k BIGINT NOT NULL DEFAULT CAST(NULL AS BIGINT))")
    }
    assert(ex4.getMessage.contains("contradictory"))
    // a string default whose TEXT contains NULL is a value, not null
    ext.sql("CREATE TABLE graft.defs4 (k BIGINT NOT NULL, s STRING NOT NULL DEFAULT 'NULLISH')")
    ext.sql("INSERT INTO defs4 (k) VALUES (1)")
    assert(ext.sql("SELECT s FROM defs4").head().getString(0) == "NULLISH")
  }

  test("S61 SQL: ADD COLUMNS DEFAULT [NOT NULL], ALTER COLUMN SET/DROP DEFAULT / NOT NULL") {
    val t = freshTable("defalter", 1 to 3)
    // ADD with DEFAULT: existing rows read the literal
    ext.sql(s"ALTER TABLE $t ADD COLUMNS (tier STRING DEFAULT 'bronze')")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t WHERE tier = 'bronze'")
      .head().getLong(0) == 3)
    // ADD ... NOT NULL without DEFAULT still refuses; with DEFAULT works
    val ex = intercept[Exception] {
      ext.sql(s"ALTER TABLE $t ADD COLUMNS (bad STRING NOT NULL)")
    }
    assert(ex.getMessage.contains("unsatisfiable"))
    ext.sql(s"ALTER TABLE $t ADD COLUMNS (region STRING DEFAULT 'emea' NOT NULL)")
    ext.sql(s"INSERT INTO $t (c_custkey, c_name, c_acctbal) VALUES (50, 'x', 1.0)")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t WHERE region = 'emea'")
      .head().getLong(0) == 4)
    // SET DEFAULT moves future writes only
    ext.sql(s"ALTER TABLE $t ALTER COLUMN tier SET DEFAULT 'silver'")
    ext.sql(s"INSERT INTO $t (c_custkey, c_name, c_acctbal) VALUES (51, 'y', 2.0)")
    val tiers = ext.sql(s"SELECT c_custkey, tier FROM $t ORDER BY c_custkey").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tiers(50L) == "bronze" && tiers(51L) == "silver" && tiers(1L) == "bronze")
    // DROP DEFAULT: the next omitting write reads null
    ext.sql(s"ALTER TABLE $t ALTER COLUMN tier DROP DEFAULT")
    ext.sql(s"INSERT INTO $t (c_custkey, c_name, c_acctbal) VALUES (52, 'z', 3.0)")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t WHERE tier IS NULL")
      .head().getLong(0) == 1)
    // SET NOT NULL refuses while that null is visible; after deleting it
    // the contract lands and a violating insert aborts
    val ex2 = intercept[Exception] {
      ext.sql(s"ALTER TABLE $t ALTER COLUMN tier SET NOT NULL")
    }
    assert(ex2.getMessage.contains("null values exist"))
    ext.sql(s"DELETE FROM $t WHERE tier IS NULL")
    ext.sql(s"ALTER TABLE $t ALTER COLUMN tier SET NOT NULL")
    val ex3 = intercept[Exception] {
      ext.sql(s"INSERT INTO $t VALUES (53, 'w', 4.0, NULL, 'emea')")
    }
    assert(ex3.getMessage.contains("NOT NULL violation"))
    // DROP NOT NULL relaxes again
    ext.sql(s"ALTER TABLE $t ALTER COLUMN tier DROP NOT NULL")
    ext.sql(s"INSERT INTO $t VALUES (53, 'w', 4.0, NULL, 'emea')")
    assert(ext.sql(s"SELECT count(*) AS n FROM $t WHERE tier IS NULL")
      .head().getLong(0) == 1)
    // MERGE WHEN NOT MATCHED INSERT (cols): unassigned column fills its
    // write-default (region='emea'), not NULL
    ext.sql(s"MERGE INTO $t USING (SELECT 60 AS c_custkey, 'm' AS c_name) s " +
      s"ON $t.c_custkey = s.c_custkey " +
      "WHEN NOT MATCHED THEN INSERT (c_custkey, c_name) VALUES (s.c_custkey, s.c_name)")
    val m = ext.sql(s"SELECT region, tier FROM $t WHERE c_custkey = 60").head()
    assert(m.getString(0) == "emea" && m.isNullAt(1))
  }

  test("SQL discovery: SHOW TABLES / SHOW VIEWS IN graft enumerate the catalog") {
    ext.sql("CREATE TABLE graft.disco (id BIGINT NOT NULL, name STRING, " +
      "score DOUBLE DEFAULT 0.25)")
    ext.sql("CREATE VIEW graft.disco_v AS SELECT id FROM disco")
    val tables = ext.sql("SHOW TABLES IN graft").collect()
    assert(tables.map(_.getString(1)).contains("disco"))
    assert(!tables.map(_.getString(1)).contains("disco_v")) // views are not tables
    assert(tables.forall(r => r.getString(0) == "graft" && !r.getBoolean(2)))
    // LIKE pattern: '*' glob, '|' alternation, case-insensitive
    assert(ext.sql("SHOW TABLES IN graft LIKE 'DISC*'")
      .collect().map(_.getString(1)).toSeq == Seq("disco"))
    assert(ext.sql("SHOW TABLES IN graft LIKE 'nope|disco'")
      .collect().map(_.getString(1)).toSeq == Seq("disco"))
    val views = ext.sql("SHOW VIEWS IN graft").collect().map(_.getString(1))
    assert(views.contains("disco_v") && !views.contains("disco"))
  }

  test("SQL discovery: DESCRIBE renders types and the S61 contracts; views describe too") {
    if (!cat.tables().contains("disco"))
      ext.sql("CREATE TABLE graft.disco (id BIGINT NOT NULL, name STRING, " +
        "score DOUBLE DEFAULT 0.25)")
    if (cat.viewMeta("disco_v").isEmpty)
      ext.sql("CREATE VIEW graft.disco_v AS SELECT id FROM disco")
    val desc = ext.sql("DESCRIBE TABLE graft.disco").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(desc.contains(("id", "bigint", "NOT NULL")))
    assert(desc.contains(("name", "string", null)))
    assert(desc.contains(("score", "double", "DEFAULT 0.25D")))
    // bare name resolves when the table exists; EXTENDED adds manifest
    // facts (metadata-sized — no data I/O)
    val ex1 = ext.sql("DESCRIBE EXTENDED disco").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ex1("Type") == "graft table" && ex1.contains("Snapshot") &&
      ex1.contains("Files") && ex1.contains("Rows"))
    // a stored view describes through its analyzed body
    val vdesc = ext.sql("DESCRIBE graft.disco_v").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(vdesc.toSeq == Seq(("id", "bigint")))
    val vext = ext.sql("DESCRIBE EXTENDED disco_v").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(vext("Type") == "graft view" && vext("View Text").contains("SELECT id"))
    // a missing graft-qualified name is OUR loud error
    val ex = intercept[Exception] { ext.sql("DESCRIBE graft.nope").collect() }
    assert(ex.getMessage.contains("no table or view"))
  }

  test("SHOW CREATE TABLE renders round-trippable DDL with contracts; views show their SQL") {
    if (!cat.tables().contains("disco"))
      ext.sql("CREATE TABLE graft.disco (id BIGINT NOT NULL, name STRING, " +
        "score DOUBLE DEFAULT 0.25)")
    if (cat.viewMeta("disco_v").isEmpty)
      ext.sql("CREATE VIEW graft.disco_v AS SELECT id FROM disco")
    val ddl = ext.sql("SHOW CREATE TABLE graft.disco").head().getString(0)
    assert(ddl.contains("id BIGINT NOT NULL"))
    assert(ddl.contains("score DOUBLE DEFAULT 0.25D"))
    assert(ddl.contains("USING parquet"))
    // the emitted statement executes back through the same rule set
    ext.sql(ddl.replace("graft.disco", "graft.disco2"))
    val re = cat.schema("disco2").get
    assert(re.fieldNames.toSeq == Seq("id", "name", "score"))
    assert(!re("id").nullable)
    assert(graft.meta.SnapshotCatalog.writeDefaultOf(re("score")).contains("0.25D"))
    // a view renders its stored current definition
    val vddl = ext.sql("SHOW CREATE TABLE disco_v").head().getString(0)
    assert(vddl.startsWith("CREATE VIEW graft.disco_v AS") &&
      vddl.contains("SELECT id"))
    // a materialized view's state table renders no engine-internal prop
    if (!cat.tables().contains("disco_mv"))
      graft.sinks.MaterializedAgg.build(spark, cat, graft.sinks.MaterializedAgg.MvSpec(
        freshTable("disco_mv_src", 1 to 4), Seq("c_custkey"), sums = Seq("c_acctbal")),
        "disco_mv", dataDir)
    val mvddl = ext.sql("SHOW CREATE TABLE disco_mv").head().getString(0)
    assert(!mvddl.contains("graft.view."), mvddl)
  }

  test("discovery launches ZERO Spark jobs — the metadata-sized claim, listener-proven") {
    if (!cat.tables().contains("disco"))
      ext.sql("CREATE TABLE graft.disco (id BIGINT NOT NULL, name STRING, " +
        "score DOUBLE DEFAULT 0.25)")
    if (cat.viewMeta("disco_v").isEmpty)
      ext.sql("CREATE VIEW graft.disco_v AS SELECT id FROM disco")
    if (!cat.tables().contains("disco_ren"))
      ext.sql("CREATE TABLE graft.disco_ren (id BIGINT)")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      GraftColumnShim.drainListenerBus(spark) // settle prior tests' events
      val before = jobs.get()
      ext.sql("SHOW TABLES IN graft").collect()
      ext.sql("SHOW VIEWS IN graft LIKE 'disc*'").collect()
      ext.sql("DESCRIBE EXTENDED disco").collect()
      ext.sql("DESCRIBE graft.disco_v").collect() // body ANALYZED, never run
      ext.sql("SHOW CREATE TABLE graft.disco").collect()
      ext.sql("SHOW PARTITIONS disco").collect()
      ext.sql("SHOW TBLPROPERTIES disco").collect()
      // RENAME TO is metadata-only BY MEASUREMENT too: both directions
      // (and the old-name reuse they imply) launch zero jobs
      ext.sql("ALTER TABLE disco_ren RENAME TO disco_ren2")
      ext.sql("ALTER TABLE disco_ren2 RENAME TO disco_ren")
      GraftColumnShim.drainListenerBus(spark)
      assert(jobs.get() == before,
        s"discovery must answer from metadata, not Spark jobs (${jobs.get() - before} launched)")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("SHOW PARTITIONS answers from the manifest: hive layout, spec filter, unpartitioned empty") {
    val days = Seq(graft.meta.DaysTransform("ts"))
    val pcol = days.head.partCol
    val ev = graft.Tables.events(spark, sfDir)
      .filter(col("ts") < lit("2024-01-04").cast("timestamp"))
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    Writers.writeTransformedSnapshot(cat, "showpart", ev,
      s"$dataDir/showpart", days)
    val parts = ext.sql("SHOW PARTITIONS showpart").collect().map(_.getString(0))
    assert(parts.length == 3 && parts.forall(_.startsWith(s"$pcol=2024-01-0")))
    assert(parts.toSeq == parts.toSeq.sorted)
    // a PARTITION spec filters to matching tuples
    val one = ext.sql(
      s"SHOW PARTITIONS showpart PARTITION (`$pcol` = '2024-01-02')")
      .collect().map(_.getString(0))
    assert(one.toSeq == Seq(s"$pcol=2024-01-02"))
    // an unpartitioned table has no tuples to show
    val t = freshTable("showpart0", 1 to 3)
    assert(ext.sql(s"SHOW PARTITIONS $t").collect().isEmpty)
  }

  test("COMMENT ON TABLE and column COMMENTs: stored, carried, rendered, cleared") {
    val t = freshTable("cmt", 1 to 3)
    ext.sql(s"COMMENT ON TABLE $t IS 'customer slice'")
    // the comment is sticky: a later commit carries it
    ext.sql(s"INSERT INTO $t VALUES (900, 'X', 1.0)")
    assert(cat.currentSnapshot(t).get.props
      .get(SnapshotCatalog.CommentProp).contains("customer slice"))
    // DESCRIBE EXTENDED and SHOW TBLPROPERTIES render it
    val ext1 = ext.sql(s"DESCRIBE EXTENDED $t").collect()
    assert(ext1.exists(r => r.getString(0) == "Comment" &&
      r.getString(1) == "customer slice"))
    assert(ext.sql(s"SHOW TBLPROPERTIES $t ('graft.comment')")
      .head().getString(1) == "customer slice")
    // branches and clones inherit the comment like the index props
    ext.sql(s"CALL graft.branch('$t', 'b1')")
    assert(cat.currentSnapshot(s"$t/branches/b1").get.props
      .get(SnapshotCatalog.CommentProp).contains("customer slice"))
    ext.sql(s"CALL graft.clone('$t', 'cmt_clone')")
    assert(cat.currentSnapshot("cmt_clone").get.props
      .get(SnapshotCatalog.CommentProp).contains("customer slice"))
    // column comments ride the schema's field metadata
    ext.sql(s"ALTER TABLE $t ALTER COLUMN c_name COMMENT 'display name'")
    val desc = ext.sql(s"DESCRIBE $t").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc("c_name") == "display name")
    // SHOW CREATE TABLE renders both, round-trippably quoted
    val ddl = ext.sql(s"SHOW CREATE TABLE $t").head().getString(0)
    assert(ddl.contains("COMMENT 'display name'") &&
      ddl.contains("COMMENT 'customer slice'"))
    // CREATE TABLE accepts both comment positions; CTAS keeps its
    // COMMENT clause too (a declared comment must never silently drop)
    ext.sql("CREATE TABLE graft.cmt2 (id BIGINT COMMENT 'pk', v DOUBLE) " +
      "COMMENT 'tiny table'")
    ext.sql(s"CREATE TABLE graft.cmt3 COMMENT 'from ctas' AS " +
      s"SELECT c_custkey FROM $t")
    assert(cat.currentSnapshot("cmt3").get.props
      .get(SnapshotCatalog.CommentProp).contains("from ctas"))
    val ddl2 = ext.sql("SHOW CREATE TABLE cmt2").head().getString(0)
    assert(ddl2.contains("COMMENT 'pk'") && ddl2.contains("COMMENT 'tiny table'"))
    // clears: IS NULL for the table, COMMENT '' for a column
    ext.sql(s"COMMENT ON TABLE $t IS NULL")
    assert(!cat.currentSnapshot(t).get.props.contains(SnapshotCatalog.CommentProp))
    ext.sql(s"ALTER TABLE $t ALTER COLUMN c_name COMMENT ''")
    val cleared = ext.sql(s"DESCRIBE $t").collect()
      .find(_.getString(0) == "c_name").get
    assert(cleared.isNullAt(2))
    // a comment composes with contracts in the comment column
    ext.sql("ALTER TABLE cmt2 ALTER COLUMN id SET NOT NULL")
    val idRow = ext.sql("DESCRIBE cmt2").collect()
      .find(_.getString(0) == "id").get
    assert(idRow.getString(2) == "NOT NULL pk")
  }

  test("SHOW/SET/UNSET TBLPROPERTIES: the sticky index props through the index code path") {
    val t = freshTable("props", 1 to 6)
    // SET enables + backfills through indexColumns: blooms appear on
    // every file and the prop sticks for later commits
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.bloom.columns' = 'c_custkey')")
    val snap = cat.currentSnapshot(t).get
    assert(snap.props.get(SnapshotCatalog.BloomColumnsProp).contains("c_custkey"))
    assert(snap.files.filter(_.rowCount > 0).forall(_.blooms.contains("c_custkey")))
    // SHOW lists it; SHOW ('key') returns that one row; a missing key
    // refuses loudly (a typo must never read as 'no property')
    val shown = ext.sql(s"SHOW TBLPROPERTIES $t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown(SnapshotCatalog.BloomColumnsProp) == "c_custkey")
    val one = ext.sql(s"SHOW TBLPROPERTIES $t ('graft.bloom.columns')").head()
    assert(one.getString(1) == "c_custkey")
    val e1 = intercept[Exception] {
      ext.sql(s"SHOW TBLPROPERTIES $t ('nope')").collect()
    }
    assert(e1.getMessage.contains("no property"))
    // arbitrary user properties refuse: snapshot props are engine metadata
    val e2 = intercept[Exception] {
      ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('team' = 'data-eng')")
    }
    assert(e2.getMessage.contains("engine-owned"))
    // so do the engine-internal materialized-view props
    val e2v = intercept[Exception] {
      ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.view.src' = 'x')")
    }
    assert(e2v.getMessage.contains("engine-owned"))
    // UNSET is kind-scoped: dropping the bloom prop keeps the same
    // column's sketches (and their prop) intact
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.sketch.columns' = 'c_custkey')")
    ext.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('graft.bloom.columns')")
    val after = cat.currentSnapshot(t).get
    assert(!after.props.contains(SnapshotCatalog.BloomColumnsProp))
    assert(after.props.get(SnapshotCatalog.SketchColumnsProp).contains("c_custkey"))
    assert(after.files.filter(_.rowCount > 0).forall(f =>
      !f.blooms.contains("c_custkey") && f.sketches.contains("c_custkey")))
    // UNSET of an unset prop refuses without IF EXISTS, is quiet with it
    val e3 = intercept[Exception] {
      ext.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('graft.bloom.columns')")
    }
    assert(e3.getMessage.contains("no property"))
    val head = cat.currentSnapshot(t).get.snapshotId
    ext.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES IF EXISTS ('graft.bloom.columns')")
    assert(cat.currentSnapshot(t).get.snapshotId == head,
      "a quiet no-op UNSET must not burn a snapshot id")
  }

  test("ALTER TABLE RENAME TO: metadata-only move; history, branches, tags and clones survive") {
    val t = freshTable("ren_src", 1 to 6)
    ext.sql(s"INSERT INTO $t VALUES (400, 'Late#400', 4.0)")
    val rowsBefore = ext.sql(s"SELECT * FROM $t").collect().toSet
    cat.tag(t, "epoch1", 1L)
    ext.sql(s"CALL graft.branch('$t', 'dev')")
    ext.sql(s"CALL graft.clone('$t', 'ren_clone')")
    val dataFilesBefore = cat.currentSnapshot(t).get.files.map(_.path).toSet
    ext.sql(s"ALTER TABLE $t RENAME TO ren_dst")
    // old name gone, new name serves the same rows from the SAME files
    assert(!cat.tables().contains(t) && cat.tables().contains("ren_dst"))
    assert(ext.sql("SELECT * FROM ren_dst").collect().toSet == rowsBefore)
    assert(cat.currentSnapshot("ren_dst").get.files.map(_.path).toSet ==
      dataFilesBefore, "rename must not touch data files")
    val e0 = intercept[Exception] { ext.sql(s"SELECT * FROM graft.$t").collect() }
    assert(e0.getMessage.nonEmpty)
    // history + tags travel with the metadata
    assert(ext.sql("SELECT count(*) AS n FROM ren_dst VERSION AS OF 1")
      .head().getLong(0) == 6L)
    assert(ext.sql("SELECT count(*) AS n FROM ren_dst VERSION AS OF 'epoch1'")
      .head().getLong(0) == 6L)
    // branches follow the new name
    assert(cat.branches("ren_dst") == Seq("dev"))
    assert(ext.sql("SELECT count(*) AS n FROM `ren_dst/branches/dev`")
      .head().getLong(0) == 7L)
    // the zero-copy clone keeps reading its path-addressed files
    assert(ext.sql("SELECT count(*) AS n FROM ren_clone").head().getLong(0) == 7L)
    // writes continue under the new name
    ext.sql("INSERT INTO ren_dst VALUES (401, 'After#401', 1.0)")
    assert(ext.sql("SELECT count(*) AS n FROM ren_dst").head().getLong(0) == 8L)
  }

  test("ALTER TABLE RENAME TO: refusals — dependent views, collisions, views, branch refs") {
    val t = freshTable("ren_guard", 1 to 3)
    ext.sql(s"CREATE VIEW graft.ren_v AS SELECT c_custkey FROM $t")
    val e1 = intercept[Exception] { ext.sql(s"ALTER TABLE $t RENAME TO ren_other") }
    assert(e1.getMessage.contains("ren_v"))
    ext.sql("DROP VIEW graft.ren_v")
    // collision with an existing table / view
    val t2 = freshTable("ren_taken", 1 to 2)
    val e2 = intercept[Exception] { ext.sql(s"ALTER TABLE $t RENAME TO $t2") }
    assert(e2.getMessage.contains("already exists"))
    ext.sql("CREATE VIEW graft.ren_vtaken AS SELECT 1 AS x")
    val e3 = intercept[Exception] { ext.sql(s"ALTER TABLE $t RENAME TO ren_vtaken") }
    assert(e3.getMessage.contains("cannot shadow"))
    // renaming a VIEW is refused (drop+recreate keeps history explicit)
    val e4 = intercept[Exception] { ext.sql("ALTER TABLE ren_vtaken RENAME TO z") }
    assert(e4.getMessage.contains("not supported"))
    ext.sql("DROP VIEW graft.ren_vtaken")
    // a missing graft-qualified source refuses loudly
    val e5 = intercept[Exception] { ext.sql("ALTER TABLE graft.ren_missing RENAME TO z") }
    assert(e5.getMessage.contains("no table"))
    // the old name is reusable after rename (payload leftovers are fine)
    ext.sql(s"ALTER TABLE $t RENAME TO ren_moved")
    val t3 = freshTable("ren_guard", 10 to 12)
    assert(ext.sql(s"SELECT count(*) AS n FROM $t3").head().getLong(0) == 3L)
    assert(ext.sql("SELECT count(*) AS n FROM ren_moved").head().getLong(0) == 3L)
  }

  test("SHOW PARTITIONS: unknown spec keys refuse; encoded values match") {
    // a typo'd spec key must be a loud error (Spark's AnalysisException
    // contract), never a silent 'no partitions'
    val ex = intercept[Exception] {
      ext.sql("SHOW PARTITIONS showpart PARTITION (`no_such_col` = 'x')").collect()
    }
    assert(ex.getMessage.contains("no_such_col") &&
      ex.getMessage.contains("not a partition column"))
    // …and on an unpartitioned table the refusal says so
    val t = freshTable("showpart1", 1 to 3)
    val ex2 = intercept[Exception] {
      ext.sql(s"SHOW PARTITIONS $t PARTITION (`c_custkey` = '1')").collect()
    }
    assert(ex2.getMessage.contains("not partitioned"))
    // a value copied back from displayed (URL-encoded) output matches the
    // same tuple its logical (decoded) spelling does — exercised on a
    // value whose two spellings actually differ
    import spark.implicits._
    val df = Seq((1L, "North America"), (2L, "Europe")).toDF("id", "zone")
    Writers.writePartitionedSnapshot(cat, "showpart_enc", df,
      s"$dataDir/showpart_enc", Seq("zone"))
    val logical = ext.sql(
      "SHOW PARTITIONS showpart_enc PARTITION (`zone` = 'North America')")
      .collect().map(_.getString(0))
    assert(logical.length == 1 && logical.head.contains("North"))
    val displayed = logical.head.stripPrefix("zone=") // the encoded rendering
    assert(displayed != "North America") // the spellings differ here
    val roundTrip = ext.sql(
      s"SHOW PARTITIONS showpart_enc PARTITION (`zone` = '$displayed')")
      .collect().map(_.getString(0))
    assert(roundTrip.toSeq == logical.toSeq)
  }

  test("SET TBLPROPERTIES has replace semantics: the value afterwards IS the value set") {
    val t = freshTable("props_repl", 1 to 6)
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.bloom.columns' = 'c_custkey')")
    // replacing with a different column drops the old one's maintenance
    // and its per-file entries, and indexes the new one
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.bloom.columns' = 'c_name')")
    val snap = cat.currentSnapshot(t).get
    assert(snap.props.get(SnapshotCatalog.BloomColumnsProp).contains("c_name"))
    assert(snap.files.filter(_.rowCount > 0).forall(f =>
      f.blooms.contains("c_name") && !f.blooms.contains("c_custkey")))
    // SHOW returns exactly what was SET
    assert(ext.sql(s"SHOW TBLPROPERTIES $t ('graft.bloom.columns')")
      .head().getString(1) == "c_name")
    // an identical SET is a no-op: no snapshot id burned
    val head = cat.currentSnapshot(t).get.snapshotId
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.bloom.columns' = 'c_name')")
    assert(cat.currentSnapshot(t).get.snapshotId == head,
      "SET to the current value must not burn a snapshot id")
    // SET '' clears the kind — the same end state as UNSET
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.bloom.columns' = '')")
    val cleared = cat.currentSnapshot(t).get
    assert(!cleared.props.contains(SnapshotCatalog.BloomColumnsProp))
    assert(cleared.files.forall(f => !f.blooms.contains("c_name")))
  }

  test("a table comment survives index maintenance and column DDL commits") {
    val t = freshTable("cmt_sticky", 1 to 4)
    ext.sql(s"COMMENT ON TABLE $t IS 'keep me'")
    def comment(): Option[String] =
      cat.currentSnapshot(t).get.props.get(SnapshotCatalog.CommentProp)
    ext.sql(s"CALL graft.index('$t', 'c_custkey')")
    assert(comment().contains("keep me"), "index build dropped the comment")
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.sketch.columns' = 'c_acctbal')")
    assert(comment().contains("keep me"), "SET TBLPROPERTIES dropped the comment")
    ext.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('graft.bloom.columns')")
    assert(comment().contains("keep me"), "UNSET TBLPROPERTIES dropped the comment")
    ext.sql(s"ALTER TABLE $t RENAME COLUMN c_acctbal TO balance")
    assert(comment().contains("keep me"), "RENAME COLUMN dropped the comment")
    ext.sql(s"ALTER TABLE $t DROP COLUMN balance")
    assert(comment().contains("keep me"), "DROP COLUMN dropped the comment")
  }

  test("RENAME on another namespace falls through to Spark even when a graft view shares the name") {
    ext.sql("CREATE VIEW graft.ren_shared AS SELECT 1 AS x")
    val e = intercept[Exception] {
      ext.sql("ALTER TABLE otherdb.ren_shared RENAME TO otherdb.elsewhere")
    }
    assert(!e.getMessage.contains("graft views"),
      s"other-namespace rename was hijacked by the graft view guard: ${e.getMessage}")
    ext.sql("DROP VIEW graft.ren_shared")
  }

  test("RENAME TO is crash-atomic: marker debris reads as absent and a re-run heals it") {
    import java.nio.file.{Files => JF, Path, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    def copyMeta(src: Path, dst: Path): Unit = {
      val keep = Set("data", "blooms", "sketches")
      JF.createDirectories(dst)
      val s = JF.list(src)
      val entries = try s.iterator().asScala.toList finally s.close()
      entries.foreach { p =>
        val n = p.getFileName.toString
        if (JF.isDirectory(p)) { if (!keep.contains(n)) copyMeta(p, dst.resolve(n)) }
        else { JF.copy(p, dst.resolve(n), StandardCopyOption.REPLACE_EXISTING); () }
      }
    }
    // pre-commit crash: the destination holds never-committed pending debris
    val t = freshTable("ren_cr1", 1 to 4)
    val rows = ext.sql(s"SELECT * FROM $t").collect().toSet
    val srcDir = Paths.get(root, t)
    val dstDir = Paths.get(root, "ren_cr1_dst")
    JF.createDirectories(dstDir)
    JF.write(dstDir.resolve(".rename-pending"), t.getBytes("UTF-8"))
    copyMeta(srcDir, dstDir) // partial or full: the marker gates visibility
    assert(!cat.tables().contains("ren_cr1_dst") &&
      cat.currentSnapshot("ren_cr1_dst").isEmpty,
      "pending debris must read as absent")
    assert(ext.sql(s"SELECT * FROM $t").collect().toSet == rows,
      "the source must stay fully readable pre-commit")
    // re-running the rename heals the debris and completes
    ext.sql(s"ALTER TABLE $t RENAME TO ren_cr1_dst")
    assert(!cat.tables().contains(t) && cat.tables().contains("ren_cr1_dst"))
    assert(ext.sql("SELECT * FROM ren_cr1_dst").collect().toSet == rows)
    assert(!JF.exists(dstDir.resolve(".rename-pending")))
    // post-commit crash: the source is tombstoned, its deletion unfinished
    val t2 = freshTable("ren_cr2", 5 to 9)
    val rows2 = ext.sql(s"SELECT * FROM $t2").collect().toSet
    val src2 = Paths.get(root, t2)
    copyMeta(src2, Paths.get(root, "ren_cr2_dst"))
    JF.write(src2.resolve(".renamed-to"), "ren_cr2_dst".getBytes("UTF-8"))
    assert(!cat.tables().contains(t2) && cat.currentSnapshot(t2).isEmpty,
      "a tombstoned source must read as absent, never as split history")
    assert(ext.sql("SELECT * FROM ren_cr2_dst").collect().toSet == rows2,
      "the destination is complete and readable post-commit")
    // re-running the SAME rename finishes the deletion phase
    cat.renameTable(t2, "ren_cr2_dst")
    assert(!JF.exists(src2.resolve(".renamed-to")))
    assert(!JF.exists(src2.resolve("current")))
    assert(ext.sql("SELECT * FROM ren_cr2_dst").collect().toSet == rows2)
  }

  test("retention policy props: owned TBLPROPERTIES, validated at SET, sticky across commits") {
    val t = freshTable("retp", 1 to 3)
    // malformed values refuse HERE, not at the scheduled sweep
    val e1 = intercept[Exception] {
      ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.retention.snapshots' = 'soon')")
    }
    assert(e1.getMessage.contains("integer"))
    intercept[Exception] {
      ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.retention.snapshots' = '0')")
    }
    intercept[Exception] {
      ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.retention.ms' = '-5')")
    }
    assert(!cat.hasRetentionPolicy(t), "a refused SET must not land")
    // a whitespace-padded value stores TRIMMED — what validates at SET
    // is byte-for-byte what the scheduled sweep parses
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
      "('graft.retention.snapshots' = ' 10 ', 'graft.retention.ms' = '604800000')")
    assert(ext.sql(s"SHOW TBLPROPERTIES $t ('graft.retention.snapshots')")
      .head().getString(1) == "10")
    assert(ext.sql(s"SHOW TBLPROPERTIES $t ('graft.retention.ms')")
      .head().getString(1) == "604800000")
    // identical SET burns no snapshot id
    val id = cat.currentSnapshot(t).get.snapshotId
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.retention.snapshots' = '10')")
    assert(cat.currentSnapshot(t).get.snapshotId == id,
      "SET to the current value must not burn a snapshot id")
    // sticky: the policy survives appends, index maintenance and column
    // DDL (the same carry the table comment rides — one list, one bug class)
    def policy(): Option[String] =
      cat.currentSnapshot(t).get.props.get(SnapshotCatalog.RetentionSnapshotsProp)
    ext.sql(s"INSERT INTO $t VALUES (900, 'R', 1.0)")
    assert(policy().contains("10"), "append dropped the retention policy")
    ext.sql(s"CALL graft.index('$t', 'c_custkey')")
    assert(policy().contains("10"), "index build dropped the retention policy")
    ext.sql(s"ALTER TABLE $t RENAME COLUMN c_acctbal TO balance")
    assert(policy().contains("10"), "RENAME COLUMN dropped the retention policy")
    // the table comment is reachable through TBLPROPERTIES too (one prop,
    // two spellings — COMMENT ON and SET must land in the same place)
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.comment' = 'via props')")
    assert(cat.currentSnapshot(t).get.props.get(SnapshotCatalog.CommentProp)
      .contains("via props"))
    // UNSET clears; a second UNSET refuses without IF EXISTS
    ext.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('graft.retention.ms')")
    assert(!cat.currentSnapshot(t).get.props.contains(SnapshotCatalog.RetentionAgeMsProp))
    val e2 = intercept[Exception] {
      ext.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('graft.retention.ms')")
    }
    assert(e2.getMessage.contains("IF EXISTS"))
    val idBefore = cat.currentSnapshot(t).get.snapshotId
    ext.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES IF EXISTS ('graft.retention.ms')")
    assert(cat.currentSnapshot(t).get.snapshotId == idBefore,
      "no-op UNSET IF EXISTS must not burn a snapshot id")
    // SET '' clears a value prop (the column-comment convention)
    ext.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('graft.comment' = '')")
    assert(!cat.currentSnapshot(t).get.props.contains(SnapshotCatalog.CommentProp))
  }

  test("CREATE-time TBLPROPERTIES: born with policy + indexing; SHOW CREATE round-trips") {
    // unknown props refuse at CREATE, like SET
    val eBad = intercept[Exception] {
      ext.sql("CREATE TABLE graft.ctp_bad (k BIGINT) TBLPROPERTIES ('team' = 'x')")
    }
    assert(eBad.getMessage.contains("engine-owned"))
    // a bad retention value refuses at CREATE — and leaves NO table
    val eVal = intercept[Exception] {
      ext.sql("CREATE TABLE graft.ctp_bad (k BIGINT) " +
        "TBLPROPERTIES ('graft.retention.snapshots' = '0')")
    }
    assert(eVal.getMessage.contains(">= 1"))
    assert(!cat.tables().contains("ctp_bad"), "a refused CREATE must not half-land")
    // an EMPTY value refuses at birth (nothing to clear; a templating
    // variable that rendered empty must not silently drop the policy)
    val eEmpty = intercept[Exception] {
      ext.sql("CREATE TABLE graft.ctp_bad (k BIGINT) " +
        "TBLPROPERTIES ('graft.retention.snapshots' = '')")
    }
    assert(eEmpty.getMessage.contains("nothing to clear"))
    // born with retention policy, row TTL and a bloom index
    ext.sql("CREATE TABLE graft.ctp (k BIGINT, ts_ms BIGINT, v STRING) " +
      "COMMENT 'born documented' TBLPROPERTIES (" +
      "'graft.retention.snapshots' = '5', " +
      "'graft.retention.rows.column' = 'ts_ms', 'graft.retention.rows.ms' = '86400000', " +
      "'graft.bloom.columns' = 'k')")
    val props = cat.currentSnapshot("ctp").get.props
    assert(props.get(SnapshotCatalog.RetentionSnapshotsProp).contains("5"))
    assert(props.get(SnapshotCatalog.RetentionRowsColumnProp).contains("ts_ms"))
    assert(props.get(SnapshotCatalog.BloomColumnsProp).contains("k"))
    assert(cat.hasRetentionPolicy("ctp"))
    // the index prop is sticky from birth: the first INSERT's file is indexed
    ext.sql("INSERT INTO ctp VALUES (1, 1000, 'a')")
    assert(cat.currentSnapshot("ctp").get.files.filter(_.rowCount > 0)
      .forall(_.blooms.contains("k")), "born index must cover the first insert")
    // SHOW CREATE TABLE emits the props; the emitted DDL executes back
    val ddl = ext.sql("SHOW CREATE TABLE ctp").head().getString(0)
    assert(ddl.contains("TBLPROPERTIES") && ddl.contains("graft.retention.snapshots"))
    ext.sql(ddl.replace("graft.ctp", "graft.ctp_rt"))
    val rt = cat.currentSnapshot("ctp_rt").get.props
    assert(rt.get(SnapshotCatalog.RetentionSnapshotsProp).contains("5") &&
      rt.get(SnapshotCatalog.BloomColumnsProp).contains("k") &&
      rt.get(SnapshotCatalog.CommentProp).contains("born documented"),
      s"the emitted DDL must round-trip the props: $rt")
    // CTAS takes TBLPROPERTIES too, indexing its own first write
    ext.sql("CREATE TABLE graft.ctp_as TBLPROPERTIES ('graft.bloom.columns' = 'k') " +
      "AS SELECT k, v FROM ctp")
    val asSnap = cat.currentSnapshot("ctp_as").get
    assert(asSnap.props.get(SnapshotCatalog.BloomColumnsProp).contains("k"))
    assert(asSnap.files.filter(_.rowCount > 0).forall(_.blooms.contains("k")))
    // an index prop naming an unknown column refuses
    val eCol = intercept[Exception] {
      ext.sql("CREATE TABLE graft.ctp_bad2 (k BIGINT) " +
        "TBLPROPERTIES ('graft.bloom.columns' = 'nope')")
    }
    assert(eCol.getMessage.contains("unknown column"))
  }
}
