package graft.sql

import graft.SparkSpec
import graft.meta.SnapshotCatalog
import graft.sinks.Writers
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.functions._

/** SQL views over catalog tables (SURVEY §2 S62, the Iceberg view-spec
  * model): a view is STORED SQL with a version history — reads expand
  * the current definition at resolution time, `CREATE OR REPLACE` /
  * `ALTER VIEW AS` append versions, the reference graph must stay
  * acyclic, and names are arbitrated against tables (one name, one
  * meaning). */
class GraftViewSpec extends SparkSpec {

  private lazy val root = tempDir("graft-view-").toString
  private lazy val dataDir = tempDir("graft-view-data-").toString
  private lazy val cat = new SnapshotCatalog(root)

  private lazy val ext = {
    val s = GraftColumnShim.sessionWithExtensions(
      spark, e => new graft.GraftExtensions().apply(e))
    s.conf.set(GraftSqlResolution.RootConf, root)
    s
  }

  private def seedOrders(): Unit =
    if (!cat.tables().contains("vorders")) {
      Writers.writeSnapshot(cat, "vorders",
        graft.Tables.orders(spark, sfDir)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
        dataDir)
      ()
    }

  test("CREATE VIEW stores SQL; reads expand the definition; view-on-view stacks") {
    seedOrders()
    ext.sql("CREATE VIEW graft.pri_sum AS " +
      "SELECT o_orderpriority, count(*) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS s " +
      "FROM vorders GROUP BY o_orderpriority")
    val direct = ext.sql(
      "SELECT o_orderpriority, count(*) AS n FROM vorders GROUP BY o_orderpriority")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaView = ext.sql("SELECT o_orderpriority, n FROM pri_sum")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaView == direct && viaView.nonEmpty)
    // a view over the view (graft.-qualified AND bare both resolve)
    ext.sql("CREATE VIEW graft.pri_top AS " +
      "SELECT * FROM graft.pri_sum WHERE n >= 1")
    assert(ext.sql("SELECT count(*) AS c FROM pri_top").head().getLong(0) ==
      direct.size)
    assert(cat.views().contains("pri_sum") && cat.views().contains("pri_top"))
  }

  test("CREATE OR REPLACE / ALTER VIEW AS append versions; history kept; reads follow current") {
    seedOrders()
    ext.sql("CREATE VIEW graft.vv AS SELECT count(*) AS n FROM vorders")
    val n1 = ext.sql("SELECT n FROM vv").head().getLong(0)
    assert(n1 > 0)
    ext.sql("CREATE OR REPLACE VIEW graft.vv AS " +
      "SELECT count(*) AS n FROM vorders WHERE o_orderkey % 2 = 0")
    val n2 = ext.sql("SELECT n FROM vv").head().getLong(0)
    assert(n2 < n1)
    ext.sql("ALTER VIEW vv AS SELECT count(*) AS n FROM vorders WHERE 1 = 0")
    assert(ext.sql("SELECT n FROM vv").head().getLong(0) == 0)
    val meta = cat.viewMeta("vv").get
    assert(meta.versions.size == 3 && meta.currentVersionId == 3L)
    assert(meta.versions.map(_.versionId) == Seq(1L, 2L, 3L))
    // ALTER VIEW on a missing view refuses (CREATE is the birth verb)
    val ex = intercept[Exception] {
      ext.sql("ALTER VIEW graft.missing_v AS SELECT 1 AS x")
    }
    assert(ex.getMessage.contains("no view"))
  }

  test("DROP VIEW removes the store; IF EXISTS is quiet; IF NOT EXISTS no-ops") {
    seedOrders()
    ext.sql("CREATE VIEW graft.dropme AS SELECT count(*) AS n FROM vorders")
    assert(cat.views().contains("dropme"))
    ext.sql("DROP VIEW dropme")
    assert(!cat.views().contains("dropme"))
    ext.sql("DROP VIEW IF EXISTS graft.dropme")
    val ex = intercept[Exception] { ext.sql("DROP VIEW graft.dropme") }
    assert(ex.getMessage.contains("no view"))
    // IF NOT EXISTS keeps the FIRST definition
    ext.sql("CREATE VIEW graft.keep1 AS SELECT 1 AS one")
    ext.sql("CREATE VIEW IF NOT EXISTS graft.keep1 AS SELECT 2 AS one")
    assert(ext.sql("SELECT one FROM keep1").head().getInt(0) == 1)
    val ex2 = intercept[Exception] {
      ext.sql("CREATE VIEW graft.keep1 AS SELECT 3 AS one")
    }
    assert(ex2.getMessage.contains("already exists"))
  }

  test("view names can never address a path outside the view store") {
    seedOrders()
    // a backquoted identifier carrying '/' or '..' must refuse at every
    // surface — DROP VIEW graft.`../t/snap-…` would otherwise delete
    // another table's manifest json (and ../../ escapes the catalog root)
    val evil = "../vorders/snap-00000000000000000001"
    val ex1 = intercept[Exception] { ext.sql(s"DROP VIEW graft.`$evil`") }
    assert(ex1.getMessage.contains("invalid view name") ||
      ex1.getMessage.contains("no view"))
    val ex2 = intercept[Exception] { cat.dropView(evil) }
    assert(ex2.getMessage.contains("invalid view name"))
    val ex3 = intercept[Exception] { cat.dropView(evil, ifExists = true) }
    assert(ex3.getMessage.contains("invalid view name"))
    // reads degrade to "not a view" instead of resolving a path
    assert(cat.viewMeta(evil).isEmpty && cat.viewSql(evil).isEmpty)
    val ex4 = intercept[Exception] { cat.createView(evil, "SELECT 1 AS one") }
    assert(ex4.getMessage.contains("invalid view name"))
    // the table's manifests are untouched by all of the above
    assert(cat.currentSnapshot("vorders").isDefined)
  }

  test("name arbitration and acyclicity: no shadowing either way, no view cycles") {
    seedOrders()
    // a view cannot take a table's name
    val ex1 = intercept[Exception] {
      ext.sql("CREATE VIEW graft.vorders AS SELECT 1 AS x")
    }
    assert(ex1.getMessage.contains("cannot shadow"))
    // a table cannot take a view's name (CTAS and CREATE TABLE)
    ext.sql("CREATE VIEW graft.takenname AS SELECT 1 AS x")
    val ex2 = intercept[Exception] {
      ext.sql("CREATE TABLE graft.takenname (id BIGINT)")
    }
    assert(ex2.getMessage.contains("cannot shadow"))
    val ex3 = intercept[Exception] {
      ext.sql("CREATE TABLE graft.takenname AS SELECT 1 AS y")
    }
    assert(ex3.getMessage.contains("cannot shadow"))
    // direct self-reference and two-step cycles refuse at DDL time
    val ex4 = intercept[Exception] {
      ext.sql("CREATE VIEW graft.selfy AS SELECT * FROM selfy")
    }
    assert(ex4.getMessage.contains("acyclic"))
    ext.sql("CREATE VIEW graft.cyc_a AS SELECT 1 AS x")
    ext.sql("CREATE VIEW graft.cyc_b AS SELECT * FROM cyc_a")
    val ex5 = intercept[Exception] {
      ext.sql("CREATE OR REPLACE VIEW graft.cyc_a AS SELECT * FROM cyc_b")
    }
    assert(ex5.getMessage.contains("acyclic"))
    // and the subquery-shaped edge is seen too (EXISTS body)
    val ex6 = intercept[Exception] {
      ext.sql("CREATE OR REPLACE VIEW graft.cyc_a AS " +
        "SELECT x FROM (SELECT 1 AS x) t WHERE EXISTS (SELECT 1 FROM cyc_b)")
    }
    assert(ex6.getMessage.contains("acyclic"))
  }

  test("dependent views block base DDL: drop table / rename / drop column refuse, view named") {
    Writers.writeSnapshot(cat, "depbase",
      graft.Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_totalprice")).limit(10), dataDir)
    ext.sql("CREATE VIEW graft.dep_v AS SELECT o_orderkey FROM depbase")
    // DROP TABLE refuses and names the dependent view (Postgres
    // discipline, not Hive's dangle-and-fail-later)
    val ex1 = intercept[Exception] { ext.sql("DROP TABLE graft.depbase") }
    assert(ex1.getMessage.contains("dep_v"))
    // column-level: the view touches o_orderkey, so rename/drop refuse...
    val ex2 = intercept[Exception] { cat.renameColumn("depbase", "o_orderkey", "k") }
    assert(ex2.getMessage.contains("dep_v"))
    val ex3 = intercept[Exception] { cat.dropColumn("depbase", "o_orderkey") }
    assert(ex3.getMessage.contains("dep_v"))
    // ...but a column the view body never mentions evolves freely
    cat.renameColumn("depbase", "o_totalprice", "price")
    cat.dropColumn("depbase", "price")
    // a SELECT * view depends on EVERY column
    ext.sql("CREATE VIEW graft.dep_star AS SELECT * FROM depbase")
    val ex4 = intercept[Exception] { cat.addColumn("depbase", "x",
      org.apache.spark.sql.types.LongType); cat.dropColumn("depbase", "x") }
    assert(ex4.getMessage.contains("dep_star"))
    // a view referenced by another view refuses to drop too
    ext.sql("CREATE VIEW graft.dep_v2 AS SELECT * FROM dep_v")
    val ex5 = intercept[Exception] { ext.sql("DROP VIEW graft.dep_v") }
    assert(ex5.getMessage.contains("dep_v2"))
    // drop in dependency order: leaf first, then base view, then table
    ext.sql("DROP VIEW graft.dep_v2")
    ext.sql("DROP VIEW graft.dep_v")
    ext.sql("DROP VIEW graft.dep_star")
    ext.sql("DROP TABLE graft.depbase")
    assert(!cat.tables().contains("depbase"))
  }

  test("dependency arbitration never sees a stale body across catalog instances on one root") {
    seedOrders()
    Writers.writeSnapshot(cat, "xi_base",
      graft.Tables.orders(spark, sfDir).select(col("o_orderkey")).limit(5), dataDir)
    // instance A parses and memoizes the view body during arbitration
    cat.createView("xi_v", "SELECT o_orderkey FROM xi_base")
    assert(cat.dependentViews("xi_base") == Seq("xi_v"))
    // instance B — same root, the disk format is the coordination point —
    // drops and recreates the view with DIFFERENT text; version ids
    // restart at 1, which a version-keyed memo on A would alias
    val catB = new SnapshotCatalog(root)
    catB.dropView("xi_v")
    catB.createView("xi_v", "SELECT o_orderkey FROM vorders")
    assert(cat.dependentViews("xi_base").isEmpty,
      "instance A consulted a stale pre-recreate body")
    // and the reverse flip: the recreate ADDS a dependency A must see
    catB.dropView("xi_v")
    catB.createView("xi_v", "SELECT o_orderkey + 1 AS k FROM xi_base")
    assert(cat.dependentViews("xi_base") == Seq("xi_v"),
      "instance A missed a dependency introduced by the recreate")
    cat.dropView("xi_v")
    ext.sql("DROP TABLE graft.xi_base")
  }

  test("REPLACE under dependents: shape change refuses and names them; same-shape replace allowed") {
    seedOrders()
    ext.sql("CREATE VIEW graft.rep_base AS " +
      "SELECT o_orderkey AS k, o_totalprice AS p FROM vorders")
    ext.sql("CREATE VIEW graft.rep_top AS SELECT k FROM rep_base WHERE k > 0")
    // dropping a column the dependent may expand (rep_base.* is
    // positional) breaks rep_top at next read — refuse, Postgres-style
    val ex = intercept[Exception] {
      ext.sql("CREATE OR REPLACE VIEW graft.rep_base AS " +
        "SELECT o_orderkey AS k FROM vorders")
    }
    assert(ex.getMessage.contains("rep_top") &&
      ex.getMessage.contains("output columns"))
    // ALTER VIEW AS follows the same discipline
    val ex2 = intercept[Exception] {
      ext.sql("ALTER VIEW rep_base AS SELECT o_orderkey AS k, 'x' AS p FROM vorders")
    }
    assert(ex2.getMessage.contains("rep_top")) // p changed type: refuse too
    // a SAME-shape redefinition (the versioned-definition use case —
    // tighten a predicate) stays allowed and versions normally
    ext.sql("CREATE OR REPLACE VIEW graft.rep_base AS " +
      "SELECT o_orderkey AS k, o_totalprice AS p FROM vorders WHERE o_orderkey > 0")
    assert(cat.viewMeta("rep_base").get.currentVersionId == 2L)
    assert(ext.sql("SELECT count(*) AS c FROM rep_top").head().getLong(0) > 0)
    ext.sql("DROP VIEW graft.rep_top"); ext.sql("DROP VIEW graft.rep_base")
  }

  test("the Scala API cannot shadow a view either: first commit under a view name refuses") {
    ext.sql("CREATE VIEW graft.apitaken AS SELECT 1 AS x")
    val ex = intercept[IllegalArgumentException] {
      import spark.implicits._
      Writers.writeSnapshot(cat, "apitaken", Seq(1L).toDF("id"), dataDir)
    }
    assert(ex.getMessage.contains("cannot shadow"))
    assert(!cat.tables().contains("apitaken"))
    // the view still resolves
    assert(ext.sql("SELECT x FROM apitaken").head().getInt(0) == 1)
  }

  test("VERSION AS OF on a view resolves the historical definition over current data") {
    seedOrders()
    ext.sql("CREATE VIEW graft.vta AS SELECT count(*) AS n FROM vorders")
    Thread.sleep(10) // distinct version timestamps for TIMESTAMP AS OF
    ext.sql("CREATE OR REPLACE VIEW graft.vta AS " +
      "SELECT count(*) AS n, 2 AS v FROM vorders")
    // current = version 2 (two columns); VERSION AS OF 1 = old shape
    assert(ext.sql("SELECT * FROM vta").columns.toSeq == Seq("n", "v"))
    val old = ext.sql("SELECT * FROM vta VERSION AS OF 1")
    assert(old.columns.toSeq == Seq("n"))
    // the old DEFINITION reads CURRENT data (a view has no data of its own)
    assert(old.head().getLong(0) == ext.sql("SELECT count(*) AS n FROM vorders")
      .head().getLong(0))
    // a version that never existed refuses loudly
    val ex = intercept[Exception] { ext.sql("SELECT * FROM vta VERSION AS OF 99").collect() }
    assert(ex.getMessage.contains("no such version"))
    // TIMESTAMP AS OF picks the definition in force at that time
    val v1ts = cat.viewMeta("vta").get.versions.find(_.versionId == 1L).get.timestampMs
    val tsLit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(v1ts))
    val atV1 = ext.sql(s"SELECT * FROM vta TIMESTAMP AS OF '$tsLit'")
    assert(atV1.columns.toSeq == Seq("n"))
  }

  test("views compose with catalog reads: DML through the base table is visible; prune survives") {
    seedOrders()
    Writers.writeSnapshot(cat, "vinc",
      graft.Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .filter(col("o_orderkey") <= 100), dataDir)
    ext.sql("CREATE VIEW graft.vinc_n AS SELECT count(*) AS n FROM vinc")
    val before = ext.sql("SELECT n FROM vinc_n").head().getLong(0)
    ext.sql("INSERT INTO vinc VALUES (999999, 1.0)")
    assert(ext.sql("SELECT n FROM vinc_n").head().getLong(0) == before + 1)
    // a filter INSIDE the view body reaches the catalog's manifest
    // pruning — the same WHERE→prune path a direct read takes
    ext.sql("CREATE VIEW graft.vinc_lo AS " +
      "SELECT o_orderkey FROM vinc WHERE o_orderkey <= 10")
    val got = ext.sql("SELECT count(*) AS c FROM vinc_lo").head().getLong(0)
    val want = ext.sql("SELECT count(*) AS c FROM vinc WHERE o_orderkey <= 10")
      .head().getLong(0)
    assert(got == want)
  }
}
