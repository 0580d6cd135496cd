package graft.sql

import java.nio.file.Files

import graft.SparkSpec
import graft.sinks.Writers
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.functions._

/** SQL time travel + catalog resolution through GraftExtensions
  * (SURVEY §2 S50): `VERSION AS OF <id|tag|branch>`, `TIMESTAMP AS OF`,
  * and plain-name resolution against the snapshot catalog, end-to-end
  * through `spark.sql` on a session with the extensions installed. */
class GraftSqlResolutionSpec extends SparkSpec {

  private lazy val root = tempDir("graft-sqlres-").toString
  private lazy val dataDir = tempDir("graft-sqlres-data-").toString

  // controllable commit clock so TIMESTAMP AS OF boundaries are exact
  private var now = 1000L * 1000
  private lazy val writeCat = new graft.meta.SnapshotCatalog(root, clock = () => now)

  /** A sibling session with GraftExtensions applied and the catalog
    * root set — the `spark.sql.extensions` + `spark.graft.catalog.root`
    * deployment, reachable mid-JVM. */
  private lazy val ext = {
    val s = GraftColumnShim.sessionWithExtensions(
      spark, e => new graft.GraftExtensions().apply(e))
    s.conf.set(GraftSqlResolution.RootConf, root)
    s
  }

  private def setup(): Unit = if (writeCat.tables().isEmpty) {
    val c = graft.Tables.customer(spark, sfDir)
    now = 1000L * 1000 // s1 at t=1000s
    Writers.writeSnapshot(writeCat, "cust", c.filter(col("c_custkey").between(1, 10)), dataDir)
    writeCat.tag("cust", "validated", 1L)
    now = 2000L * 1000 // s2 at t=2000s
    Writers.writeSnapshot(writeCat, "cust", c.filter(col("c_custkey").between(11, 25)), dataDir)
    writeCat.createBranch("cust", "dev")
    now = 3000L * 1000
    Writers.writeSnapshot(writeCat, writeCat.branchRef("cust", "dev"),
      c.filter(col("c_custkey").between(26, 30)), dataDir)
  }

  test("metadata tables resolve from pure SQL: t__snapshots and t__files") {
    setup()
    val snaps = ext.sql(
      "SELECT snapshot_id, operation, total_rows FROM cust__snapshots ORDER BY snapshot_id")
      .collect()
    assert(snaps.length == 2 && snaps.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(snaps.forall(_.getString(1) == "append"))
    assert(snaps.last.getLong(2) == 25)
    // files: joinable/aggregatable like any table
    val nFiles = ext.sql("SELECT count(*) AS n FROM cust__files").head().getLong(0)
    assert(nFiles == writeCat.currentSnapshot("cust").get.files.size)
    // partitions + delete_files frames resolve too (empty delete set)
    assert(ext.sql("SELECT count(*) AS n FROM cust__delete_files").head().getLong(0) == 0)
    assert(ext.sql("SELECT * FROM cust__partitions").collect() != null)
    // a MISSING base table's metadata name falls through to the normal
    // resolution error, never an empty frame
    intercept[Exception] { ext.sql("SELECT * FROM nope__snapshots").collect() }
    // __rendered on a real table that is NOT a materialized view
    // refuses LOUDLY at analysis (not a null-columned frame)
    val eR = intercept[Exception] { ext.sql("SELECT * FROM cust__rendered").collect() }
    assert(eR.getMessage.contains("not a materialized aggregate view"), eR.getMessage)
  }

  test("an MV reads rendered from pure SQL: <view>__rendered hides raw state") {
    setup()
    import spark.implicits._
    val mvDataDir = tempDir("graft-res-mvr-").toString
    Writers.writeSnapshot(writeCat, "mvrsrc",
      Seq((1L, Some(10.0), "a"), (1L, Some(20.0), "b"),
        (2L, Some(5.0), "a"), (2L, None, "c")).toDF("k", "v", "tag"), mvDataDir)
    graft.sinks.MaterializedAgg.build(spark, writeCat,
      graft.sinks.MaterializedAgg.MvSpec("mvrsrc", Seq("k"),
        sums = Seq("v"), avgs = Seq("v"), mins = Seq("v"), maxs = Seq("v"),
        nds = Seq("tag")),
      "mvr", mvDataDir)
    val rows = ext.sql(
      """SELECT k, n_rows, avg_v, min_v, max_v, approx_nd_tag
        |FROM mvr__rendered ORDER BY k""".stripMargin).collect()
    assert(rows.length == 2)
    assert(rows(0).getLong(0) == 1L && rows(0).getLong(1) == 2L &&
      rows(0).getDouble(2) == 15.0 && rows(0).getDouble(3) == 10.0 &&
      rows(0).getDouble(4) == 20.0 && rows(0).getLong(5) == 2L)
    // AVG divides by the NON-NULL count (SQL AVG), so k=2 averages 5.0
    assert(rows(1).getLong(0) == 2L && rows(1).getLong(1) == 2L &&
      rows(1).getDouble(2) == 5.0 && rows(1).getLong(5) == 2L)
    // no raw state column leaks into the rendered schema
    val fields = ext.sql("SELECT * FROM mvr__rendered").schema.fieldNames.toSet
    assert(!fields.exists(f => f.startsWith("cnt_") || f.startsWith("nd_")),
      s"raw state leaked: $fields")
  }

  test("plain name resolves to the catalog's current snapshot") {
    setup()
    assert(ext.sql("SELECT count(*) AS n FROM cust").head().getLong(0) == 25)
    // explicit graft.<table> form works too
    assert(ext.sql("SELECT count(*) AS n FROM graft.cust").head().getLong(0) == 25)
    // and the plan is a real pruned scan: filters push into it
    val one = ext.sql("SELECT c_name FROM cust WHERE c_custkey = 7")
    assert(one.count() == 1)
  }

  test("VERSION AS OF snapshot id, tag, and branch") {
    setup()
    assert(ext.sql("SELECT count(*) AS n FROM cust VERSION AS OF 1").head().getLong(0) == 10)
    assert(ext.sql("SELECT count(*) AS n FROM cust VERSION AS OF 2").head().getLong(0) == 25)
    assert(ext.sql("SELECT count(*) AS n FROM cust VERSION AS OF 'validated'").head().getLong(0) == 10)
    // branch head: fork state (25) + branch-only append (5)
    assert(ext.sql("SELECT count(*) AS n FROM cust VERSION AS OF 'dev'").head().getLong(0) == 30)
    val err = intercept[Exception] {
      ext.sql("SELECT count(*) FROM cust VERSION AS OF 'nope'").collect()
    }
    assert(err.getMessage.contains("no snapshot id, tag or branch"))
  }

  test("TIMESTAMP AS OF picks the snapshot current at that instant") {
    setup()
    // t=1500s: only s1 existed
    assert(ext.sql("SELECT count(*) AS n FROM cust TIMESTAMP AS OF '1970-01-01 00:25:00'")
      .head().getLong(0) == 10)
    // t=2500s: s2 is current
    assert(ext.sql("SELECT count(*) AS n FROM cust TIMESTAMP AS OF '1970-01-01 00:41:40'")
      .head().getLong(0) == 25)
  }

  test("a version or time that names no snapshot throws instead of serving the head") {
    setup()
    val noId = intercept[IllegalArgumentException] {
      ext.sql("SELECT * FROM cust VERSION AS OF 99").collect()
    }
    assert(noId.getMessage.contains("Snapshot 99 not found"), noId.getMessage)
    // t=600s: before the first commit
    val noTs = intercept[IllegalArgumentException] {
      ext.sql("SELECT * FROM cust TIMESTAMP AS OF '1970-01-01 00:10:00'").collect()
    }
    assert(noTs.getMessage.contains("No snapshot of cust at or before"), noTs.getMessage)
  }

  test("a temp view shadows the plain name but never the time travel") {
    setup()
    ext.sql("SELECT * FROM cust LIMIT 3").createOrReplaceTempView("cust")
    try {
      // plain name: the view wins (builtin resolution runs first)
      assert(ext.sql("SELECT count(*) AS n FROM cust").head().getLong(0) == 3)
      // AS OF: the catalog wins (hint-batch rule runs before ResolveRelations;
      // Spark itself would refuse time travel over a temp view)
      assert(ext.sql("SELECT count(*) AS n FROM cust VERSION AS OF 'validated'")
        .head().getLong(0) == 10)
    } finally ext.catalog.dropTempView("cust")
  }

  test("two AS OF references of the same table join without attribute clashes") {
    setup()
    val n = ext.sql(
      """SELECT count(*) AS n
        |FROM cust VERSION AS OF 1 a
        |JOIN cust VERSION AS OF 2 b ON a.c_custkey = b.c_custkey""".stripMargin)
      .head().getLong(0)
    assert(n == 10)
  }

  test("a WHERE directly above the relation prunes files from manifest stats and blooms") {
    setup()
    // one file per market segment, bloom-indexed: the SQL path must
    // open only the files that can match, like the code API's read(filters)
    val c = graft.Tables.customer(spark, sfDir)
    val segs = c.select(col("c_mktsegment")).distinct().collect().map(_.getString(0)).sorted
    if (writeCat.tables().contains("custseg")) () else {
      segs.foreach { seg =>
        Writers.writeSnapshot(writeCat, "custseg", c.filter(col("c_mktsegment") === seg)
          .coalesce(1), dataDir, bloomColumns = Seq("c_mktsegment"))
      }
      Writers.writeRangedSnapshot(writeCat, "custrange", c, dataDir, "c_custkey", nFiles = 4)
    }
    val one = ext.sql(s"SELECT c_name FROM custseg WHERE c_mktsegment = '${segs.head}'")
    assert(one.inputFiles.length == 1, s"bloom/stats prune must leave 1 file, got ${one.inputFiles.length}")
    assert(one.count() == c.filter(col("c_mktsegment") === segs.head).count())
    // IN-list over two segments → two files
    val two = ext.sql(
      s"SELECT count(*) AS n FROM custseg WHERE c_mktsegment IN ('${segs.head}', '${segs.last}')")
    assert(two.inputFiles.length == 2)
    // numeric range on a range-clustered layout → 1 of 4 files
    val low = ext.sql("SELECT count(*) AS n FROM custrange WHERE c_custkey <= 5")
    assert(low.inputFiles.length == 1, s"range prune must leave 1 of 4 files, got ${low.inputFiles.length}")
    assert(low.head().getLong(0) == c.filter(col("c_custkey") <= 5).count())
    // an aliased relation prunes too, and an untranslatable predicate is exact
    val aliased = ext.sql("SELECT count(*) AS n FROM custrange r WHERE r.c_custkey <= 5")
    assert(aliased.inputFiles.length == 1)
    assert(aliased.head().getLong(0) == low.head().getLong(0))
    val odd = ext.sql("SELECT count(*) AS n FROM custrange WHERE c_custkey % 97 = 3")
    assert(odd.head().getLong(0) == c.filter(expr("c_custkey % 97 = 3")).count())
  }

  test("a correlated OUTER reference above the inner relation never over-prunes") {
    setup()
    // low10: one catalog file holding custkeys 1..10 only
    if (!writeCat.tables().contains("low10"))
      Writers.writeSnapshot(writeCat, "low10",
        graft.Tables.customer(spark, sfDir).filter(col("c_custkey").between(1, 10))
          .coalesce(1), dataDir)
    // the EXISTS condition references ONLY the outer row (r.c_custkey =
    // 50); translating it into a prune filter on low10 (whose stats
    // exclude 50) would wrongly empty the subquery and return 0
    val n = ext.sql(
      """SELECT count(*) AS n FROM cust r
        |WHERE EXISTS (SELECT 1 FROM low10 x WHERE r.c_custkey = 14)""".stripMargin)
      .head().getLong(0)
    assert(n == 1, s"outer-qualified predicate must not prune the inner table (got $n)")
    // sanity: a genuinely inner predicate still prunes/filters exactly
    val m = ext.sql(
      """SELECT count(*) AS n FROM cust r
        |WHERE EXISTS (SELECT 1 FROM low10 x WHERE x.c_custkey = 7)""".stripMargin)
      .head().getLong(0)
    assert(m == 25, s"inner predicate keeps EXISTS true for all outer rows (got $m)")
  }

  test("an unconfigured session leaves resolution untouched") {
    setup()
    val bare = GraftColumnShim.sessionWithExtensions(
      spark, e => new graft.GraftExtensions().apply(e))
    val err = intercept[Exception] { bare.sql("SELECT count(*) FROM cust").collect() }
    assert(err.getMessage.toLowerCase.contains("cannot be found") ||
      err.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
  }

  private def hasFileScan(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.nonEmpty

  test("metadata-only COUNT answers from manifests without opening a data file (S52)") {
    setup()
    val df = ext.sql("SELECT COUNT(*) AS n, COUNT(c_name) AS n_names FROM cust")
    assert(!hasFileScan(df), "expected the plan to fold to a LocalRelation")
    val r = df.head()
    assert(r.getLong(0) == 25 && r.getLong(1) == 25)
    // unaliased star keeps the canonical name and value
    assert(ext.sql("SELECT COUNT(*) FROM cust").head().getLong(0) == 25)
    // WHERE breaks the shape: scan path, still correct
    val filtered = ext.sql("SELECT COUNT(*) AS n FROM cust WHERE c_custkey <= 10")
    assert(hasFileScan(filtered))
    assert(filtered.head().getLong(0) == 10)
    // GROUP BY parses as Aggregate, not Project: scan path
    val grouped = ext.sql("SELECT c_nationkey, COUNT(*) AS n FROM cust GROUP BY c_nationkey")
    assert(hasFileScan(grouped))
    assert(grouped.agg(sum(col("n"))).head().getLong(0) == 25)
    // DISTINCT is never a manifest fact: scan path
    assert(hasFileScan(ext.sql("SELECT COUNT(DISTINCT c_nationkey) AS d FROM cust")))
  }

  test("metadata COUNT subtracts null stats exactly and yields to the scan under MoR deletes") {
    setup()
    val c = graft.Tables.customer(spark, sfDir).filter(col("c_custkey") <= 40)
      .withColumn("maybe", when(col("c_custkey") % 3 === 0, col("c_name")))
    val expectTotal = c.count()
    val expectNonNull = c.filter(col("maybe").isNotNull).count()
    Writers.writeSnapshot(writeCat, "mc", c, dataDir)

    val df = ext.sql("SELECT COUNT(*) AS n, COUNT(maybe) AS nm FROM mc")
    assert(!hasFileScan(df))
    val r = df.head()
    assert(r.getLong(0) == expectTotal && r.getLong(1) == expectNonNull)

    // outstanding MoR masks make manifest totals over-counts: the rule
    // must yield to the (correct) scan path
    Writers.deleteWhereMoR(spark, writeCat, "mc", col("c_custkey") <= 5,
      Seq(graft.meta.RangeNum("c_custkey", Double.NegativeInfinity, 5.0)), dataDir)
    val masked = ext.sql("SELECT COUNT(*) AS n FROM mc")
    assert(hasFileScan(masked), "masked table must count through the scan")
    assert(masked.head().getLong(0) ==
      c.filter(col("c_custkey") > 5).count())
  }

  test("metadata MIN/MAX fold from manifest bounds; inexact encodings scan (S52)") {
    setup()
    val c = graft.Tables.customer(spark, sfDir).filter(col("c_custkey") <= 40)
      .withColumn("bigval", col("c_custkey") * 1000000L)
      .withColumn("hugeval", lit(1L << 60) + col("c_custkey"))
    Writers.writeSnapshot(writeCat, "mm", c, dataDir)

    // long/string/double bounds fold, mixed freely with counts
    val df = ext.sql(
      "SELECT MIN(c_custkey) AS lo, MAX(c_custkey) AS hi, MAX(c_name) AS topname, " +
        "MIN(c_acctbal) AS minbal, COUNT(*) AS n FROM mm")
    assert(!hasFileScan(df), "expected min/max to fold to a LocalRelation")
    val exp = c.agg(min(col("c_custkey")), max(col("c_custkey")), max(col("c_name")),
      min(col("c_acctbal")), count(lit(1))).head()
    val r = df.head()
    assert(r.getLong(0) == exp.getLong(0) && r.getLong(1) == exp.getLong(1))
    assert(r.getString(2) == exp.getString(2))
    assert(r.getDouble(3) == exp.getDouble(3))
    assert(r.getLong(4) == exp.getLong(4))

    // a long past 2^53 may have been rounded in the Double-encoded
    // manifest stat: must scan, and the scan is exact
    val huge = ext.sql("SELECT MAX(hugeval) AS h FROM mm")
    assert(hasFileScan(huge), "past-2^53 long bounds must not fold")
    assert(huge.head().getLong(0) == (1L << 60) + 40L)

    // DISTINCT / expression arguments are not manifest facts
    assert(hasFileScan(ext.sql("SELECT MIN(c_custkey + 1) AS m FROM mm")))

    // MoR mask could have deleted the extreme row: yield to the scan
    Writers.deleteWhereMoR(spark, writeCat, "mm", col("c_custkey") >= 40,
      Seq(graft.meta.RangeNum("c_custkey", 40.0, Double.PositiveInfinity)), dataDir)
    val masked = ext.sql("SELECT MAX(c_custkey) AS hi FROM mm")
    assert(hasFileScan(masked), "masked table must answer min/max through the scan")
    assert(masked.head().getLong(0) == 39L)
  }

  test("metadata COUNT/MIN/MAX fold stays exact across a type widening") {
    setup()
    import spark.implicits._
    val era1 = (1 to 30).map(i => (i, s"d$i")).toDF("k", "s")
    Writers.writeSnapshot(writeCat, "wfold", era1.coalesce(1), dataDir)
    writeCat.widenColumn("wfold", "k", org.apache.spark.sql.types.LongType)
    Writers.writeSnapshot(writeCat, "wfold",
      Seq((6000000000L, "big")).toDF("k", "s").coalesce(1), dataDir)
    // the fold binds the CURRENT (widened) type; int-era bounds live as
    // exact doubles, so the folded MAX is the era-2 long value
    val df = ext.sql("SELECT COUNT(*) AS n, MIN(k) AS lo, MAX(k) AS hi FROM wfold")
    assert(!hasFileScan(df), "widened table's count/min/max should still fold")
    val r = df.head()
    assert(r.getLong(0) == 31L && r.getLong(1) == 1L && r.getLong(2) == 6000000000L)
  }

  test("metadata COUNT never folds under a pending HAVING") {
    setup()
    // HAVING without GROUP BY: folding the child Project first would
    // resolve the HAVING's COUNT(*) against the one-row LocalRelation
    // (count=1) and return wrong rows — the rule must yield to the scan
    val kept = ext.sql("SELECT COUNT(*) AS n FROM cust HAVING COUNT(*) > 10")
    assert(hasFileScan(kept), "HAVING query must go through the scan path")
    assert(kept.count() == 1 && kept.head().getLong(0) == 25)
    val dropped = ext.sql("SELECT COUNT(*) AS n FROM cust HAVING COUNT(*) > 100")
    assert(dropped.count() == 0, "HAVING must actually filter the global count row")
  }

  test("metadata COUNT(col) honors spark.sql.caseSensitive") {
    setup()
    // default (insensitive): wrong-cased column still folds
    val insensitive = ext.sql("SELECT COUNT(C_NAME) AS n FROM cust")
    assert(!hasFileScan(insensitive) && insensitive.head().getLong(0) == 25)
    ext.conf.set("spark.sql.caseSensitive", "true")
    try {
      // case-sensitive: the fold must not claim the wrong-cased name;
      // normal analysis then raises column-not-found
      val err = intercept[Exception] {
        ext.sql("SELECT COUNT(C_NAME) AS n FROM cust").collect()
      }
      assert(err.getMessage.contains("C_NAME") ||
        err.getMessage.contains("UNRESOLVED_COLUMN"))
      // exact-cased still folds under case sensitivity
      val exact = ext.sql("SELECT COUNT(c_name) AS n FROM cust")
      assert(!hasFileScan(exact) && exact.head().getLong(0) == 25)
    } finally ext.conf.set("spark.sql.caseSensitive", "false")
  }

  test("metadata COUNT folds under time travel (VERSION/TIMESTAMP AS OF)") {
    setup()
    // snapshot id
    val v1 = ext.sql("SELECT COUNT(*) AS n FROM cust VERSION AS OF 1")
    assert(!hasFileScan(v1), "AS OF count should fold from that snapshot's manifests")
    assert(v1.head().getLong(0) == 10)
    // tag + branch + COUNT(col) via null stats
    val tagged = ext.sql("SELECT COUNT(*) AS n, COUNT(c_name) AS nn FROM cust VERSION AS OF 'validated'")
    assert(!hasFileScan(tagged))
    val tr = tagged.head()
    assert(tr.getLong(0) == 10 && tr.getLong(1) == 10)
    val branched = ext.sql("SELECT COUNT(*) AS n FROM cust VERSION AS OF 'dev'")
    assert(!hasFileScan(branched) && branched.head().getLong(0) == 30)
    // timestamp form
    val asOfTs = ext.sql("SELECT COUNT(*) AS n FROM cust TIMESTAMP AS OF '1970-01-01 00:25:00'")
    assert(!hasFileScan(asOfTs) && asOfTs.head().getLong(0) == 10)
    // aliased relation folds too
    val aliased = ext.sql("SELECT COUNT(*) AS n FROM cust VERSION AS OF 1 a")
    assert(!hasFileScan(aliased) && aliased.head().getLong(0) == 10)
    // WHERE breaks the fold but stays correct through the pruned scan
    val filtered = ext.sql("SELECT COUNT(*) AS n FROM cust VERSION AS OF 2 WHERE c_custkey <= 12")
    assert(hasFileScan(filtered) && filtered.head().getLong(0) == 12)
    // non-count projection resolves normally
    assert(ext.sql("SELECT c_name FROM cust VERSION AS OF 1").count() == 10)
  }
}
