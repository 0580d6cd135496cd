package graft.meta

import graft.{SparkSpec, Tables}
import graft.sinks.Writers
import org.apache.spark.sql.functions._

/** Column DEFAULT values + NOT NULL contracts (SURVEY §2 S61, the
  * Iceberg v3 default-values model): `ADD COLUMN ... DEFAULT lit` is one
  * metadata commit where every pre-existing file reads the literal
  * (initial-default, stamped per file) and future writes omitting the
  * column fill it (write-default, stamped at commit); `SET DEFAULT`
  * moves the write-default only — history never silently rewrites.
  * NOT NULL is enforced at commit time FROM THE STATS PASS the commit
  * already runs (zero extra scans): a violating write aborts before
  * publish and its files fall to orphan GC. */
class ColumnDefaultsSpec extends SparkSpec {

  private def freshCat(): (SnapshotCatalog, String) = {
    val dir = tempDir("graft-defaults-").toString
    (new SnapshotCatalog(dir), dir)
  }

  test("ADD COLUMN DEFAULT is metadata-only; old files read the literal, not null") {
    import spark.implicits._
    val (cat, dir) = freshCat()
    Writers.writeSnapshot(cat, "t",
      Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1), dir)
    val before = cat.currentSnapshot("t").get

    val snap = cat.addColumn("t", "score", org.apache.spark.sql.types.DoubleType,
      defaultSql = Some("0.5"))
    // zero file churn; every pre-ADD file stamped with the literal
    assert(snap.files.map(_.path).toSet == before.files.map(_.path).toSet)
    assert(snap.files.forall(_.defaults.get("score").contains("0.5D")))
    assert(cat.read(spark, "t").select("id", "score").as[(Long, Double)]
      .collect().sorted.toSeq == Seq((1L, 0.5), (2L, 0.5)))
    // time travel before the ADD: no column at all
    assert(!cat.read(spark, "t", snapshotId = Some(before.snapshotId))
      .columns.contains("score"))
  }

  test("writes omitting the column fill the write-default; explicit values win") {
    import spark.implicits._
    val (cat, dir) = freshCat()
    Writers.writeSnapshot(cat, "t", Seq((1L, "a")).toDF("id", "name").coalesce(1), dir)
    cat.addColumn("t", "score", org.apache.spark.sql.types.DoubleType, Some("0.5"))
    // additive append WITHOUT the column: the new file is stamped with
    // the write-default (absent bytes read 0.5, never null)
    Writers.writeSnapshot(cat, "t", Seq((2L, "b")).toDF("id", "name").coalesce(1), dir)
    // append WITH the column: values written, no stamp
    Writers.writeSnapshot(cat, "t",
      Seq((3L, "c", 9.0)).toDF("id", "name", "score").coalesce(1), dir)
    val got = cat.read(spark, "t").select("id", "score").as[(Long, Double)]
      .collect().sorted.toSeq
    assert(got == Seq((1L, 0.5), (2L, 0.5), (3L, 9.0)))
    val withCol = cat.currentSnapshot("t").get.files
    assert(withCol.count(_.defaults.contains("score")) == 2) // files 1 and 2
  }

  test("SET DEFAULT changes future writes only; DROP DEFAULT restores null fill") {
    import spark.implicits._
    val (cat, dir) = freshCat()
    Writers.writeSnapshot(cat, "t", Seq((1L, "a")).toDF("id", "name").coalesce(1), dir)
    cat.addColumn("t", "score", org.apache.spark.sql.types.DoubleType, Some("0.5"))
    cat.setColumnDefault("t", "score", Some("7.0"))
    Writers.writeSnapshot(cat, "t", Seq((2L, "b")).toDF("id", "name").coalesce(1), dir)
    cat.setColumnDefault("t", "score", None)
    Writers.writeSnapshot(cat, "t", Seq((3L, "c")).toDF("id", "name").coalesce(1), dir)
    val got = cat.read(spark, "t").select("id", "score").as[(Long, Option[Double])]
      .collect().sortBy(_._1).toSeq
    // row 1 keeps its initial-default, row 2 the write-default in force
    // at ITS commit, row 3 (post-DROP DEFAULT) reads null
    assert(got == Seq((1L, Some(0.5)), (2L, Some(7.0)), (3L, None)))
  }

  test("NOT NULL enforces at commit from stats: violating append aborts pre-publish") {
    import spark.implicits._
    val (cat, dir) = freshCat()
    Writers.writeSnapshot(cat, "t",
      Seq((1L, "a")).toDF("id", "name").coalesce(1), dir)
    cat.setColumnNullability(spark, "t", "name", nullable = false)
    val head = cat.currentSnapshot("t").get.snapshotId
    val bad = Seq((2L, null.asInstanceOf[String])).toDF("id", "name").coalesce(1)
    val ex = intercept[IllegalStateException] {
      Writers.writeSnapshot(cat, "t", bad, dir)
    }
    assert(ex.getMessage.contains("NOT NULL violation"))
    // no snapshot published; the table is untouched
    assert(cat.currentSnapshot("t").get.snapshotId == head)
    assert(cat.read(spark, "t").count() == 1)
    // a valid append still lands
    Writers.writeSnapshot(cat, "t", Seq((3L, "c")).toDF("id", "name").coalesce(1), dir)
    assert(cat.read(spark, "t").count() == 2)
    // an append OMITTING a NOT NULL column with no default also refuses
    val ex2 = intercept[IllegalStateException] {
      Writers.writeSnapshot(cat, "t", Seq(Tuple1(4L)).toDF("id").coalesce(1), dir)
    }
    assert(ex2.getMessage.contains("omit the column"))
  }

  test("SET NOT NULL proves no visible null first (MoR-masked nulls need the scan)") {
    import spark.implicits._
    val (cat, dir) = freshCat()
    Writers.writeSnapshot(cat, "t",
      Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "c"))
        .toDF("id", "name").coalesce(1), dir)
    // nulls visible: refuse
    val ex = intercept[IllegalArgumentException] {
      cat.setColumnNullability(spark, "t", "name", nullable = false)
    }
    assert(ex.getMessage.contains("null values exist"))
    // MoR-delete the null row: stats still say nullCount=1 on the file,
    // so the manifest can't prove it — the bounded visible-rows scan must
    Writers.deleteWhereMoR(spark, cat, "t", col("name").isNull, Nil, dir)
    cat.setColumnNullability(spark, "t", "name", nullable = false)
    assert(!cat.currentSnapshot("t").get.schema("name").nullable)
    // and DROP NOT NULL relaxes: the null append lands again
    cat.setColumnNullability(spark, "t", "name", nullable = true)
    Writers.writeSnapshot(cat, "t",
      Seq((4L, null.asInstanceOf[String])).toDF("id", "name").coalesce(1), dir)
    assert(cat.read(spark, "t").filter(col("name").isNull).count() == 1)
  }

  test("defaults compose with rename (stamps re-key), drop (stamps go), widen (literal casts up)") {
    import spark.implicits._
    val (cat, dir) = freshCat()
    Writers.writeSnapshot(cat, "t", Seq(Tuple1(1L)).toDF("id").coalesce(1), dir)
    cat.addColumn("t", "n", org.apache.spark.sql.types.IntegerType, Some("42"))
    cat.renameColumn("t", "n", "m")
    val f = cat.currentSnapshot("t").get.files.head
    assert(f.defaults == Map("m" -> "42") && !f.defaults.contains("n"))
    assert(cat.read(spark, "t").select("m").as[Int].head() == 42)
    // widen int -> long: the stamped literal serves under the wide type
    cat.widenColumn("t", "m", org.apache.spark.sql.types.LongType)
    assert(cat.read(spark, "t").select("m").as[Long].head() == 42L)
    // drop removes the stamp; a re-add WITHOUT default reads null
    cat.dropColumn("t", "m")
    assert(cat.currentSnapshot("t").get.files.head.defaults.isEmpty)
    cat.addColumn("t", "m", org.apache.spark.sql.types.LongType)
    assert(cat.read(spark, "t").select("m").as[Option[Long]].head().isEmpty)
  }

  test("change feed across an ADD DEFAULT renders pre-add rows under the initial-default") {
    import spark.implicits._
    val (cat, dir) = freshCat()
    Writers.writeSnapshot(cat, "t", Seq((1L, "a")).toDF("id", "name").coalesce(1), dir)
    val s1 = cat.currentSnapshot("t").get.snapshotId
    cat.addColumn("t", "score", org.apache.spark.sql.types.DoubleType, Some("0.5"))
    Writers.writeSnapshot(cat, "t",
      Seq((2L, "b", 3.0)).toDF("id", "name", "score").coalesce(1), dir)
    // incremental read from BEFORE the ADD: appended row surfaces with
    // its written value; the feed renders in the end schema
    val inc = cat.readIncremental(spark, "t", fromSnapshotId = s1)
    assert(inc.select("id", "score").as[(Long, Double)].collect().toSeq == Seq((2L, 3.0)))
    // COW-rewrite the pre-add file (update touches it): the feed's
    // delete side renders the OLD row — its score must be the
    // initial-default 0.5, not a null fill
    val sPre = cat.currentSnapshot("t").get.snapshotId
    Writers.updateWhere(spark, cat, "t", Seq("name" -> lit("a2")),
      col("id") === 1L, Nil, dir)
    val feed = cat.changesBetween(spark, "t", fromSnapshotId = sPre)
    val del = feed.filter(col("_change_type") === "delete")
      .select("id", "score").as[(Long, Double)].collect().toSeq
    assert(del == Seq((1L, 0.5)))
    val ins = feed.filter(col("_change_type") === "insert")
      .select("id", "name", "score").as[(Long, String, Double)].collect().toSeq
    assert(ins == Seq((1L, "a2", 0.5)))
  }

  test("DEFAULT NULL renders the ONE canonical sentinel; every NOT NULL guard sees it") {
    import spark.implicits._
    // Spark's Literal.sql renders typed nulls as CAST(NULL AS T) —
    // renderDefault* must normalize to "NULL" or the guards go blind
    assert(SnapshotCatalog.renderDefaultSql("NULL",
      org.apache.spark.sql.types.IntegerType, "t") == "NULL")
    assert(SnapshotCatalog.renderDefaultSql("CAST(NULL AS INT)",
      org.apache.spark.sql.types.IntegerType, "t") == "NULL")
    // a legitimate string default WHOSE TEXT contains NULL is not null
    assert(SnapshotCatalog.renderDefaultSql("'NULLISH'",
      org.apache.spark.sql.types.StringType, "t") == "'NULLISH'")

    val (cat, dir) = freshCat()
    Writers.writeSnapshot(cat, "t", Seq((1L, "a")).toDF("id", "name").coalesce(1), dir)
    // ADD COLUMN ... DEFAULT NULL NOT NULL: unsatisfiable, refused
    val ex1 = intercept[IllegalArgumentException] {
      cat.addColumn("t", "n", org.apache.spark.sql.types.IntegerType,
        defaultSql = Some("NULL"), nullable = false)
    }
    assert(ex1.getMessage.contains("unsatisfiable"))
    // SET DEFAULT NULL on a NOT NULL column: refused
    cat.setColumnNullability(spark, "t", "name", nullable = false)
    val ex2 = intercept[IllegalArgumentException] {
      cat.setColumnDefault("t", "name", Some("NULL"))
    }
    assert(ex2.getMessage.contains("NOT NULL"))
    // a null write-default never stamps as proof: column added with
    // DEFAULT NULL (nullable), rows read null — SET NOT NULL must refuse
    // even though the files carry a defaults stamp for the column
    cat.addColumn("t", "m", org.apache.spark.sql.types.IntegerType, Some("NULL"))
    val ex3 = intercept[IllegalArgumentException] {
      cat.setColumnNullability(spark, "t", "m", nullable = false)
    }
    assert(ex3.getMessage.contains("has DEFAULT NULL"))
    // and with the null default dropped, the "NULL" stamps on the files
    // are still never proof of non-null — the visible-null check refuses
    cat.setColumnDefault("t", "m", None)
    assert(cat.currentSnapshot("t").get.files.forall(
      _.defaults.get("m").contains("NULL")))
    val ex4 = intercept[IllegalArgumentException] {
      cat.setColumnNullability(spark, "t", "m", nullable = false)
    }
    assert(ex4.getMessage.contains("null values exist"))
  }

  test("commit refuses NOT NULL it cannot verify: absent null-count stat is not a pass") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false)))
    def fm(stats: Map[String, ColStats], rows: Long) = FileMeta(
      path = "/x/f.parquet", rowCount = rows, sizeBytes = 1L, stats = stats)
    // stat present, zero nulls: passes
    SnapshotCatalog.enforceNotNull("t", schema, Seq("id"), Map.empty,
      Seq(fm(Map("id" -> ColStats(minD = Some(1.0), maxD = Some(2.0),
        nullCount = Some(0L))), rows = 2)))
    // stat present, nulls: violation
    val ex1 = intercept[IllegalStateException] {
      SnapshotCatalog.enforceNotNull("t", schema, Seq("id"), Map.empty,
        Seq(fm(Map("id" -> ColStats(nullCount = Some(1L))), rows = 2)))
    }
    assert(ex1.getMessage.contains("NOT NULL violation"))
    // stat STRIPPED on a non-empty file: refusal, not a silent pass
    val ex2 = intercept[IllegalStateException] {
      SnapshotCatalog.enforceNotNull("t", schema, Seq("id"), Map.empty,
        Seq(fm(Map.empty, rows = 2)))
    }
    assert(ex2.getMessage.contains("cannot be verified"))
    // empty file: vacuously fine
    SnapshotCatalog.enforceNotNull("t", schema, Seq("id"), Map.empty,
      Seq(fm(Map.empty, rows = 0)))
  }

  test("refusals: bad literal, non-foldable default, NOT NULL on unenforceable type") {
    import spark.implicits._
    val (cat, dir) = freshCat()
    Writers.writeSnapshot(cat, "t", Seq(Tuple1(1L)).toDF("id").coalesce(1), dir)
    // a default that cannot cast to the column type
    val ex1 = intercept[IllegalArgumentException] {
      cat.addColumn("t", "n", org.apache.spark.sql.types.IntegerType, Some("'abc'"))
    }
    assert(ex1.getMessage.contains("does not cast"))
    // a default computed from a table is not a contract
    val ex2 = intercept[IllegalArgumentException] {
      cat.addColumn("t", "n", org.apache.spark.sql.types.IntegerType, Some("id + 1"))
    }
    assert(ex2.getMessage.contains("literal"))
    // NOT NULL needs a default (old rows would read null)
    val ex3 = intercept[IllegalArgumentException] {
      cat.addColumn("t", "n", org.apache.spark.sql.types.IntegerType,
        defaultSql = None, nullable = false)
    }
    assert(ex3.getMessage.contains("unsatisfiable"))
    // NOT NULL on a stats-unenforceable type refuses loudly
    val ex4 = intercept[IllegalArgumentException] {
      cat.addColumn("t", "b", org.apache.spark.sql.types.BinaryType,
        defaultSql = Some("X'00'"), nullable = false)
    }
    assert(ex4.getMessage.contains("cannot be enforced"))
    assert(cat.currentSnapshot("t").get.schema.fieldNames.toSeq == Seq("id"))
  }
}
