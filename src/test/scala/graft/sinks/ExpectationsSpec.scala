package graft.sinks

import graft.SparkSpec
import graft.meta.SnapshotCatalog
import org.apache.spark.sql.functions._

/** Data-quality expectations (S45): one-scan violation counting with
  * driver-side ground truth, and the expectation-gated WAP publish. */
class ExpectationsSpec extends SparkSpec {

  import spark.implicits._

  private def report(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("violation counts match a hand-checked frame, including null semantics") {
    val df = Seq[(java.lang.Long, String, java.lang.Double)](
      (1L, "a-1", 10.0),
      (2L, "b-2", 200.0),   // out of range
      (2L, "zz", 50.0),     // dup key + regex violation
      (null, "a-9", null),  // null key; null value is NOT a range violation
      (3L, null, -5.0)      // null regex col is NOT a regex violation; range violation
    ).toDF("k", "tag", "v")

    val rep = report(Expectations.check(df, Seq(
      NotNull("k"),
      InRange("v", 0.0, 100.0),
      MatchesRegex("tag", "[a-z]-[0-9]"),
      SqlCheck("v_positive", "v > 0"),  // null predicate result = violation
      UniqueKey(Seq("k")))))

    assert(rep == Map(
      "not_null:k" -> 1L,
      "in_range:v" -> 2L,
      "regex:tag" -> 1L,
      "check:v_positive" -> 2L,  // -5.0 and the null v
      "unique:k" -> 1L))         // two k=2 rows → one extra
  }

  test("free-text rule labels round-trip: dots, spaces, even embedded backticks") {
    val df = Seq((1L, -5.0), (2L, 3.0)).toDF("k", "v")
    val rep = report(Expectations.check(df, Seq(
      SqlCheck("v.is positive", "v > 0"),
      SqlCheck("bal in `expected` band", "v < 100"))))
    assert(rep == Map(
      "check:v.is positive" -> 1L,
      "check:bal in `expected` band" -> 0L))
  }

  test("empty input yields zero violations for every rule (not an empty report)") {
    val df = Seq.empty[(Long, String)].toDF("k", "tag")
    val rep = report(Expectations.check(df, Seq(
      NotNull("k"), UniqueKey(Seq("k")), SqlCheck("always", "k >= 0"))))
    assert(rep == Map("not_null:k" -> 0L, "unique:k" -> 0L, "check:always" -> 0L))
  }

  test("single plan: one scan, one aggregate (no per-rule jobs)") {
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "tag")
    val checked = Expectations.check(df, Seq(
      NotNull("k"), InRange("k", 0, 10), UniqueKey(Seq("tag"))))
    val plan = checked.queryExecution.optimizedPlan
    val scans = plan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LeafNode => l }
    assert(scans.size == 1, s"expected one scan, got:\n$plan")
  }

  test("expectation-gated WAP: dirty stage refused and left staged; clean stage publishes") {
    val base = tempDir("graft-exp-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val good = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    Writers.writeSnapshot(cat, "t", good, s"$base/d")
    val rules = Seq(NotNull("v"), UniqueKey(Seq("id")))

    // dirty batch: null v AND a duplicate id vs the current state
    val dirty = Seq[(java.lang.Long, java.lang.Double)]((2L, null), (3L, 30.0)).toDF("id", "v")
    val sid = Writers.stageAppendSnapshot(cat, "t", dirty, s"$base/d")
    val out = Expectations.publishStagedIfClean(spark, cat, "t", sid, rules)
    assert(out == Left(Map("not_null:v" -> 1L, "unique:id" -> 1L)))
    // refused: nothing published, the staged entry still inspectable
    assert(cat.currentSnapshot("t").get.snapshotId == 1L)
    assert(cat.listStaged("t") == Seq(sid))
    cat.discardStaged("t", sid)

    // clean batch publishes and consumes the stage
    val clean = Seq((3L, 30.0)).toDF("id", "v")
    val sid2 = Writers.stageAppendSnapshot(cat, "t", clean, s"$base/d")
    val out2 = Expectations.publishStagedIfClean(spark, cat, "t", sid2, rules)
    assert(out2.isRight)
    assert(cat.read(spark, "t").count() == 3L)
    assert(cat.listStaged("t").isEmpty)
  }

  test("UniqueKey rejects empty columns; check rejects empty rules") {
    intercept[IllegalArgumentException](UniqueKey(Nil))
    val df = Seq((1L, "x")).toDF("k", "tag")
    intercept[IllegalArgumentException](Expectations.check(df, Nil))
  }
}
