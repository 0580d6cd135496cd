package graft.sinks

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import graft.meta._
import org.apache.spark.sql.functions._

/** Hidden-partitioning transforms (SURVEY §2 S35): write-side derivation
  * and driver-side inverse must agree; predicates on RAW columns must
  * prune partition directories from manifest metadata alone. */
class PartitionTransformSpec extends SparkSpec {

  test("days(ts): raw epoch-range predicate prunes to the window's day partitions") {
    val base = tempDir("graft-days-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val e = Tables.events(spark, sfDir)
    val spec = Seq(DaysTransform("ts"))
    val snap = Writers.writeTransformedSnapshot(cat, "ev", e, s"$base/data", spec)

    // every file carries its hidden day partition value
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(_.partitionValues.contains("__p_ts_day")))
    val allDays = snap.files.map(_.partitionValues("__p_ts_day")).toSet
    assert(allDays.size > 10, s"expected many day partitions, got $allDays")

    val utc = java.time.ZoneOffset.UTC
    def ms(d: String) =
      java.time.LocalDate.parse(d).atStartOfDay(utc).toInstant.toEpochMilli.toDouble
    val raw = Seq(RangeNum("ts", ms("2024-01-10"), ms("2024-01-13")))
    val mapped = PartitionTransforms.mapFilters(spec, raw)
    assert(mapped == Seq(RangeString("__p_ts_day", "2024-01-10", "2024-01-13")))

    // pruning: only the 4 boundary-inclusive day partitions survive
    val kept = cat.planFiles("ev", raw ++ mapped)
    val keptDays = kept.map(_.partitionValues("__p_ts_day")).toSet
    assert(keptDays.subsetOf(Set("2024-01-10", "2024-01-11", "2024-01-12", "2024-01-13")),
      s"kept $keptDays")
    assert(kept.size < snap.files.size)

    // correctness: pruned read + row filter == plain filtered scan
    val got = Writers.readTransformed(cat, spark, "ev", spec, raw)
      .filter(col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-13").cast("timestamp"))
      .count()
    val want = e.filter(col("ts") >= lit("2024-01-10").cast("timestamp") &&
      col("ts") < lit("2024-01-13").cast("timestamp")).count()
    assert(got == want && want > 0)
  }

  test("truncate(width): equality, range and IN-list predicates map to truncated forms") {
    val t = TruncateTransform("seg", 3)
    assert(PartitionTransforms.mapFilters(Seq(t), Seq(EqString("seg", "BUILDING")))
      == Seq(EqString("__p_seg_trunc3", "BUI")))
    assert(PartitionTransforms.mapFilters(Seq(t), Seq(RangeString("seg", "AUTO", "FURN")))
      == Seq(RangeString("__p_seg_trunc3", "AUT", "FUR")))
    assert(PartitionTransforms.mapFilters(Seq(t), Seq(InString("seg", Seq("AUTOMOBILE", "AUTOPILOT", "FURNITURE"))))
      == Seq(InString("__p_seg_trunc3", Seq("AUT", "FUR"))))
    // a filter on another column maps to nothing
    assert(PartitionTransforms.mapFilters(Seq(t), Seq(EqString("other", "x"))).isEmpty)
    // a range on a BUCKET transform maps to nothing (hash destroys order)
    assert(PartitionTransforms.mapFilters(
      Seq(BucketTransform("seg", 8)), Seq(RangeString("seg", "A", "Z"))).isEmpty)
  }

  test("bucket(n): driver-side inverse equals the Spark column expression") {
    val b = BucketTransform("c_mktsegment", 8)
    val vals = Tables.customer(spark, sfDir)
      .select(col("c_mktsegment")).distinct()
      .withColumn("bk", b.colExpr)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(vals.nonEmpty)
    vals.foreach { case (v, sparkBucket) =>
      assert(b.bucketOf(v) == sparkBucket, s"mismatch for $v")
    }
  }

  test("compaction bins within partitions and preserves hidden-partition pruning") {
    val base = tempDir("graft-cpt-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val e = Tables.events(spark, sfDir)
    val spec = Seq(DaysTransform("ts"))
    // two appends → ≥2 small files per day partition
    Writers.writeTransformedSnapshot(cat, "ev", e, s"$base/d1", spec)
    val s2 = Writers.writeTransformedSnapshot(cat, "ev", e, s"$base/d2", spec)
    val nDays = s2.files.map(_.partitionValues("__p_ts_day")).toSet.size
    assert(s2.files.size >= 2 * nDays)

    val s3 = Writers.compact(spark, cat, "ev", s"$base/cpt",
      targetBytes = Long.MaxValue, smallBytes = Long.MaxValue).get
    // every bin stayed inside one partition and re-encoded its value
    assert(s3.files.forall(_.partitionValues.contains("__p_ts_day")))
    assert(s3.files.size == nDays, s"want one output per day, got ${s3.files.size}/$nDays")

    // pruning still works from metadata alone after the rewrite
    val utc = java.time.ZoneOffset.UTC
    def ms(d: String) =
      java.time.LocalDate.parse(d).atStartOfDay(utc).toInstant.toEpochMilli.toDouble
    val raw = Seq(RangeNum("ts", ms("2024-01-10"), ms("2024-01-13")))
    val kept = cat.planFiles("ev", raw ++ PartitionTransforms.mapFilters(spec, raw))
    assert(kept.nonEmpty && kept.size <= 4, s"kept ${kept.size} files")
    assert(kept.forall(f =>
      Set("2024-01-10", "2024-01-11", "2024-01-12", "2024-01-13")
        .contains(f.partitionValues("__p_ts_day"))))

    // row preservation: both appended copies survive the rewrite
    val got = Writers.readTransformed(cat, spark, "ev", spec, raw)
      .filter(col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-13").cast("timestamp")).count()
    val want = e.filter(col("ts") >= lit("2024-01-10").cast("timestamp") &&
      col("ts") < lit("2024-01-13").cast("timestamp")).count()
    assert(got == 2 * want && want > 0)
  }

  test("partition evolution: files written under different specs prune by their own layout") {
    val base = tempDir("graft-evo-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    val specA = Seq(BucketTransform("c_mktsegment", 4))
    val snapA = Writers.writeTransformedSnapshot(cat, "cust", c, s"$base/a", specA)
    val specB = Seq(TruncateTransform("c_mktsegment", 3))
    val snapB = Writers.writeTransformedSnapshot(cat, "cust", c, s"$base/b", specB)
    assert(snapB.files.size > snapA.files.size, "evolution appends, never rewrites")

    val raw = Seq(EqString("c_mktsegment", "BUILDING"))
    // the reader maps through BOTH specs; each file honors only the
    // filters of the layout it carries
    val mapped = PartitionTransforms.mapFilters(specA ++ specB, raw)
    assert(mapped.toSet == Set(
      EqString(specA.head.partCol, specA.head.bucketOf("BUILDING")),
      EqString(specB.head.partCol, "BUI")))
    val kept = cat.planFiles("cust", raw ++ mapped)
    val keptA = kept.filter(_.partitionValues.contains(specA.head.partCol))
    val keptB = kept.filter(_.partitionValues.contains(specB.head.partCol))
    assert(keptA.nonEmpty && keptA.forall(
      _.partitionValues(specA.head.partCol) == specA.head.bucketOf("BUILDING")))
    assert(keptB.nonEmpty && keptB.forall(
      _.partitionValues(specB.head.partCol) == "BUI"))

    // correctness: both layouts hold one copy each
    val got = Writers.readTransformed(cat, spark, "cust", specA ++ specB, raw)
      .filter(col("c_mktsegment") === "BUILDING").count()
    val want = c.filter(col("c_mktsegment") === "BUILDING").count()
    assert(got == 2 * want && want > 0)
  }

  test("bucket(n): point lookup reads exactly one bucket's files, IN-list their union") {
    val base = tempDir("graft-bkt-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val c = Tables.customer(spark, sfDir)
    val spec = Seq(BucketTransform("c_mktsegment", 4))
    val snap = Writers.writeTransformedSnapshot(cat, "cust", c, s"$base/data", spec)
    val partCol = spec.head.partCol
    val buckets = snap.files.map(_.partitionValues(partCol)).toSet
    assert(buckets.size > 1, s"want multiple buckets, got $buckets")

    val raw = Seq(EqString("c_mktsegment", "BUILDING"))
    val kept = cat.planFiles("cust", raw ++ PartitionTransforms.mapFilters(spec, raw))
    val wantBucket = spec.head.bucketOf("BUILDING")
    assert(kept.nonEmpty)
    assert(kept.forall(_.partitionValues(partCol) == wantBucket))
    assert(kept.size < snap.files.size)

    val got = Writers.readTransformed(cat, spark, "cust", spec, raw)
      .filter(col("c_mktsegment") === "BUILDING").count()
    val want = c.filter(col("c_mktsegment") === "BUILDING").count()
    assert(got == want && want > 0)
  }
}
