package graft.sinks

import graft.{SparkSpec, Tables}
import graft.meta.{CommitIntent, SnapshotCatalog, SnapshotMeta}
import graft.meta.PublishRace
import org.apache.spark.sql.functions._

/** Incremental aggregate views: after every refresh the view must equal
  * a from-scratch recompute of the source's current snapshot —
  * bit-identical, including keys that drop to zero. */
class MaterializedAggSpec extends SparkSpec {

  private val keys = Seq("o_orderstatus")
  private val sums = Seq("o_totalprice")

  private def recompute(cat: SnapshotCatalog): Set[(String, Long, java.math.BigDecimal)] =
    cat.read(spark, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(28,6)")).as("sum_o_totalprice"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2))).toSet

  private def viewState(cat: SnapshotCatalog): Set[(String, Long, java.math.BigDecimal)] =
    cat.read(spark, "orders_by_status")
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).setScale(6))).toSet

  test("build, then refresh across append / delete / merge — always equals recompute") {
    val base = tempDir("graft-mv-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val o = Tables.orders(spark, sfDir)
    Writers.writeSnapshot(cat, "orders", o.filter(col("o_orderkey") <= 900), s"$base/data")

    MaterializedAgg.build(spark, cat, "orders", "orders_by_status",
      keys, sums, s"$base/view")
    assert(viewState(cat) == recompute(cat))

    // append: refresh folds only the delta
    Writers.writeSnapshot(cat, "orders", o.filter(col("o_orderkey") > 900), s"$base/data")
    MaterializedAgg.refresh(spark, cat, "orders", "orders_by_status",
      keys, sums, s"$base/view")
    assert(viewState(cat) == recompute(cat))

    // COW delete: retractions subtract
    Writers.deleteWhere(spark, cat, "orders",
      df => df.filter(col("o_orderkey") % 3 =!= 0), Nil, s"$base/data")
    MaterializedAgg.refresh(spark, cat, "orders", "orders_by_status",
      keys, sums, s"$base/view")
    assert(viewState(cat) == recompute(cat))

    // merge upsert: old versions retract, new versions add
    val src = o.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 10.0)
    Writers.mergeInto(spark, cat, "orders", src, Seq("o_orderkey"), s"$base/data")
    MaterializedAgg.refresh(spark, cat, "orders", "orders_by_status",
      keys, sums, s"$base/view")
    assert(viewState(cat) == recompute(cat))
  }

  // ---- generalized aggregates: AVG (derived), MIN/MAX (key-scoped
  // recompute under invalidating deletes), HLL approx COUNT DISTINCT ----

  private val fullSpec = MaterializedAgg.MvSpec("orders", Seq("o_orderstatus"),
    sums = Seq("o_totalprice"), avgs = Seq("o_totalprice"),
    mins = Seq("o_totalprice"), maxs = Seq("o_totalprice"),
    nds = Seq("o_orderpriority"))

  /** From-scratch recompute rendered EXACTLY like readRendered renders
    * the stored state (same decimal sums, same double division, exact
    * distinct for the low-cardinality nd column). */
  private def recomputeFull(cat: SnapshotCatalog,
      where: Option[String] = None): Set[(String, Long, java.math.BigDecimal,
        Double, Double, Double, Long)] = {
    val base = cat.read(spark, "orders")
    where.map(w => base.filter(expr(w))).getOrElse(base)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(28,6)")).as("s"),
        count(col("o_totalprice")).as("c"),
        min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"),
        countDistinct(col("o_orderpriority")).as("nd"))
      .select(col("o_orderstatus"), col("n_rows"), col("s"),
        (col("s").cast("double") / col("c")).as("avg"),
        col("mn"), col("mx"), col("nd"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).setScale(6),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
  }

  private def renderedState(cat: SnapshotCatalog, view: String): Set[(String, Long,
      java.math.BigDecimal, Double, Double, Double, Long)] =
    MaterializedAgg.readRendered(spark, cat, view)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).setScale(6),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet

  test("min/max/avg/nd refresh equals recompute; extremum deletes recompute key-scoped") {
    val base = tempDir("graft-mv3-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val o = Tables.orders(spark, sfDir)
    Writers.writeSnapshot(cat, "orders", o.filter(col("o_orderkey") <= 900), s"$base/data")
    MaterializedAgg.build(spark, cat, fullSpec, "mv_full", s"$base/view")
    assert(renderedState(cat, "mv_full") == recomputeFull(cat))

    // pure inserts: extrema fold via least/greatest, sketches union —
    // no invalidation, no recompute
    Writers.writeSnapshot(cat, "orders", o.filter(col("o_orderkey") > 900), s"$base/data")
    MaterializedAgg.refreshByName(spark, cat, "mv_full", s"$base/view")
    assert(renderedState(cat, "mv_full") == recomputeFull(cat))

    // kill each group's CURRENT MAX (top prices) and some MINs (bottom
    // prices): the stored extrema die, the invalidated keys recompute
    // from the source, everything else folds additively
    val top = cat.read(spark, "orders").orderBy(col("o_totalprice").desc)
      .limit(20).select("o_orderkey").collect().map(_.getLong(0)).toSet
    val bottom = cat.read(spark, "orders").orderBy(col("o_totalprice").asc)
      .limit(20).select("o_orderkey").collect().map(_.getLong(0)).toSet
    val victims = (top ++ bottom).map(java.lang.Long.valueOf).toSeq
    Writers.deleteWhere(spark, cat, "orders",
      df => df.filter(!col("o_orderkey").isin(victims: _*)), Nil, s"$base/data")
    MaterializedAgg.refreshByName(spark, cat, "mv_full", s"$base/view")
    assert(renderedState(cat, "mv_full") == recomputeFull(cat),
      "a delete at the stored extremum must trigger the key-scoped recompute")

    // merge UPDATE that retracts old versions (some at the extremum)
    // and inserts bumped ones — retraction + insert in one feed
    val upd = o.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 50000.0)
    Writers.mergeInto(spark, cat, "orders", upd, Seq("o_orderkey"), s"$base/data")
    MaterializedAgg.refreshByName(spark, cat, "mv_full", s"$base/view")
    assert(renderedState(cat, "mv_full") == recomputeFull(cat))

    // a key vanishing entirely drops out even through the recompute path
    Writers.deleteWhere(spark, cat, "orders",
      df => df.filter(col("o_orderstatus") =!= "P"), Nil, s"$base/data")
    MaterializedAgg.refreshByName(spark, cat, "mv_full", s"$base/view")
    assert(!renderedState(cat, "mv_full").exists(_._1 == "P"))
    assert(renderedState(cat, "mv_full") == recomputeFull(cat))
  }

  test("where-scoped MV: the filtered fold tracks rows crossing the predicate") {
    val base = tempDir("graft-mv4-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val o = Tables.orders(spark, sfDir)
    Writers.writeSnapshot(cat, "orders", o, s"$base/data")
    val where = "o_totalprice > 150000.0"
    val spec = fullSpec.copy(where = Some(where))
    MaterializedAgg.build(spark, cat, spec, "mv_scoped", s"$base/view")
    assert(renderedState(cat, "mv_scoped") == recomputeFull(cat, Some(where)))

    // UPDATEs that move rows INTO the set (cheap rows bumped over the
    // threshold: their retraction fails the predicate, their insert
    // passes → one-sided +1) and OUT of it (expensive rows cut below:
    // delete passes, insert fails → one-sided -1)
    val into = o.filter(col("o_totalprice") <= 100000.0 && col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 120000.0)
    Writers.mergeInto(spark, cat, "orders", into, Seq("o_orderkey"), s"$base/data")
    val outOf = o.filter(col("o_totalprice") > 200000.0 && col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") - 190000.0)
    Writers.mergeInto(spark, cat, "orders", outOf, Seq("o_orderkey"), s"$base/data")
    MaterializedAgg.refreshByName(spark, cat, "mv_scoped", s"$base/view")
    assert(renderedState(cat, "mv_scoped") == recomputeFull(cat, Some(where)),
      "rows UPDATEd across the predicate boundary must fold one-sided")

    // deletes straddling the boundary: only in-set retractions count
    Writers.deleteWhere(spark, cat, "orders",
      df => df.filter(col("o_orderkey") % 4 =!= 1), Nil, s"$base/data")
    MaterializedAgg.refreshByName(spark, cat, "mv_scoped", s"$base/view")
    assert(renderedState(cat, "mv_scoped") == recomputeFull(cat, Some(where)))
  }

  test("delta-merge refresh: untouched-key view files are REUSED byte-for-byte") {
    import spark.implicits._
    val base = tempDir("graft-mv-dm-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val src = (1 to 100).flatMap(k => Seq((k.toLong, k * 1.0), (k.toLong, k * 2.0)))
      .toDF("k", "v")
    Writers.writeSnapshot(cat, "dm_src", src, s"$base/data")
    MaterializedAgg.build(spark, cat,
      MaterializedAgg.MvSpec("dm_src", Seq("k"), sums = Seq("v")),
      "dm_view", s"$base/view")

    // lay the view out as TWO key-clustered files (the range-clustered
    // shape writeReplace produces at scale), definition props carried
    val snap0 = cat.currentSnapshot("dm_view").get
    val state = cat.read(spark, "dm_view")
    val dirA = java.nio.file.Paths.get(base, "viewA")
    val dirB = java.nio.file.Paths.get(base, "viewB")
    state.filter(col("k") <= 50).coalesce(1).write.parquet(dirA.toString)
    state.filter(col("k") > 50).coalesce(1).write.parquet(dirB.toString)
    cat.commit(spark, "dm_view",
      Writers.listParquetIn(dirA) ++ Writers.listParquetIn(dirB),
      props = snap0.props +
        (SnapshotCatalog.OperationProp -> SnapshotCatalog.OpRewrite),
      intent = CommitIntent(Some(snap0.snapshotId), removedPaths = snap0.files.map(_.path)))
    val snap1 = cat.currentSnapshot("dm_view").get
    assert(snap1.files.size == 2)
    val fileA = snap1.files.find(_.path.contains(dirA.getFileName.toString)).get
    val fileB = snap1.files.find(_.path.contains(dirB.getFileName.toString)).get

    // churn ONLY the upper key range: an append touching keys 90 and a
    // NEW key 150, plus the full deletion of key 95
    Writers.writeSnapshot(cat, "dm_src",
      Seq((90L, 1000.0), (150L, 5.0)).toDF("k", "v"), s"$base/data")
    Writers.deleteWhere(spark, cat, "dm_src",
      df => df.filter(col("k") =!= 95), Nil, s"$base/data")
    MaterializedAgg.refreshByName(spark, cat, "dm_view", s"$base/view")

    val snap2 = cat.currentSnapshot("dm_view").get
    assert(snap2.props(SnapshotCatalog.OperationProp) == SnapshotCatalog.OpMerge,
      s"multi-file view must refresh via merge: ${snap2.props}")
    assert(snap2.props(MaterializedAgg.RefreshedAtProp).toLong ==
      cat.currentSnapshot("dm_src").get.snapshotId)
    assert(snap2.files.contains(fileA),
      "the untouched key range's file must survive with its FileMeta identity")
    assert(!snap2.files.map(_.path).contains(fileB.path),
      "the churned key range's file must be rewritten")

    // state invariant: bit-identical to the from-scratch recompute
    val got = cat.read(spark, "dm_view").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).setScale(6))).toSet
    val want = cat.read(spark, "dm_src").groupBy(col("k"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("v").cast("decimal(28,6)")).as("sum_v"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).setScale(6))).toSet
    assert(got == want)
    assert(!got.exists(_._1 == 95L) && got.exists(_._1 == 150L))
  }

  test("NULL key groups fold, recompute, and refresh correctly") {
    import spark.implicits._
    // GROUP BY makes null a real group; the fold/recompute joins must
    // pair it null-safe or its churn silently drops (caught live: a
    // plain key-list full-outer join passed the view's null-group row
    // and its delta one-sided, so the delta's net-zero row count fell
    // to the n_rows > 0 filter and its sum change vanished)
    val base = tempDir("graft-mv-null-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val src = Seq((Some("a"), 1.0, "pA"), (None, 2.0, "pA"), (None, 3.0, "pB"),
      (Some("b"), 4.0, "pA")).toDF("k", "v", "p")
    Writers.writeSnapshot(cat, "nk_src", src, s"$base/data")
    MaterializedAgg.build(spark, cat,
      MaterializedAgg.MvSpec("nk_src", Seq("k"), sums = Seq("v"), avgs = Seq("v"),
        mins = Seq("v"), maxs = Seq("v"), nds = Seq("p")),
      "nk_view", s"$base/view")

    def recomputeNk(): Set[(Option[String], Long, java.math.BigDecimal,
        Double, Double, Double, Long)] =
      cat.read(spark, "nk_src").groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("v").cast("decimal(28,6)")).as("s"),
          count(col("v")).as("c"), min(col("v")).as("mn"), max(col("v")).as("mx"),
          countDistinct(col("p")).as("nd"))
        .select(col("k"), col("n"), col("s"),
          (col("s").cast("double") / col("c")).as("avg"), col("mn"), col("mx"),
          col("nd"))
        .collect()
        .map(r => (Option(r.getString(0)), r.getLong(1), r.getDecimal(2).setScale(6),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    def renderedNk(): Set[(Option[String], Long, java.math.BigDecimal,
        Double, Double, Double, Long)] =
      MaterializedAgg.readRendered(spark, cat, "nk_view").collect()
        .map(r => (Option(r.getString(0)), r.getLong(1), r.getDecimal(2).setScale(6),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    assert(renderedNk() == recomputeNk())

    // additive churn at the null group: insert + a non-extremum delete
    Writers.writeSnapshot(cat, "nk_src",
      Seq((Option.empty[String], 10.0, "pA")).toDF("k", "v", "p"), s"$base/data")
    Writers.deleteWhere(spark, cat, "nk_src",
      df => df.filter(col("v") =!= 2.0), Nil, s"$base/data")
    MaterializedAgg.refreshByName(spark, cat, "nk_view", s"$base/view")
    assert(renderedNk() == recomputeNk())

    // extremum-killing delete AT the null group: its stored max (10.0)
    // dies, so the key-scoped recompute must reach the null group's
    // source rows through the null-safe semi join
    Writers.deleteWhere(spark, cat, "nk_src",
      df => df.filter(col("v") =!= 10.0), Nil, s"$base/data")
    MaterializedAgg.refreshByName(spark, cat, "nk_view", s"$base/view")
    assert(renderedNk() == recomputeNk())
    assert(renderedNk().find(_._1.isEmpty).get._6 == 3.0,
      "the null group's recomputed max must be the surviving row's value")

    // multi-file view + null-group churn: MERGE matching is ANSI
    // null-unsafe, so the refresh must FALL BACK to the rewrite path
    // (a merge would land a duplicate null row) and still equal the
    // recompute
    val snapV = cat.currentSnapshot("nk_view").get
    val state = cat.read(spark, "nk_view")
    val dirA = java.nio.file.Paths.get(base, "viewA")
    val dirB = java.nio.file.Paths.get(base, "viewB")
    state.filter(col("k").isNull).coalesce(1).write.parquet(dirA.toString)
    state.filter(col("k").isNotNull).coalesce(1).write.parquet(dirB.toString)
    cat.commit(spark, "nk_view",
      Writers.listParquetIn(dirA) ++ Writers.listParquetIn(dirB),
      props = snapV.props +
        (SnapshotCatalog.OperationProp -> SnapshotCatalog.OpRewrite),
      intent = CommitIntent(Some(snapV.snapshotId), removedPaths = snapV.files.map(_.path)))
    Writers.writeSnapshot(cat, "nk_src",
      Seq((Option.empty[String], 7.0, "pC"), (Some("a"), 9.0, "pA"))
        .toDF("k", "v", "p"), s"$base/data")
    MaterializedAgg.refreshByName(spark, cat, "nk_view", s"$base/view")
    val snapAfter = cat.currentSnapshot("nk_view").get
    assert(snapAfter.props(SnapshotCatalog.OperationProp) ==
      SnapshotCatalog.OpRewrite,
      s"null-group churn must take the rewrite fallback: ${snapAfter.props}")
    assert(renderedNk() == recomputeNk())
    assert(cat.read(spark, "nk_view").filter(col("k").isNull).count() == 1,
      "exactly one null-group row must exist after the refresh")

    // …and null-free churn on a multi-file layout still merges (re-lay
    // explicitly: the fallback rewrite may have packed the tiny view
    // into one file, which would route through the replace path)
    val snapV2 = cat.currentSnapshot("nk_view").get
    val state2 = cat.read(spark, "nk_view")
    val dirA2 = java.nio.file.Paths.get(base, "viewA2")
    val dirB2 = java.nio.file.Paths.get(base, "viewB2")
    state2.filter(col("k").isNull).coalesce(1).write.parquet(dirA2.toString)
    state2.filter(col("k").isNotNull).coalesce(1).write.parquet(dirB2.toString)
    cat.commit(spark, "nk_view",
      Writers.listParquetIn(dirA2) ++ Writers.listParquetIn(dirB2),
      props = snapV2.props +
        (SnapshotCatalog.OperationProp -> SnapshotCatalog.OpRewrite),
      intent = CommitIntent(Some(snapV2.snapshotId), removedPaths = snapV2.files.map(_.path)))
    Writers.writeSnapshot(cat, "nk_src",
      Seq((Some("b"), 6.0, "pB")).toDF("k", "v", "p"), s"$base/data")
    MaterializedAgg.refreshByName(spark, cat, "nk_view", s"$base/view")
    assert(cat.currentSnapshot("nk_view").get.props(
      SnapshotCatalog.OperationProp) == SnapshotCatalog.OpMerge)
    assert(renderedNk() == recomputeNk())
  }

  test("delta-merge refresh: invalidating deletes ride the merge path key-scoped") {
    import spark.implicits._
    val base = tempDir("graft-mv-dm3-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    // two rows per key: min = k, max = 2k, nd(p) = 2
    val src = (1 to 100).flatMap(k =>
      Seq((k.toLong, k * 1.0, "pA"), (k.toLong, k * 2.0, "pB")))
      .toDF("k", "v", "p")
    Writers.writeSnapshot(cat, "dm3_src", src, s"$base/data")
    val spec = MaterializedAgg.MvSpec("dm3_src", Seq("k"),
      sums = Seq("v"), avgs = Seq("v"), mins = Seq("v"), maxs = Seq("v"),
      nds = Seq("p"))
    MaterializedAgg.build(spark, cat, spec, "dm3_view", s"$base/view")

    // re-lay as TWO key-clustered files so the refresh takes the merge path
    val snap0 = cat.currentSnapshot("dm3_view").get
    val state = cat.read(spark, "dm3_view")
    val dirA = java.nio.file.Paths.get(base, "viewA")
    val dirB = java.nio.file.Paths.get(base, "viewB")
    state.filter(col("k") <= 50).coalesce(1).write.parquet(dirA.toString)
    state.filter(col("k") > 50).coalesce(1).write.parquet(dirB.toString)
    cat.commit(spark, "dm3_view",
      Writers.listParquetIn(dirA) ++ Writers.listParquetIn(dirB),
      props = snap0.props +
        (SnapshotCatalog.OperationProp -> SnapshotCatalog.OpRewrite),
      intent = CommitIntent(Some(snap0.snapshotId), removedPaths = snap0.files.map(_.path)))
    val snap1 = cat.currentSnapshot("dm3_view").get
    val fileA = snap1.files.find(_.path.contains(dirA.getFileName.toString)).get

    // upper-range churn exercising EVERY commit clause at once: key 90's
    // stored max dies (invalid → key-scoped recompute → UPSERT), key 95
    // vanishes entirely (exact n_rows folds to 0 → DELETE — its sketch
    // state is moot), key 150 is brand new (INSERT), and key 60 gains a
    // higher max + a third p class (pure-insert fold, no invalidation)
    Writers.writeSnapshot(cat, "dm3_src",
      Seq((150L, 5.0, "pA"), (60L, 500.0, "pC")).toDF("k", "v", "p"),
      s"$base/data")
    Writers.deleteWhere(spark, cat, "dm3_src",
      df => df.filter(col("k") =!= 95 && !(col("k") === 90 && col("v") === 180.0)),
      Nil, s"$base/data")
    MaterializedAgg.refreshByName(spark, cat, "dm3_view", s"$base/view")

    val snap2 = cat.currentSnapshot("dm3_view").get
    assert(snap2.props(SnapshotCatalog.OperationProp) == SnapshotCatalog.OpMerge,
      s"multi-file view with recompute aggregates must still merge: ${snap2.props}")
    assert(snap2.files.contains(fileA),
      "the untouched lower key range's file must survive the recompute refresh")

    // rendered state equals the from-scratch recompute, including the
    // recomputed extremum/sketch key and the exact-fold keys
    val got = MaterializedAgg.readRendered(spark, cat, "dm3_view").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).setScale(6),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    val want = cat.read(spark, "dm3_src").groupBy(col("k"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("v").cast("decimal(28,6)")).as("s"),
        count(col("v")).as("c"),
        min(col("v")).as("mn"), max(col("v")).as("mx"),
        countDistinct(col("p")).as("nd"))
      .select(col("k"), col("n_rows"), col("s"),
        (col("s").cast("double") / col("c")).as("avg"),
        col("mn"), col("mx"), col("nd"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).setScale(6),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    assert(got == want)
    assert(!got.exists(_._1 == 95L) && got.exists(_._1 == 150L))
    assert(got.find(_._1 == 90L).get._6 == 90.0,
      "key 90's recomputed max must be the surviving row's value")
    assert(got.find(_._1 == 60L).get._7 == 3L,
      "key 60's sketch must fold the new class without invalidation")
  }

  test("delta-merge: out-of-scope churn advances the watermark metadata-only") {
    import spark.implicits._
    val base = tempDir("graft-mv-dm2-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    Writers.writeSnapshot(cat, "dm2_src",
      (1 to 40).map(k => (k.toLong, k * 1.0)).toDF("k", "v"), s"$base/data")
    MaterializedAgg.build(spark, cat,
      MaterializedAgg.MvSpec("dm2_src", Seq("k"), sums = Seq("v"),
        where = Some("v < 100.0")),
      "dm2_view", s"$base/view")
    // two files so the refresh takes the delta-merge path
    val snap0 = cat.currentSnapshot("dm2_view").get
    val state = cat.read(spark, "dm2_view")
    val dirA = java.nio.file.Paths.get(base, "viewA")
    val dirB = java.nio.file.Paths.get(base, "viewB")
    state.filter(col("k") <= 20).coalesce(1).write.parquet(dirA.toString)
    state.filter(col("k") > 20).coalesce(1).write.parquet(dirB.toString)
    cat.commit(spark, "dm2_view",
      Writers.listParquetIn(dirA) ++ Writers.listParquetIn(dirB),
      props = snap0.props +
        (SnapshotCatalog.OperationProp -> SnapshotCatalog.OpRewrite),
      intent = CommitIntent(Some(snap0.snapshotId), removedPaths = snap0.files.map(_.path)))
    val snap1 = cat.currentSnapshot("dm2_view").get

    // the source moves, but every changed row is OUTSIDE the view's
    // predicate: the refresh must advance the watermark without
    // touching a single data file
    Writers.writeSnapshot(cat, "dm2_src",
      Seq((200L, 5000.0)).toDF("k", "v"), s"$base/data")
    MaterializedAgg.refreshByName(spark, cat, "dm2_view", s"$base/view")
    val snap2 = cat.currentSnapshot("dm2_view").get
    assert(snap2.snapshotId != snap1.snapshotId)
    assert(snap2.files.toSet == snap1.files.toSet,
      "an out-of-scope refresh must reuse every file (metadata-only commit)")
    assert(snap2.props(MaterializedAgg.RefreshedAtProp).toLong ==
      cat.currentSnapshot("dm2_src").get.snapshotId)
    assert(cat.read(spark, "dm2_view").count() == 40)
  }

  test("a compaction of the view landing inside a watermark-only refresh survives") {
    import spark.implicits._
    val base = tempDir("graft-mv-race-").toString
    val race = new PublishRace
    val cat = new SnapshotCatalog(s"$base/cat", race.clock)
    val other = new SnapshotCatalog(s"$base/cat")
    Writers.writeSnapshot(cat, "race_src",
      (1 to 40).map(k => (k.toLong, k * 1.0)).toDF("k", "v"), s"$base/data")
    MaterializedAgg.build(spark, cat,
      MaterializedAgg.MvSpec("race_src", Seq("k"), sums = Seq("v"),
        where = Some("v < 100.0")),
      "race_view", s"$base/view")
    // two files so the refresh takes the delta-merge path
    val snap0 = cat.currentSnapshot("race_view").get
    val state = cat.read(spark, "race_view")
    val dirA = java.nio.file.Paths.get(base, "viewA")
    val dirB = java.nio.file.Paths.get(base, "viewB")
    state.filter(col("k") <= 20).coalesce(1).write.parquet(dirA.toString)
    state.filter(col("k") > 20).coalesce(1).write.parquet(dirB.toString)
    cat.commit(spark, "race_view",
      Writers.listParquetIn(dirA) ++ Writers.listParquetIn(dirB),
      props = snap0.props +
        (SnapshotCatalog.OperationProp -> SnapshotCatalog.OpRewrite),
      intent = CommitIntent(Some(snap0.snapshotId), removedPaths = snap0.files.map(_.path)))
    val rendered = MaterializedAgg.readRendered(spark, cat, "race_view").collect().toSet

    // out-of-scope churn: the refresh only advances the watermark, and a
    // compaction of the view lands inside its publish
    Writers.writeSnapshot(cat, "race_src",
      Seq((200L, 5000.0)).toDF("k", "v"), s"$base/data")
    var compacted: Option[SnapshotMeta] = None
    race.arm { compacted = Writers.compact(spark, other, "race_view", s"$base/view") }
    MaterializedAgg.refreshByName(spark, cat, "race_view", s"$base/view")
    assert(race.fired && compacted.nonEmpty)
    val head = cat.currentSnapshot("race_view").get
    assert(head.parentId.contains(compacted.get.snapshotId))
    assert(head.files.toSet == compacted.get.files.toSet,
      "the watermark commit must keep the compaction's files")
    assert(head.props(MaterializedAgg.RefreshedAtProp).toLong ==
      cat.currentSnapshot("race_src").get.snapshotId)
    assert(MaterializedAgg.readRendered(spark, cat, "race_view").collect().toSet == rendered)
  }

  test("the view definition survives compaction, a table comment and an index commit") {
    import spark.implicits._
    val base = tempDir("graft-mv-keep-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    Writers.writeSnapshot(cat, "keep_src",
      (1 to 40).map(k => (k.toLong, k * 1.0)).toDF("k", "v"), s"$base/data")
    val spec = MaterializedAgg.MvSpec("keep_src", Seq("k"), sums = Seq("v"))
    MaterializedAgg.build(spark, cat, spec, "keep_view", s"$base/view")
    // re-lay the view as two files, definition props restated, so the
    // compaction below has something to fold
    val snap0 = cat.currentSnapshot("keep_view").get
    val state = cat.read(spark, "keep_view")
    val dirA = java.nio.file.Paths.get(base, "viewA")
    val dirB = java.nio.file.Paths.get(base, "viewB")
    state.filter(col("k") <= 20).coalesce(1).write.parquet(dirA.toString)
    state.filter(col("k") > 20).coalesce(1).write.parquet(dirB.toString)
    cat.commit(spark, "keep_view",
      Writers.listParquetIn(dirA) ++ Writers.listParquetIn(dirB),
      props = snap0.props + (SnapshotCatalog.OperationProp -> SnapshotCatalog.OpRewrite),
      intent = CommitIntent(Some(snap0.snapshotId), removedPaths = snap0.files.map(_.path)))
    def rows(t: String) = cat.read(spark, t).collect().map(_.toSeq).toSet
    val ops: Seq[(String, () => Unit)] = Seq(
      "compact" -> (() => assert(Writers.compact(spark, cat, "keep_view", s"$base/view").nonEmpty)),
      "table comment" -> (() => { cat.setTableComment("keep_view", Some("state")); () }),
      "index" -> (() => { cat.indexColumns(spark, "keep_view", bloomColumns = Seq("k")); () }))
    ops.zipWithIndex.foreach { case ((what, op), i) =>
      op()
      Writers.writeSnapshot(cat, "keep_src", Seq((i + 1L, 100.0)).toDF("k", "v"), s"$base/data")
      MaterializedAgg.refreshByName(spark, cat, "keep_view", s"$base/view")
      assert(MaterializedAgg.views(cat).contains("keep_view"), s"after $what")
      MaterializedAgg.build(spark, cat, spec, s"keep_fresh_$i", s"$base/fresh$i")
      assert(rows("keep_view") == rows(s"keep_fresh_$i"), s"after $what")
    }
  }

  test("a key whose rows all vanish leaves the view; no-op refresh commits nothing") {
    val base = tempDir("graft-mv2-").toString
    val cat = new SnapshotCatalog(s"$base/cat")
    val o = Tables.orders(spark, sfDir)
    Writers.writeSnapshot(cat, "orders", o, s"$base/data")
    MaterializedAgg.build(spark, cat, "orders", "orders_by_status",
      keys, sums, s"$base/view")
    val statuses = viewState(cat).map(_._1)
    assert(statuses.contains("P"))

    // delete EVERY P row — the key must disappear, not linger at 0
    Writers.deleteWhere(spark, cat, "orders",
      df => df.filter(col("o_orderstatus") =!= "P"), Nil, s"$base/data")
    MaterializedAgg.refresh(spark, cat, "orders", "orders_by_status",
      keys, sums, s"$base/view")
    assert(!viewState(cat).map(_._1).contains("P"))
    assert(viewState(cat) == recompute(cat))

    // source unmoved → refresh is a no-op: same watermark, no new commit
    val before = cat.currentSnapshot("orders_by_status").get.snapshotId
    val wm = MaterializedAgg.refresh(spark, cat, "orders", "orders_by_status",
      keys, sums, s"$base/view")
    assert(cat.currentSnapshot("orders_by_status").get.snapshotId == before)
    assert(wm == cat.currentSnapshot("orders").get.snapshotId)
  }
}
