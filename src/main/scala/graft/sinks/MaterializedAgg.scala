package graft.sinks

import graft.meta.{CommitIntent, SnapshotCatalog, SnapshotMeta}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate views over a snapshot table:
  * a keyed (COUNT, SUM, AVG, MIN, MAX, approx COUNT DISTINCT)
  * materialization refreshed from the row-level change feed — refresh
  * cost ∝ CHANGED rows, never table size. The 100 TB pattern this
  * enables: a dashboard aggregate over a 100 TB fact table refreshes
  * from a day's CDC slice instead of a full recompute
  * (Materialize/Snowflake dynamic-table semantics, on this catalog's
  * own [[graft.meta.SnapshotCatalog.changesBetween]]).
  *
  * Maintenance classes (the dynamic-table taxonomy):
  *   - COUNT and SUM are SELF-MAINTAINABLE: deltas compose by addition
  *     with sign; a key whose count reaches zero leaves the view. AVG
  *     derives from (SUM, non-null COUNT) — both self-maintainable, so
  *     AVG costs ZERO new maintenance machinery and renders at read.
  *   - MIN/MAX are self-maintainable under INSERTS (least/greatest
  *     against the stored extremum) but NOT under deletes: a retracted
  *     extremum needs the base table. The refresh detects exactly the
  *     keys whose stored extremum a delete touched and RECOMPUTES ONLY
  *     THOSE KEYS from the source (one semi-join-pruned scan ∝ the
  *     invalidated keys' rows — the key-scoped recompute fallback);
  *     every other key folds additively.
  *   - approx COUNT DISTINCT keeps a mergeable HLL sketch per key
  *     (Spark's datasketches `hll_sketch_agg`/`hll_union`): inserts
  *     union in; a delete of a non-null value invalidates the key's
  *     sketch (HLL is not retractable) and rides the SAME key-scoped
  *     recompute path as MIN/MAX.
  *
  * An optional `where` predicate scopes the view to a SUBSET of the
  * source (an MV over a derived relation): the build filters the scan,
  * the refresh filters the CHANGE FEED with the same predicate —
  * insert/delete symmetry keeps the fold exact (a row UPDATEd across
  * the predicate boundary surfaces as the one-sided insert or delete
  * the filtered view needs) — and the key-scoped recompute filters its
  * source scan identically.
  *
  * Sums run through DECIMAL(28,6) so the view is bit-identical to a
  * from-scratch recompute — the invariant the spec enforces after every
  * refresh (HLL sketches compare by ESTIMATE: a merged sketch is
  * estimate-identical at spec cardinalities, not byte-identical). NULL
  * key groups are supported: GROUP BY makes null a real group, so the
  * fold and the key-scoped recompute join null-safe (`<=>`), and churn
  * touching a null group on a multi-file view takes the full-rewrite
  * commit path because MERGE matching is ANSI null-unsafe — an upsert
  * routed through MERGE would insert a duplicate next to the stored
  * null-group row. The view's own state lives in
  * the SAME catalog as a table: snapshot-versioned, time-travelable,
  * servable; its `refreshed_at` source snapshot rides the view
  * snapshot's props (refresh IS a commit, so view state and watermark
  * advance atomically).
  */
object MaterializedAgg {

  /** Prop on the view's snapshots: the source snapshot the view equals. */
  val RefreshedAtProp = SnapshotCatalog.MvRefreshedAtProp

  /** Props on the view's snapshots recording its own definition (source
    * table, key columns, aggregate columns, optional predicate; the
    * catalog's [[SnapshotCatalog.MvSpecProps]]) — written by [[build]]
    * and carried by every later commit of the view (refreshes,
    * compactions, DDL), so a scheduled maintenance job can drive a
    * refresh from the VIEW NAME ALONE ([[refreshByName]], the
    * `CALL graft.refresh_mv` surface). */
  val SrcProp = SnapshotCatalog.MvSrcProp
  val KeysProp = "graft.view.keys"
  val SumsProp = "graft.view.sums"
  val AvgsProp = "graft.view.avgs"
  val MinsProp = "graft.view.mins"
  val MaxsProp = "graft.view.maxs"
  val NdsProp = "graft.view.nds"
  val WhereProp = "graft.view.where"

  /** A view's definition: source table, grouping keys, and the columns
    * under each aggregate. `avgs` stores (sum, non-null count) state
    * and renders at read; `nds` stores an HLL sketch per key. `where`
    * scopes the view to the rows matching the predicate. */
  final case class MvSpec(
      src: String,
      keys: Seq[String],
      sums: Seq[String] = Nil,
      avgs: Seq[String] = Nil,
      mins: Seq[String] = Nil,
      maxs: Seq[String] = Nil,
      nds: Seq[String] = Nil,
      where: Option[String] = None) {
    /** Columns carrying DECIMAL sum state (AVG shares SUM's cell). */
    def sumState: Seq[String] = (sums ++ avgs).distinct
    def aggCols: Seq[String] = (sums ++ avgs ++ mins ++ maxs ++ nds).distinct
  }

  private def specProps(spec: MvSpec): Map[String, String] = Map(
    SrcProp -> spec.src,
    KeysProp -> spec.keys.mkString(","),
    SumsProp -> spec.sums.mkString(","),
    AvgsProp -> spec.avgs.mkString(","),
    MinsProp -> spec.mins.mkString(","),
    MaxsProp -> spec.maxs.mkString(","),
    NdsProp -> spec.nds.mkString(",")) ++
    spec.where.map(WhereProp -> _)

  private def scoped(df: DataFrame, spec: MvSpec): DataFrame =
    spec.where.map(w => df.filter(expr(w))).getOrElse(df)

  /** REPLACE-write the view state (the small-view refresh shape: the
    * whole view rewrites — fine while the view is keys-sized; large
    * multi-file views take the delta-merge path in [[refresh]] instead;
    * labeled `rewrite` so the view's own CDC classifies it correctly).
    * State lands RANGE-CLUSTERED on the view keys, so each file covers
    * a disjoint key interval and a later delta-merge refresh prunes its
    * rewrite set to the files the changed keys actually live in. The
    * commit removes every file of `basis`, the view snapshot the state
    * was computed from, as [[Writers.replaceSnapshot]] does: a commit
    * that removed one of them meanwhile (a compaction of the view)
    * surfaces as a [[graft.meta.CommitConflictException]] instead of
    * being undone. */
  private def writeReplace(
      catalog: SnapshotCatalog,
      table: String,
      basis: Option[SnapshotMeta],
      df: DataFrame,
      keys: Seq[String],
      dataDir: String,
      props: Map[String, String]): Unit = {
    Writers.commitOp(catalog, df.sparkSession, table, basis, SnapshotCatalog.OpRewrite,
      Writers.writeFiles(df.repartitionByRange(keys.map(col): _*), dataDir, "view"),
      removed = basis.map(_.files.map(_.path)).getOrElse(Nil), props = props)
    ()
  }

  /** The full keyed aggregate state of `df` under `spec` — the
    * from-scratch shape [[build]] materializes and the key-scoped
    * recompute re-derives; [[refresh]]'s additive fold must stay
    * value-identical to it (the invariant). State column order is
    * FIXED (n_rows, sums, counts, mins, maxs, sketches) so every
    * rewrite commits the same schema. */
  private def aggOf(df: DataFrame, spec: MvSpec): DataFrame = {
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n_rows")) ++
        spec.sumState.map(c => sum(col(c).cast("decimal(28,6)")).as(s"sum_$c")) ++
        spec.avgs.map(c => count(col(c)).as(s"cnt_$c")) ++
        spec.mins.map(c => min(col(c)).as(s"min_$c")) ++
        spec.maxs.map(c => max(col(c)).as(s"max_$c")) ++
        spec.nds.map(c => hll_sketch_agg(col(c)).as(s"nd_$c"))
    df.groupBy(spec.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The view rendered for reading: derived aggregates computed from
    * the stored state — `avg_c` as double division of the exact
    * decimal sum by the non-null count (NULL on an all-null group,
    * like SQL AVG), `approx_nd_c` as the sketch's estimate. Sums and
    * extrema pass through. */
  def readRendered(spark: SparkSession, catalog: SnapshotCatalog,
      viewTable: String): DataFrame = {
    val s = spec(catalog, viewTable)
    val view = catalog.read(spark, viewTable)
    val cols: Seq[Column] =
      s.keys.map(col) ++ Seq(col("n_rows")) ++
        s.sums.map(c => col(s"sum_$c")) ++
        s.avgs.map(c => when(col(s"cnt_$c") > 0,
          col(s"sum_$c").cast("double") / col(s"cnt_$c")).as(s"avg_$c")) ++
        s.mins.map(c => col(s"min_$c")) ++
        s.maxs.map(c => col(s"max_$c")) ++
        s.nds.map(c => hll_sketch_estimate(col(s"nd_$c")).as(s"approx_nd_$c"))
    view.select(cols: _*)
  }

  private def validateAgainst(
      schema: org.apache.spark.sql.types.StructType, spec: MvSpec): Unit = {
    val missing = (spec.keys ++ spec.aggCols).distinct
      .filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"materialized view over ${spec.src}: unknown column(s) " +
        s"${missing.mkString(", ")} (has: ${schema.fieldNames.mkString(", ")})")
    require(spec.keys.nonEmpty, "materialized view needs at least one key column")
  }

  /** Full build: materialize the aggregate of the source's CURRENT
    * snapshot into `viewTable` (one commit, watermark recorded). */
  def build(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      spec: MvSpec,
      viewTable: String,
      dataDir: String): Long = {
    val srcSnap = catalog.resolveSnapshot(spec.src)
    validateAgainst(srcSnap.schema, spec)
    val viewSnap = catalog.currentSnapshot(viewTable)
    val agg = aggOf(
      scoped(catalog.read(spark, spec.src, snapshotId = Some(srcSnap.snapshotId)), spec),
      spec)
    writeReplace(catalog, viewTable, viewSnap, agg, spec.keys, dataDir,
      specProps(spec) + (RefreshedAtProp -> srcSnap.snapshotId.toString))
    srcSnap.snapshotId
  }

  /** COUNT+SUM-only build (the original S39 surface). */
  def build(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      srcTable: String,
      viewTable: String,
      keyCols: Seq[String],
      sumCols: Seq[String],
      dataDir: String): Long =
    build(spark, catalog, MvSpec(srcTable, keyCols, sumCols), viewTable, dataDir)

  /** The stored definition of `viewTable` — the spec [[build]]
    * recorded. Refuses loudly on a table that is not a materialized
    * aggregate view. Views built before the aggregate set widened
    * (sums only) read back with the newer prop groups empty. */
  def spec(catalog: SnapshotCatalog, viewTable: String): MvSpec = {
    val props = catalog.resolveSnapshot(viewTable).props
    def req(k: String): String = props.getOrElse(k,
      throw new IllegalArgumentException(
        s"$viewTable is not a materialized aggregate view (no $k prop); " +
          "build it first"))
    def cols(v: String): Seq[String] = v.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    def opt(k: String): Seq[String] = props.get(k).map(cols).getOrElse(Nil)
    MvSpec(req(SrcProp), cols(req(KeysProp)), cols(req(SumsProp)),
      opt(AvgsProp), opt(MinsProp), opt(MaxsProp), opt(NdsProp),
      props.get(WhereProp))
  }

  /** Every materialized aggregate view in the catalog: tables whose
    * current snapshot carries the MV definition — the sweep set of the
    * no-arg `CALL graft.refresh_mv()` and the node maintenance pass.
    * O(tables) metadata reads, no data I/O. */
  def views(catalog: SnapshotCatalog): Seq[String] =
    catalog.tables().filter(t =>
      catalog.currentSnapshot(t).exists(_.props.contains(SrcProp))).sorted

  /** [[refresh]] driven by the view name alone, using the definition
    * the view's own snapshots carry — the scheduled-maintenance shape
    * (`CALL graft.refresh_mv('mv')`). Returns the new watermark. */
  def refreshByName(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      viewTable: String,
      dataDir: String): Long =
    refresh(spark, catalog, spec(catalog, viewTable), viewTable, dataDir)

  /** COUNT+SUM-only refresh by explicit definition (the original S39
    * surface; prefer [[refreshByName]]). */
  def refresh(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      srcTable: String,
      viewTable: String,
      keyCols: Seq[String],
      sumCols: Seq[String],
      dataDir: String): Long =
    refresh(spark, catalog, MvSpec(srcTable, keyCols, sumCols), viewTable, dataDir)

  /** Incremental refresh: fold the change feed since the view's
    * watermark into the keyed state. Inserts add (sums/counts
    * additively, extrema via least/greatest, sketches via HLL union),
    * deletes subtract where subtraction is exact and INVALIDATE where
    * it is not (a delete at the stored extremum, any delete under a
    * sketch) — invalidated keys alone recompute from the source via a
    * semi join (cost ∝ their rows, never table size). Keys at count
    * zero drop out. No-op (and no commit) when the source hasn't
    * moved. Returns the new watermark. */
  def refresh(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      spec: MvSpec,
      viewTable: String,
      dataDir: String): Long = {
    val viewSnap = catalog.currentSnapshot(viewTable).getOrElse(
      throw new IllegalArgumentException(
        s"View $viewTable has no snapshots — run build() first"))
    val from = viewSnap.props.getOrElse(RefreshedAtProp,
      throw new IllegalStateException(
        s"View $viewTable carries no $RefreshedAtProp watermark")).toLong
    val srcSnap = catalog.currentSnapshot(spec.src).getOrElse(
      throw new IllegalArgumentException(
        s"materialized view $viewTable: source table ${spec.src} not found " +
          "(dropped or renamed since the build?)"))
    if (srcSnap.snapshotId == from) return from
    // history trimming may have expired the watermark snapshot — the
    // incremental path needs it as the diff base, so fall back to a
    // full rebuild (the dynamic-table re-initialize shape); schedule
    // expiration to retain at least the MV cadence to avoid this
    if (catalog.snapshotById(spec.src, from).isEmpty)
      return build(spark, catalog, spec, viewTable, dataDir)

    // the feed scoped to the view's predicate: a row crossing the
    // predicate boundary in an UPDATE surfaces as the one-sided insert
    // or delete the filtered fold needs
    val changes = scoped(
      catalog.changesBetween(spark, spec.src, from, Some(srcSnap.snapshotId)), spec)
    val isIns = col("_change_type") === "insert"
    val sign = when(isIns, lit(1)).otherwise(lit(-1))
    val deltaAggs: Seq[Column] =
      Seq(sum(col("__sign")).cast("long").as("__d_n")) ++
        spec.sumState.map(c =>
          sum(col(c).cast("decimal(28,6)") * col("__sign")).as(s"__d_sum_$c")) ++
        spec.avgs.map(c =>
          sum(when(col(c).isNotNull, col("__sign")).otherwise(lit(0)))
            .cast("long").as(s"__d_cnt_$c")) ++
        spec.mins.map(c => min(when(col("__ins"), col(c))).as(s"__insmin_$c")) ++
        spec.mins.map(c => min(when(!col("__ins"), col(c))).as(s"__delmin_$c")) ++
        spec.maxs.map(c => max(when(col("__ins"), col(c))).as(s"__insmax_$c")) ++
        spec.maxs.map(c => max(when(!col("__ins"), col(c))).as(s"__delmax_$c")) ++
        spec.nds.map(c => hll_sketch_agg(when(col("__ins"), col(c))).as(s"__insnd_$c")) ++
        spec.nds.map(c =>
          sum(when(!col("__ins") && col(c).isNotNull, lit(1)).otherwise(lit(0)))
            .cast("long").as(s"__delnd_$c"))
    val delta = changes
      .withColumn("__sign", sign)
      .withColumn("__ins", isIns)
      .groupBy(spec.keys.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)

    // commit strategy decides how much of the VIEW the fold reads: the
    // delta-merge path only needs stored state for the TOUCHED keys, so
    // it prunes the view scan to the files those keys can live in (one
    // tiny agg over the — churn-sized — delta for its key bounds, then
    // manifest pruning; range-clustered state makes this tight). The
    // rewrite path rewrites everything, so it must read everything.
    // Churn touching a NULL key group falls back to the rewrite path:
    // MERGE matching is ANSI null-unsafe by design (a null key never
    // matches), so routing a null group through mergeApply would insert
    // a duplicate row next to the stored one — the group is at most one
    // key, so the O(view) fallback is rare and bounded.
    // the null probe is an extra Spark action on the hot delta-merge
    // path, so it only runs when the schema says a key CAN be null —
    // non-nullable-key views keep the single-decision path job-free
    val deltaTouchesNullKey = viewSnap.files.size > 1 &&
      spec.keys.exists(k => delta.schema(k).nullable) &&
      delta.select(spec.keys.map(col): _*)
        .filter(spec.keys.map(col(_).isNull).reduce(_ || _))
        .limit(1).count() > 0
    val useMerge = viewSnap.files.size > 1 && !deltaTouchesNullKey
    val view =
      if (useMerge)
        catalog.read(spark, viewTable, filters =
          Writers.keyBoundFilters(delta.select(spec.keys.map(col): _*), spec.keys))
      else catalog.read(spark, viewTable)
    // the fold join must pair NULL key groups (GROUP BY makes null a
    // real group, but a plain key-list join never matches null = null —
    // the view's null-group state and its delta would pass each other
    // one-sided, silently dropping the group's churn), so it joins
    // null-safe and re-derives each key from whichever side is present
    val joined = view.alias("__v").join(delta.alias("__d"),
      spec.keys.map(k => col(s"__v.$k") <=> col(s"__d.$k")).reduce(_ && _),
      "full_outer")
    val foldedKeys: Seq[Column] =
      spec.keys.map(k => coalesce(col(s"__v.$k"), col(s"__d.$k")).as(k))

    // a key is INVALID exactly when its additive fold can be wrong: a
    // delete reached the stored extremum (a duplicate might keep the
    // value alive — recompute decides), or any non-null delete under an
    // HLL sketch (not retractable). Everything else folds exactly.
    val invalid: Column = (
      spec.mins.map(c => coalesce(col(s"__delmin_$c") <= col(s"min_$c"), lit(false))) ++
        spec.maxs.map(c => coalesce(col(s"__delmax_$c") >= col(s"max_$c"), lit(false))) ++
        spec.nds.map(c => coalesce(col(s"__delnd_$c") > 0, lit(false)))
      ).reduceOption(_ || _).getOrElse(lit(false))

    def dec0: Column = lit(0).cast("decimal(28,6)")
    val foldedCols: Seq[Column] =
      foldedKeys ++
        Seq((coalesce(col("n_rows"), lit(0L)) + coalesce(col("__d_n"), lit(0L)))
          .as("n_rows")) ++
        spec.sumState.map { c =>
          (coalesce(col(s"sum_$c"), dec0) + coalesce(col(s"__d_sum_$c"), dec0))
            .cast("decimal(28,6)").as(s"sum_$c")
        } ++
        spec.avgs.map { c =>
          (coalesce(col(s"cnt_$c"), lit(0L)) + coalesce(col(s"__d_cnt_$c"), lit(0L)))
            .as(s"cnt_$c")
        } ++
        // least/greatest skip NULLs: a fresh key takes the inserted
        // extremum, an untouched key keeps the stored one
        spec.mins.map(c => least(col(s"min_$c"), col(s"__insmin_$c")).as(s"min_$c")) ++
        spec.maxs.map(c => greatest(col(s"max_$c"), col(s"__insmax_$c")).as(s"max_$c")) ++
        spec.nds.map { c =>
          when(col(s"__insnd_$c").isNull, col(s"nd_$c"))
            .when(col(s"nd_$c").isNull, col(s"__insnd_$c"))
            .otherwise(hll_union(col(s"nd_$c"), col(s"__insnd_$c")))
            .as(s"nd_$c")
        }
    // `__touched` marks keys the feed actually reached (the delta side
    // of the full outer join is present) — the delta-merge commit path
    // below upserts/deletes exactly these and never rewrites the rest
    val folded = joined.select((foldedCols :+ invalid.as("__invalid") :+
      col("__d_n").isNotNull.as("__touched")): _*)

    // key-scoped recompute: ONLY the invalidated keys re-aggregate
    // from the source — a semi join prunes the scan to their rows
    // (a fully-deleted key recomputes to nothing and drops). The
    // key set is typically tiny (keys whose extremum a delete
    // touched) and AQE converts the semi join to a broadcast at
    // runtime; no explicit hint, because the adversarial case —
    // every key invalidated — is view-sized and a FORCED broadcast
    // there would OOM the driver where a shuffle join degrades
    // gracefully. The recompute reads the SAME source snapshot the
    // watermark advances to, so a concurrent commit can't skew it.
    val hasRecompute = spec.mins.nonEmpty || spec.maxs.nonEmpty || spec.nds.nonEmpty
    def recomputed: DataFrame = {
      val invalidKeys = folded.filter(col("__invalid"))
        .select(spec.keys.map(col): _*)
      // null-safe semi join: an invalidated NULL key group (a delete at
      // the null group's stored extremum) must still reach its source
      // rows, which a plain key-list semi join would never match
      aggOf(
        scoped(catalog.read(spark, spec.src, snapshotId = Some(srcSnap.snapshotId)), spec)
          .alias("__s")
          .join(invalidKeys.alias("__ik"),
            spec.keys.map(k => col(s"__s.$k") <=> col(s"__ik.$k")).reduce(_ && _),
            "left_semi"),
        spec)
    }

    // the definition carries; a refresh states only its new watermark
    val newProps = Map(RefreshedAtProp -> srcSnap.snapshotId.toString)
    if (useMerge) {
      // DELTA-MERGE refresh (the large-view shape): commit cost ∝ the
      // TOUCHED keys, never the view — new state for touched surviving
      // keys upserts, keys folded to zero rows delete (`n_rows` is
      // exactly maintainable, so existence is decidable from the fold
      // alone), and every view file outside the touched keys' range
      // keeps its FileMeta untouched (mergeApply's manifest-pruned
      // rewrite set). A 100 TB-source view with user_id keys refreshes
      // a day's churn by rewriting the files that churn lives in, not
      // the whole view.
      val upserts0 = folded
        .filter(col("__touched") && !col("__invalid") && col("n_rows") > 0)
        .drop("__invalid", "__touched")
      val upserts = if (hasRecompute) upserts0.unionByName(recomputed) else upserts0
      val stateFields = view.schema.fields.filterNot(f => spec.keys.contains(f.name))
      val dropped = folded.filter(col("__touched") && col("n_rows") <= 0)
        .select((spec.keys.map(col) ++
          stateFields.map(f => lit(null).cast(f.dataType).as(f.name))): _*)
      val source = upserts.withColumn("__drop", lit(false))
        .unionByName(dropped.withColumn("__drop", lit(true)))
      if (source.isEmpty)
        // the source moved but nothing under the view's scope changed:
        // advance the watermark METADATA-ONLY, every file kept
        catalog.commit(spark, viewTable, Nil,
          props = Map(SnapshotCatalog.OperationProp -> SnapshotCatalog.OpRewrite) ++
            newProps,
          intent = CommitIntent(Some(viewSnap.snapshotId)))
      else
        Writers.mergeApply(spark, catalog, viewTable, source, spec.keys,
          matched = Seq(
            Writers.MergeDelete(Some(col("__drop"))),
            Writers.MergeUpdateAll(Some(!col("__drop")))),
          notMatched = Seq(Writers.MergeInsertAll(Some(!col("__drop")))),
          dataDir = dataDir,
          props = newProps)
      return srcSnap.snapshotId
    }

    val merged =
      if (!hasRecompute)
        folded.drop("__invalid", "__touched").filter(col("n_rows") > 0)
      else
        folded.filter(!col("__invalid")).drop("__invalid", "__touched")
          .filter(col("n_rows") > 0)
          .unionByName(recomputed)
    writeReplace(catalog, viewTable, Some(viewSnap), merged, spec.keys, dataDir, newProps)
    srcSnap.snapshotId
  }
}
