package graft.queries

import graft.Tables
import graft.cache.{CacheKey, LruPolicy, TableCache}
import graft.functions.Exact._
import graft.meta.{DaysTransform, InString, RangeNum, SnapshotCatalog}
import graft.sinks.Writers
import graft.sql.QueryEngine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Oracle-checked queries that run through the engine's cache, snapshot
  * and SQL layers — each must produce byte-identical results to the
  * plain-scan oracle, proving the layers are transparent.
  *
  * The catalogs, SQL roots, caches and sessions these queries read are
  * [[Fixtures]] entries: table maintenance (commits, merges, DDL) done
  * once per key per JVM, so the query measures the read.
  */
object Engine {

  private def cacheFor(sessionDir: String): TableCache =
    Fixtures("cache", sessionDir)(new TableCache(policy = LruPolicy))

  // Memoized QueryEngine per (session, dir): registration loads 10 tables
  // and binds temp views, a per-call cost a long-lived engine pays once.
  // Temp views are session-global, so when a DIFFERENT dir was registered
  // last on the same session the engine re-registers before serving.
  private val activeDir = mutable.Map.empty[SparkSession, String]
  private[graft] def engineFor(s: SparkSession, dir: String): QueryEngine = {
    val eng = Fixtures("engine", (s, dir))(new QueryEngine(s, dir))
    activeDir.synchronized {
      if (!activeDir.get(s).contains(dir)) {
        eng.registerFresh()
        activeDir.put(s, dir)
      }
    }
    eng
  }

  /** `s`'s extensions-enabled sibling session (one per base session —
    * the `spark.sql.extensions` deployment a SQL-only user runs),
    * pointed at the catalog under `root`. */
  private def sqlAt(s: SparkSession, root: String): SparkSession = {
    val es = Fixtures("ext", s)(org.apache.spark.sql.GraftColumnShim.sessionWithExtensions(
      s, e => new graft.GraftExtensions().apply(e)))
    es.conf.set(graft.sql.GraftSqlResolution.RootConf, root)
    es
  }

  // Memoized snapshot-catalog commit per sf-dir: the commit (full stats
  // scan) is table maintenance, not the read path; a real deployment
  // commits once per ingest, then serves many pruned reads.
  private def snapCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("snap", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      cat.commit(s, "lineitem", Seq(Tables.path(dir, "lineitem")))
      cat
    }

  // Memoized merged-orders catalog per sf-dir: the snapshot build + MERGE
  // INTO are table maintenance (a deployment merges once per upsert
  // batch); the benched/verified path is the read of the merged state.
  private def mergedCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("merge", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      val orders = Tables.orders(s, dir)
      // 4 range-partitioned files so the merge's key-bound pruning has
      // real file ranges to work against
      Writers.writeRangedSnapshot(cat, "orders", orders, tmp, "o_orderkey", 4)
      val updates = orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
        .withColumn("o_orderstatus", lit("U"))
      val inserts = orders.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
        .withColumn("o_totalprice", lit(1.0))
        .withColumn("o_orderstatus", lit("N"))
      Writers.mergeInto(s, cat, "orders", updates.unionByName(inserts),
        Seq("o_orderkey"), tmp)
      cat
    }

  // Memoized MoR-deleted customer catalog per sf-dir: the ranged write +
  // two stacked position-delete commits are table maintenance; the
  // benched/verified path is the masked read (broadcast anti-join apply).
  private def morCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("mor", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      Writers.writeRangedSnapshot(cat, "customer", Tables.customer(s, dir),
        tmp, "c_custkey", 4)
      // stacked deletes: a value predicate over the whole table, then a
      // key range whose prune filter bounds the marking scan to one file
      Writers.deleteWhereMoR(s, cat, "customer", col("c_acctbal") < 0, Nil, tmp)
      Writers.deleteWhereMoR(s, cat, "customer",
        col("c_custkey").between(100, 200),
        Seq(RangeNum("c_custkey", 100.0, 200.0)), tmp)
      cat
    }

  /** Read the table state under outstanding merge-on-read position
    * deletes (SURVEY §2 S40): two stacked delete files mask rows with
    * ZERO data-file rewrites, the scan applies them as a broadcast
    * anti-join, and the visible state must equal the oracle's
    * plain-WHERE formulation exactly. */
  def qMorRead(s: SparkSession, dir: String): DataFrame = {
    val cat = morCatFor(s, dir)
    cat.read(s, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), sumMoney(col("c_acctbal")).as("sum_bal"))
  }

  // Memoized TTL-swept events catalog per sf-dir: the ranged write + the
  // retention sweep are maintenance; the benched/verified path is the
  // masked read of the surviving (recent) rows.
  private val TtlCutoffMs = java.sql.Timestamp.valueOf("2024-01-08 00:00:00").getTime
  private def ttlCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("ttl", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      Writers.writeRangedSnapshot(cat, "events", Tables.events(s, dir), tmp, "ts", 4)
      Writers.expireRowsOlderThan(s, cat, "events", "ts", TtlCutoffMs, tmp)
      cat
    }

  /** Read an events table after a TTL retention sweep (SURVEY §2 S40's
    * `expireRowsOlderThan`): rows before the cutoff are MoR-masked (zero
    * data-file rewrites, live tail pruned out of the marking scan), and
    * the visible aggregate must equal the oracle's plain-WHERE form. */
  def qTtlRead(s: SparkSession, dir: String): DataFrame = {
    val cat = ttlCatFor(s, dir)
    cat.read(s, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("sum_value"))
  }

  // Memoized co-bucketed lineitem/orders tables per (session, dir): the
  // bucketed write is the one-time layout investment (like an ingest
  // repartition); the benched/verified path is the exchange-free join.
  private def bucketedFor(s: SparkSession, dir: String): (String, String) =
    Fixtures("bucketed", (s, dir)) {
      val tag = Integer.toHexString(dir.hashCode).takeWhile(_ != '-')
      val lt = s"graft_bkt_l_$tag"
      val ot = s"graft_bkt_o_$tag"
      // a previous JVM may have left the managed location on disk while
      // this session's catalog has never heard of the table — drop both
      // sides of that split-brain before (re)creating
      def fresh(name: String)(write: => Unit): Unit =
        if (!s.catalog.tableExists(name)) {
          s.sql(s"DROP TABLE IF EXISTS $name")
          val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
          SnapshotCatalog.deleteRecursively(java.nio.file.Paths.get(wh, name))
          write
        }
      fresh(lt)(Writers.writeBucketed(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice")), lt, 8, "l_orderkey"))
      fresh(ot)(Writers.writeBucketed(Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority")), ot, 8, "o_orderkey"))
      (lt, ot)
    }

  /** Join two CO-BUCKETED tables on their bucket key (SURVEY §2 S22 at
    * the query level): both sides were pre-shuffled once at write time,
    * so the join itself plans with NO Exchange on either side — the
    * layout lever that turns every repeated fact-fact join at 100 TB
    * from a full shuffle into local sorted merges. Result equals the
    * plain-scan oracle join. */
  def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (lt, ot) = bucketedFor(s, dir)
    s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), sumMoney(col("l_extendedprice")).as("sum_price"))
  }

  /** Read the table state after a MERGE INTO upsert (SURVEY §2 S32):
    * matched keys carry the source version, unmatched source keys are
    * inserted, everything else survives — the whole merged state must be
    * byte-identical to the oracle's declarative UNION formulation. */
  def qMergeRead(s: SparkSession, dir: String): DataFrame = {
    val cat = mergedCatFor(s, dir)
    cat.read(s, "orders")
      .select(col("o_orderkey"), col("o_totalprice").as("price"),
        col("o_orderstatus").as("status"))
  }

  /** Aggregate over a TableCache-persisted lineitem (SURVEY §2 S5):
    * second run within a session is a cache hit on the persisted plan. */
  def qCachedAgg(s: SparkSession, dir: String): DataFrame = {
    val tc = cacheFor(dir)
    val l = tc.getOrLoad(CacheKey("lineitem", columns = Set("*"), predicate = dir))(
      Tables.lineitem(s, dir))
    l.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        sumMoney(col("l_extendedprice")).as("sum_price"),
        sumMoney(col("l_quantity")).as("sum_qty"))
  }

  /** Read lineitem through a freshly-committed SnapshotCatalog manifest
    * (SURVEY §2 S16) with a file-level range filter, then row-filter and
    * aggregate; equals the plain-scan oracle. */
  def qSnapshotRead(s: SparkSession, dir: String): DataFrame = {
    val cat = snapCatFor(s, dir)
    cat.read(s, "lineitem", filters = Seq(RangeNum("l_quantity", 40.0, Double.MaxValue)))
      .filter(col("l_quantity") > 40)
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"), sumMoney(col("l_extendedprice")).as("sum_price"))
  }

  // Memoized bloom-indexed customer catalog per sf-dir, one file per
  // market segment: the split + bloom commit is the one-time layout
  // investment; the benched/verified path is the IN-list pruned read.
  private def inlistCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("inlist", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      val c = Tables.customer(s, dir)
      val segs = c.select(col("c_mktsegment")).distinct()
        .collect().map(_.getString(0)).sorted
      val paths = segs.zipWithIndex.map { case (seg, i) =>
        val sub = s"$tmp/seg_$i"
        c.filter(col("c_mktsegment") === seg).coalesce(1).write.parquet(sub)
        new java.io.File(sub).listFiles()
          .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
      }
      cat.commit(s, "customer", paths.toSeq, bloomColumns = Seq("c_mktsegment"))
      cat
    }

  /** IN-list pruned read (SURVEY §2 S4/S13 at the query level): the
    * multi-tenant id-list scan — `InString` keeps only the files whose
    * partition values / stats / blooms might hold ANY listed segment
    * (here 2 of the segment files; blooms make it exact-file on this
    * layout), the row filter restores exactness, and the whole result
    * equals the plain-scan oracle. */
  def qInlistRead(s: SparkSession, dir: String): DataFrame = {
    val cat = inlistCatFor(s, dir)
    val wanted = Seq("BUILDING", "MACHINERY")
    cat.read(s, "customer", filters = Seq(InString("c_mktsegment", wanted)))
      .filter(col("c_mktsegment").isin(wanted: _*))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), sumMoney(col("c_acctbal")).as("sum_bal"))
  }

  // Memoized days(ts)-partitioned events catalog per sf-dir: the
  // transform-partitioned layout is the one-time investment; the benched/
  // verified path is the hidden-partition-pruned time-range read.
  private val daysSpec = Seq(DaysTransform("ts"))
  private def daysCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("days", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      Writers.writeTransformedSnapshot(cat, "events", Tables.events(s, dir),
        s"$tmp/data", daysSpec)
      cat
    }

  /** Hidden-partition-pruned time-range read (SURVEY §2 S35 at the query
    * level): the reader states an epoch-millis range on RAW `ts`; the
    * days(ts) transform maps it to a partition-directory range, so only
    * the ~7 day-partitions of a 30-day table are opened; the row filter
    * restores exactness and the result equals the plain-scan oracle. */
  def qDaysRead(s: SparkSession, dir: String): DataFrame = {
    val cat = daysCatFor(s, dir)
    val utc = java.time.ZoneOffset.UTC
    val loMs = java.time.LocalDate.parse("2024-01-10").atStartOfDay(utc).toInstant.toEpochMilli
    val hiMs = java.time.LocalDate.parse("2024-01-17").atStartOfDay(utc).toInstant.toEpochMilli
    Writers.readTransformed(cat, s, "events", daysSpec,
        Seq(RangeNum("ts", loMs.toDouble, hiMs.toDouble)))
      .filter(col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-17").cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("sum_value"))
  }

  // Memoized z-order-clustered orders catalog per sf-dir: the morton
  // layout on (o_totalprice, o_custkey) is the one-time investment; the
  // benched/verified path is the two-dimensional stats-pruned read.
  private def zorderCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("zorder", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      Writers.writeZOrderedSnapshot(cat, "orders", Tables.orders(s, dir),
        s"$tmp/data", Seq("o_totalprice", "o_custkey"), nFiles = 16)
      cat
    }

  /** Z-order-pruned two-dimensional range read (SURVEY §2 at the query
    * level, on the S-layer morton layout): after clustering on
    * (o_totalprice, o_custkey), BOTH range predicates prune files
    * through plain min/max stats — each file covers a small
    * hyper-rectangle, so a 2-D selection opens a handful of the 16
    * files where a linear layout would open nearly all; the row filter
    * restores exactness and the result equals the plain-scan oracle. */
  def qZorderRead(s: SparkSession, dir: String): DataFrame = {
    val cat = zorderCatFor(s, dir)
    cat.read(s, "orders", filters = Seq(
        RangeNum("o_totalprice", 100000.0, 200000.0),
        RangeNum("o_custkey", 0.0, 300.0)))
      .filter(col("o_totalprice") >= 100000.0 && col("o_totalprice") <= 200000.0 &&
        col("o_custkey") <= 300)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), sumMoney(col("o_totalprice")).as("sum_price"))
  }

  // Memoized sorted-rewrite events catalog per sf-dir (SURVEY §2 S59 at
  // the query level): a days(ts)-partitioned layout built from three
  // interleaved appends — every file spans the whole `value` range, the
  // degradation rewrite_sorted exists to fix — then re-clustered on
  // `value` through the SQL CALL itself. The benched/verified path is a
  // two-dimensionally pruned range read: the day predicate prunes via
  // partition values (which the partition-aware rewrite PRESERVES) and
  // the value predicate prunes via the restored per-file min/max.
  private def sortedCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("sorted", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      val ev = Tables.events(s, dir)
      (0 until 3).foreach { i =>
        Writers.writeTransformedSnapshot(cat, "events",
          ev.filter(pmod(col("event_id"), lit(3)) === i), s"$tmp/append$i", daysSpec)
      }
      val es = sqlAt(s, tmp)
      es.sql("CALL graft.rewrite_sorted('events', 'value', files => 60)")
      cat
    }

  /** Range read over a `CALL graft.rewrite_sorted` re-clustered layout
    * (SURVEY §2 S59 at the query level): after the partition-aware
    * rewrite, the time predicate still prunes whole day partitions from
    * manifest partition values AND the value predicate prunes within
    * each day from the re-sorted files' min/max; the row filter
    * restores exactness and the result equals the plain-scan oracle. */
  def qSortedRead(s: SparkSession, dir: String): DataFrame = {
    val cat = sortedCatFor(s, dir)
    val utc = java.time.ZoneOffset.UTC
    val loMs = java.time.LocalDate.parse("2024-01-08").atStartOfDay(utc).toInstant.toEpochMilli
    val hiMs = java.time.LocalDate.parse("2024-01-15").atStartOfDay(utc).toInstant.toEpochMilli
    Writers.readTransformed(cat, s, "events", daysSpec,
        Seq(RangeNum("ts", loMs.toDouble, hiMs.toDouble), RangeNum("value", 50.0, 150.0)))
      .filter(col("ts") >= lit("2024-01-08").cast("timestamp") &&
        col("ts") < lit("2024-01-15").cast("timestamp") &&
        col("value") >= 50.0 && col("value") <= 150.0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sumMoney(col("value")).as("sum_value"))
  }

  // Memoized sketch-indexed customer catalog per sf-dir (SURVEY §2 S37).
  private val sketchedCols =
    Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  private def sketchCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("sketch", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      Writers.writeSnapshot(cat, "customer",
        // hash-partitioned, not round-robin: which rows share a file (and
        // so each merged per-file HLL sketch) is then the same every run
        Tables.customer(s, dir).repartition(8, col("c_custkey")), s"$tmp/data",
        sketchColumns = sketchedCols)
      cat
    }

  /** Metadata-only table profile (SURVEY §2 S37 at the query level): per
    * column, the NDV estimate from merged manifest HLL sketches plus the
    * manifest row count — the profiling sweep `q_profile` answers by
    * scanning, answered here WITHOUT opening a data file. Rows-only by
    * design (estimates); `SketchStatsSpec` pins the accuracy. */
  def qMetaProfile(s: SparkSession, dir: String): DataFrame = {
    val cat = sketchCatFor(s, dir)
    val snap = cat.currentSnapshot("customer").get
    import s.implicits._
    sketchedCols.map { c =>
      (c, cat.approxCountDistinct(s, "customer", c).getOrElse(-1L), snap.totalRows)
    }.toDF("column", "ndv_est", "total_rows")
  }

  // Memoized sketch-indexed ORDERS catalog on LOW-cardinality columns —
  // the q_mv_nd exact-grid trick applied to S37's metadata sweep: at 3-
  // and 5-value cardinality every per-file HLL sketch is sparse (stores
  // its coupons exactly) and the sidecar merge stays sparse, so the
  // metadata-only estimate IS the exact distinct count. The second
  // commit passes NO sketchColumns — it must re-index through the
  // sticky-metadata path, and approxCountDistinct REFUSES (None → -1,
  // an instant hash mismatch) if any non-empty file lacks a sketch, so
  // the oracle also proves index maintenance across commits.
  private def metaExactCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("metaexact", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      val o = Tables.orders(s, dir)
      Writers.writeSnapshot(cat, "orders",
        o.filter(col("o_orderkey") % 2 === 0).repartition(4), s"$tmp/data",
        sketchColumns = Seq("o_orderstatus", "o_orderpriority"))
      Writers.writeSnapshot(cat, "orders",
        o.filter(col("o_orderkey") % 2 =!= 0).repartition(4), s"$tmp/data")
      cat
    }

  /** Metadata-only NDV profile on an EXACT grid (the oracle twin of
    * [[qMetaProfile]]'s rows-only claim): merged manifest HLL sketches
    * over 3- and 5-value columns answer WITHOUT opening a data file,
    * and at that cardinality the sparse sketches are exact — so the
    * no-scan sweep hash-matches DuckDB's exact COUNT(DISTINCT) profile
    * of the same final table state. */
  def qMetaProfileExact(s: SparkSession, dir: String): DataFrame = {
    val cat = metaExactCatFor(s, dir)
    val snap = cat.currentSnapshot("orders").get
    import s.implicits._
    Seq("o_orderstatus", "o_orderpriority").map { c =>
      (c, cat.approxCountDistinct(s, "orders", c).getOrElse(-1L), snap.totalRows)
    }.toDF("column_name", "ndv", "n_rows")
  }

  // Memoized incrementally-maintained view per sf-dir (SURVEY §2 S39):
  // base commit + append + CDC-folded refresh happen once; the benched/
  // verified path reads the view — which must equal a from-scratch
  // aggregate of the WHOLE source (the oracle's plain GROUP BY).
  private def mvCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("mv", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      val o = Tables.orders(s, dir)
      Writers.writeSnapshot(cat, "orders", o.filter(col("o_orderkey") % 2 === 0), s"$tmp/data")
      graft.sinks.MaterializedAgg.build(s, cat, "orders", "orders_mv",
        Seq("o_orderstatus"), Seq("o_totalprice"), s"$tmp/view")
      Writers.writeSnapshot(cat, "orders", o.filter(col("o_orderkey") % 2 =!= 0), s"$tmp/data")
      graft.sinks.MaterializedAgg.refresh(s, cat, "orders", "orders_mv",
        Seq("o_orderstatus"), Seq("o_totalprice"), s"$tmp/view")
      cat
    }

  /** Incrementally-maintained aggregate view read (SURVEY §2 S39 at the
    * query level): the view was built on half the source and refreshed
    * from the other half's change feed — reading it must equal the
    * oracle's from-scratch GROUP BY over the full table. */
  def qMvRead(s: SparkSession, dir: String): DataFrame = {
    val cat = mvCatFor(s, dir)
    cat.read(s, "orders_mv")
      .select(col("o_orderstatus"), col("n_rows"),
        col("sum_o_totalprice").cast("double").as("sum_price"))
  }

  // Memoized partition-overwritten orders catalog per sf-dir: the
  // partitioned write + the dynamic overwrite are table maintenance;
  // the benched/verified path is the read of the restated state.
  private def owCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("ow", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      // partition column duplicated into a derived `p_pri` (the hidden-
      // partitioning idiom: the path segment carries p_pri, the data
      // files keep every orders column)
      val orders = Tables.orders(s, dir).withColumn("p_pri", col("o_orderpriority"))
      Writers.writePartitionedSnapshot(cat, "orders", orders, s"$tmp/base", Seq("p_pri"))
      // restate ONE partition: urgent orders with even keys survive at
      // +100.0; odd-key urgent rows are dropped by the overwrite (a
      // partition is replaced wholesale, not upserted)
      val restated = orders
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
      Writers.overwritePartitions(cat, "orders", restated, s"$tmp/ow1", Seq("p_pri"))
      cat
    }

  /** Read after a dynamic partition overwrite (SURVEY §2 S46): the
    * `1-URGENT` partition was replaced wholesale by a restated subset
    * (+100.0 on even keys only), every other partition untouched — the
    * aggregate over the visible state must equal the oracle's
    * declarative UNION of kept + restated rows. */
  def qOverwriteRead(s: SparkSession, dir: String): DataFrame = {
    val cat = owCatFor(s, dir)
    cat.read(s, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sumMoney(col("o_totalprice")).as("sum_price"))
  }

  // Memoized range-clustered orders catalog per sf-dir: the clustered
  // write is table maintenance; the benched/verified path is the
  // stats-pruned top-k read.
  private def topkCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("topk", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      Writers.writeRangedSnapshot(cat, "orders", Tables.orders(s, dir),
        tmp, "o_totalprice", 8)
      cat
    }

  /** ORDER BY ... LIMIT k as a METADATA operation (SURVEY §2 S47): on
    * the range-clustered layout, manifest min/max + null counts prove
    * which files can contribute to the top 100, the scan reads only
    * those, and the result must be row-identical to the oracle's full
    * sort (deterministic tiebreak on the key). */
  def qTopkPruned(s: SparkSession, dir: String): DataFrame = {
    val cat = topkCatFor(s, dir)
    cat.topKByStats(s, "orders", "o_totalprice", 100,
      extraOrder = Seq(col("o_orderkey")))
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  // Memoized schema-evolved orders catalog per sf-dir: half the table
  // written under the ORIGINAL column names, then a metadata-only
  // rename + drop, then the other half under the NEW names — the read
  // must stitch both physical eras into one logical schema.
  private def sevCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("sev", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      val orders = Tables.orders(s, dir)
      Writers.writeSnapshot(cat, "orders", orders.filter(col("o_orderkey") % 2 === 0), tmp)
      cat.renameColumn("orders", "o_totalprice", "total_price")
      cat.dropColumn("orders", "o_orderpriority")
      Writers.writeSnapshot(cat, "orders",
        orders.filter(col("o_orderkey") % 2 === 1)
          .withColumnRenamed("o_totalprice", "total_price").drop("o_orderpriority"), tmp)
      cat
    }

  // Memoized widen-era catalog per sf-dir: era 1 holds even orders
  // under an INT key (kept in range via pmod so the 100x scale-ups
  // stay exact), the key widens to BIGINT, era 2 appends odd orders
  // shifted past the int range — so the query only matches the oracle
  // if old files cast up exactly AND post-widen values really use the
  // wide type.
  private def widenCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("widen", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      val o = Tables.orders(s, dir)
      Writers.writeSnapshot(cat, "orders",
        o.filter(col("o_orderkey") % 2 === 0)
          .select(pmod(col("o_orderkey"), lit(1000000000L)).cast("int").as("wkey"),
            col("o_orderstatus")), tmp)
      cat.widenColumn("orders", "wkey", org.apache.spark.sql.types.LongType)
      Writers.writeSnapshot(cat, "orders",
        o.filter(col("o_orderkey") % 2 === 1)
          .select((pmod(col("o_orderkey"), lit(1000000000L)) + 5000000000L).as("wkey"),
            col("o_orderstatus")), tmp)
      cat
    }

  /** Read across a type-widening evolution (int→long, Iceberg type
    * promotion): era-1 files scan under their stored INT type and cast
    * up at scan time; era-2 rows carry values past the int range. The
    * aggregate over the mixed-era table must equal the oracle's single
    * computation over the raw data. */
  def qWidenRead(s: SparkSession, dir: String): DataFrame = {
    val cat = widenCatFor(s, dir)
    cat.read(s, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), sum(col("wkey")).as("sum_key"))
      .orderBy(col("o_orderstatus"))
  }

  // Memoized default-era catalog per sf-dir (SURVEY §2 S61): era 1 is
  // written BEFORE the column exists (reads the ADD-time
  // initial-default 0.05), era 2 appends after `SET DEFAULT 0.10`
  // while OMITTING the column (write-default stamps the files — no
  // bytes), era 3 writes explicit values. Both DDLs go through the SQL
  // surface. The aggregate only matches the oracle if each era serves
  // ITS literal — a null fill or a wrong-era default breaks the sum.
  private def defCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("def", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      Writers.writeSnapshot(cat, "orders",
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0), tmp)
      val es = sqlAt(s, tmp)
      es.sql("ALTER TABLE orders ADD COLUMNS (o_disc DOUBLE DEFAULT 0.05)")
      es.sql("ALTER TABLE orders ALTER COLUMN o_disc SET DEFAULT 0.10")
      Writers.writeSnapshot(cat, "orders",
        o.filter(pmod(col("o_orderkey"), lit(4)) === 1), tmp)
      Writers.writeSnapshot(cat, "orders",
        o.filter(pmod(col("o_orderkey"), lit(4)) === 3)
          .withColumn("o_disc", lit(0.02)), tmp)
      cat
    }

  /** Read across column-default eras (SURVEY §2 S61 at the query
    * level): pre-add rows serve the initial-default, omitted-column
    * appends serve the write-default in force at THEIR commit, explicit
    * values win — the discounted-price aggregate equals the oracle's
    * single CASE over the raw table. All three eras are metadata stamps
    * (zero data bytes written for the defaults). */
  def qDefaultRead(s: SparkSession, dir: String): DataFrame = {
    val cat = defCatFor(s, dir)
    cat.read(s, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(money(col("o_totalprice") * (lit(1.0) - col("o_disc"))))
          .cast("double").as("sum_net"))
  }

  /** Read across a column rename + drop (SURVEY §2 S48): files written
    * under the old physical names alias back through their manifest
    * name maps, new-era files scan directly, and the combined aggregate
    * over the LOGICAL schema must equal the oracle's plain read of the
    * whole table. */
  def qRenameRead(s: SparkSession, dir: String): DataFrame = {
    val cat = sevCatFor(s, dir)
    cat.read(s, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), sumMoney(col("total_price")).as("sum_price"))
  }

  /** Data-quality expectation sweep (SURVEY §2 S45 at the query level):
    * six rules — null check, range, anchored regex, SQL predicate, and
    * two key-uniqueness audits — evaluated in ONE aggregate over ONE
    * scan of orders; the `(rule, violations)` report must match the
    * oracle's per-rule conditional counts exactly. This is the audit
    * step of write-audit-publish run as a standalone operator. */
  def qExpectations(s: SparkSession, dir: String): DataFrame = {
    import graft.sinks.{Expectations, InRange, MatchesRegex, NotNull, SqlCheck, UniqueKey}
    Expectations.check(Tables.orders(s, dir), Seq(
      NotNull("o_custkey"),
      InRange("o_totalprice", 5000.0, 400000.0),
      MatchesRegex("o_orderpriority", "[1-3]-[A-Z ]+"),
      SqlCheck("status_known", "o_orderstatus IN ('F','O')"),
      UniqueKey(Seq("o_custkey")),
      UniqueKey(Seq("o_orderkey"))))
  }

  // Memoized time-travel catalog per sf-dir (two snapshots of orders:
  // even keys, then odd keys appended; snapshot 1 tagged 'v1'). The
  // benched path is the SQL itself; layout cost is one-time, like the
  // other *_read queries.
  private def ttRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("ttsql", dir) { root =>
      val dataDir = s"$root/data"
      val cat = new SnapshotCatalog(root)
      val o = Tables.orders(s, dir)
      Writers.writeSnapshot(cat, "orders", o.filter(expr("o_orderkey % 2 = 0")), dataDir)
      cat.tag("orders", "v1", 1L)
      Writers.writeSnapshot(cat, "orders", o.filter(expr("o_orderkey % 2 <> 0")), dataDir)
      root
    }

  /** SQL time travel through SparkSessionExtensions (SURVEY §2 S50 at
    * the query level): `VERSION AS OF` a TAG and the current head, in
    * one statement, on a session whose only access to the catalog is
    * `spark.sql.extensions` + `spark.graft.catalog.root` — no code API.
    * The tagged epoch must equal the oracle's even-key slice and the
    * head the whole table. */
  def qSqlTimetravel(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, ttRootFor(s, dir)).sql(
      """SELECT 'v1' AS epoch, o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM orders VERSION AS OF 'v1'
        |GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'head' AS epoch, o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY o_orderstatus""".stripMargin)

  // Memoized view catalog per sf-dir (SURVEY §2 S62): orders committed,
  // then TWO stacked views created through SQL DDL — an aggregate view
  // over the table and a view over that view. The benched/verified path
  // reads the TOP view, so resolution must expand both stored
  // definitions and still push the table read through the catalog scan.
  private def viewRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("views", dir) { root =>
      val cat = new SnapshotCatalog(root)
      Writers.writeSnapshot(cat, "vorders",
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
        s"$root/data")
      val es = sqlAt(s, root)
      es.sql("CREATE VIEW graft.pri_sum AS " +
        "SELECT o_orderpriority, count(*) AS n_orders, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price " +
        "FROM vorders WHERE o_totalprice > 50000.0 GROUP BY o_orderpriority")
      es.sql("CREATE VIEW graft.pri_top AS " +
        "SELECT o_orderpriority, n_orders, sum_price FROM pri_sum WHERE n_orders > 0")
      // a REPLACED view: version 1 is the real aggregate, version 2 a
      // deliberately different shape — VERSION AS OF 1 must still serve
      // the original definition (over current data)
      es.sql("CREATE VIEW graft.pri_ver AS " +
        "SELECT o_orderpriority, count(*) AS n_orders FROM vorders " +
        "GROUP BY o_orderpriority")
      es.sql("CREATE OR REPLACE VIEW graft.pri_ver AS " +
        "SELECT 'replaced' AS marker")
      root
    }

  /** Stored-SQL-view read (SURVEY §2 S62 at the query level): the query
    * names only the TOP view of a two-view stack; both definitions
    * expand at resolution time and the result equals the oracle's
    * inline SQL over the raw table. */
  def qViewRead(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, viewRootFor(s, dir)).sql("SELECT o_orderpriority, n_orders, sum_price FROM pri_top")

  // Memoized changelog catalog per sf-dir: orders committed RANGED on
  // o_orderkey (s1), then a COW update (price bump, k <= 2000 ∧ k%7=0)
  // and a MoR delete (2000 < k <= 4000 ∧ k%11=0) — both key-bounded
  // WITH prune filters, so the rewrite touches only the files whose
  // ranges intersect: the partition-at-a-time mutation shape a 100 TB
  // deployment actually runs. An unbounded update would make the feed
  // inherently O(2·table) (before EXCEPT after over everything) — the
  // bounded form keeps serve cost ∝ the mutated slice, which is the
  // scale property worth gating.
  private def changelogCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("changelog", dir) { root =>
      val cat = new SnapshotCatalog(root)
      val dd = s"$root/data"
      Writers.writeRangedSnapshot(cat, "chorders",
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        dd, "o_orderkey", 16)
      Writers.updateWhere(s, cat, "chorders",
        Seq("o_totalprice" -> (col("o_totalprice") + lit(100.0))),
        col("o_orderkey") <= 2000L && pmod(col("o_orderkey"), lit(7)) === 0,
        Seq(RangeNum("o_orderkey", Double.NegativeInfinity, 2000.0)), dd)
      Writers.deleteWhereMoR(s, cat, "chorders",
        col("o_orderkey") > 2000L && col("o_orderkey") <= 4000L &&
          pmod(col("o_orderkey"), lit(11)) === 0,
        Seq(RangeNum("o_orderkey", 2000.0, 4000.0)), dd)
      cat
    }

  /** NET row-level change feed (S25/S56 `changelog` at the query level):
    * the feed from the first snapshot to current must equal the pure
    * set algebra the oracle replays — deletes = initial EXCEPT final,
    * inserts = final EXCEPT initial — across a key-bounded COW update
    * and a key-bounded MoR delete. The first CDC surface with a full
    * value-level oracle, not just spec reconciliation; the scale gate
    * holds because the feed reads only the files the mutations touched
    * (manifest-pruned rewrite + masked files), never the whole table. */
  def qChangelog(s: SparkSession, dir: String): DataFrame = {
    val cat = changelogCatFor(s, dir)
    cat.changesBetween(s, "chorders", fromSnapshotId = 1L)
      .select(col("_change_type").as("change"),
        col("o_orderkey").as("k"),
        col("o_totalprice").as("p"))
  }

  /** SQL catalog discovery (S63): DESCRIBE over a catalog table renders
    * one row per column with the declared type — metadata-sized, zero
    * data I/O. The oracle pins the exact rendering with a literal
    * VALUES relation (a schema surface has no algebra to replay; the
    * pin is the regression gate). */
  def qSqlDiscovery(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, viewRootFor(s, dir)).sql("DESCRIBE TABLE graft.vorders")

  /** Historical view definition (S62, the Iceberg view-spec version
    * list): `VERSION AS OF 1` must serve the ORIGINAL definition over
    * CURRENT table data even though the current version was replaced
    * with an entirely different shape. The oracle replays version 1's
    * SQL inline over the raw table. */
  def qViewVersion(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, viewRootFor(s, dir))
      .sql("SELECT o_orderpriority, n_orders FROM pri_ver VERSION AS OF 1")

  // Memoized rename catalog per sf-dir: orders committed under one name,
  // mutated (so the read crosses a rewrite era), tagged, then RENAMED —
  // all through SQL. The rename is a metadata-only move (data files are
  // path-addressed and stay put); the benched/verified path is the read
  // under the NEW name, which must serve the same bytes.
  private def renameTblRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("rentbl", dir) { root =>
      val cat = new SnapshotCatalog(root)
      val dd = s"$root/data"
      Writers.writeRangedSnapshot(cat, "renorders",
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
        dd, "o_orderkey", 8)
      val es = sqlAt(s, root)
      // a key-bounded COW update so the renamed read crosses a rewrite
      // era (rename must preserve operation lineage, not just files)
      es.sql("UPDATE renorders SET o_totalprice = o_totalprice + 25.0 " +
        "WHERE o_orderkey <= 1000")
      es.sql("ALTER TABLE renorders RENAME TO renamed_orders")
      root
    }

  /** Table rename (S64, r13): the read under the NEW name must equal the
    * oracle's replay of the pre-rename state — same rows, same mutation
    * era, zero data movement (the rename moved metadata only). */
  def qTableRenameRead(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, renameTblRootFor(s, dir)).sql(
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM renamed_orders GROUP BY o_orderpriority""".stripMargin)

  // Memoized WAP-SQL catalog per sf-dir: the whole write-audit-publish
  // loop driven from PURE SQL — a clean batch staged and gate-published,
  // a dirty batch staged, refused by the gate and LEFT STAGED (the
  // audit-trail contract). Stage/audit/publish are table maintenance
  // (one batch write + metadata commits); the benched/verified path is
  // the read of the published state, which must show the clean batch
  // and never the dirty one.
  private def wapRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("wapsql", dir) { root =>
      val cat = new SnapshotCatalog(root)
      val dd = s"$root/data"
      Writers.writeRangedSnapshot(cat, "waporders",
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
        dd, "o_orderkey", 8)
      val es = sqlAt(s, root)
      val clean = es.sql("CALL graft.stage('waporders', " +
        "'SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice + 0.5 " +
        "FROM waporders WHERE o_orderkey <= 800')").head().getString(0)
      val ok = es.sql(s"CALL graft.publish_if_clean('waporders', '$clean', " +
        "'o_orderstatus IS NOT NULL')").collect()
      require(ok.forall(_.getBoolean(2)), "clean WAP batch must publish")
      val dirty = es.sql("CALL graft.stage('waporders', " +
        "'SELECT o_orderkey + 20000000, CAST(NULL AS STRING), o_totalprice " +
        "FROM waporders WHERE o_orderkey <= 400')").head().getString(0)
      val refused = es.sql(s"CALL graft.publish_if_clean('waporders', '$dirty', " +
        "'o_orderstatus IS NOT NULL')").collect()
      require(refused.forall(!_.getBoolean(2)), "dirty WAP batch must refuse")
      root
    }

  /** SQL write-audit-publish (S38+S45+S56 closed from pure SQL, r13):
    * the published state equals base rows plus the gate-passed batch —
    * and NOTHING of the refused batch (its NULL statuses would surface
    * as an extra group and fail the hash). The oracle replays the clean
    * publish as set algebra over the raw table. */
  def qWapSql(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, wapRootFor(s, dir)).sql(
      """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CASE WHEN o_orderkey >= 10000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_published
        |FROM waporders GROUP BY o_orderstatus""".stripMargin)

  // Memoized SQL-MV catalog per sf-dir: the S39 incremental aggregate
  // view driven ENTIRELY from SQL (r14) — create_mv on the even-key
  // half, the odd half INSERTed and a key-slice DELETEd through SQL,
  // then refresh_mv BY VIEW NAME ALONE folds the change feed (the
  // definition rides the view's own snapshot props). Build + refresh
  // are maintenance; the benched/verified path reads the view table.
  private def mvSqlRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("mvsql", dir) { root =>
      val cat = new SnapshotCatalog(root)
      Writers.writeSnapshot(cat, "mvsqlorders",
        Tables.orders(s, dir).filter(expr("o_orderkey % 2 = 0"))
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
        s"$root/data")
      val es = sqlAt(s, root)
      es.sql("CALL graft.create_mv('mvsql_view', 'mvsqlorders', " +
        "'o_orderstatus', 'o_totalprice')")
      val src = s"parquet.`$dir/orders.parquet`"
      es.sql(s"INSERT INTO mvsqlorders SELECT o_orderkey, o_orderstatus, " +
        s"o_totalprice FROM $src WHERE o_orderkey % 2 = 1")
      es.sql("DELETE FROM mvsqlorders WHERE o_orderkey % 11 = 3")
      es.sql("CALL graft.refresh_mv('mvsql_view')")
      root
    }

  /** Incremental MV from pure SQL (S39's last seam, r14): the view was
    * built on half the source and refreshed — by name alone — from the
    * SQL-mutated other half's change feed; reading it must equal the
    * oracle's from-scratch GROUP BY of the final source state. */
  def qMvSql(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, mvSqlRootFor(s, dir)).sql(
      """SELECT o_orderstatus, n_rows,
        |  CAST(sum_o_totalprice AS DOUBLE) AS sum_price
        |FROM mvsql_view""".stripMargin)

  // Memoized min/max/avg MV catalog per sf-dir: the generalized
  // aggregate set (r15) — built on half the source with MIN/MAX/AVG
  // state, SQL-mutated with an INSERT and a DELETE that REMOVES each
  // big group's current extrema (top tail + bottom tail), refreshed by
  // name. The delete forces the key-scoped recompute path; the hash
  // against DuckDB's from-scratch GROUP BY proves it exact.
  private def mvMmRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("mvmm", dir) { root =>
      val cat = new SnapshotCatalog(root)
      Writers.writeSnapshot(cat, "mvmmorders",
        Tables.orders(s, dir).filter(expr("o_orderkey % 2 = 0"))
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
        s"$root/data")
      val es = sqlAt(s, root)
      es.sql("CALL graft.create_mv('mvmm_view', 'mvmmorders', " +
        "'o_orderstatus', 'o_totalprice', avg_columns => 'o_totalprice', " +
        "min_columns => 'o_totalprice', max_columns => 'o_totalprice')")
      val src = s"parquet.`$dir/orders.parquet`"
      es.sql(s"INSERT INTO mvmmorders SELECT o_orderkey, o_orderstatus, " +
        s"o_totalprice FROM $src WHERE o_orderkey % 2 = 1")
      // kill the stored extrema: every group's max lives in the top
      // tail, most mins in the bottom tail — the refresh must recompute
      // exactly the invalidated keys
      es.sql("DELETE FROM mvmmorders " +
        "WHERE o_totalprice > 400000.0 OR o_totalprice < 5000.0")
      es.sql("CALL graft.refresh_mv('mvmm_view')")
      root
    }

  /** Generalized MV aggregates from SQL (r15): COUNT/SUM fold
    * additively, AVG renders from (sum, cnt) state, MIN/MAX survive an
    * extremum-killing delete via the key-scoped recompute — the view
    * must hash-equal the oracle's from-scratch GROUP BY with
    * MIN/MAX/AVG over the final state. */
  def qMvMinmax(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, mvMmRootFor(s, dir)).sql(
      """SELECT o_orderstatus, n_rows,
        |  CAST(sum_o_totalprice AS DOUBLE) AS sum_price,
        |  CAST(sum_o_totalprice AS DOUBLE) / cnt_o_totalprice AS avg_price,
        |  min_o_totalprice AS min_price,
        |  max_o_totalprice AS max_price
        |FROM mvmm_view""".stripMargin)

  // Memoized approx-ND MV catalog per sf-dir: HLL COUNT DISTINCT state
  // (r15) — the nd column is LOW-cardinality (o_orderpriority, 5
  // values), where the datasketches sparse sketch is EXACT, so the
  // estimate hash-matches DuckDB's exact COUNT(DISTINCT) — and the
  // DELETE forces the sketch-invalidation recompute path (HLL is not
  // retractable), proving it end-to-end through SQL.
  private def mvNdRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("mvnd", dir) { root =>
      val cat = new SnapshotCatalog(root)
      Writers.writeSnapshot(cat, "mvndorders",
        Tables.orders(s, dir).filter(expr("o_orderkey % 2 = 0"))
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_orderpriority"), col("o_totalprice")),
        s"$root/data")
      val es = sqlAt(s, root)
      es.sql("CALL graft.create_mv('mvnd_view', 'mvndorders', " +
        "'o_orderstatus', nd_columns => 'o_orderpriority')")
      val src = s"parquet.`$dir/orders.parquet`"
      es.sql(s"INSERT INTO mvndorders SELECT o_orderkey, o_orderstatus, " +
        s"o_orderpriority, o_totalprice FROM $src WHERE o_orderkey % 2 = 1")
      // the delete removes WHOLE priority classes from some groups
      // (every cheap '5-LOW' row, say) — only a recompute can shrink
      // the distinct count, an insert-only fold would overcount
      es.sql("DELETE FROM mvndorders WHERE o_orderpriority IN ('5-LOW', '4-NOT SPECIFIED')")
      es.sql("CALL graft.refresh_mv('mvnd_view')")
      root
    }

  /** HLL approx COUNT DISTINCT in an MV (r15): at this cardinality the
    * sparse sketch is exact, so the maintained estimate — THROUGH an
    * invalidating delete and the key-scoped recompute — hash-equals
    * the oracle's exact COUNT(DISTINCT) of the final state. */
  def qMvNd(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, mvNdRootFor(s, dir)).sql(
      """SELECT o_orderstatus, n_rows,
        |  hll_sketch_estimate(nd_o_orderpriority) AS nd_priority
        |FROM mvnd_view""".stripMargin)

  // Memoized full-aggregate MV catalog per sf-dir for the RENDERED read
  // (r16): every aggregate class in one view — additive SUM, derived
  // AVG, extremum MIN/MAX, HLL approx-ND — mutated with an INSERT and a
  // DELETE that both kills stored extrema AND removes a whole priority
  // class (forcing the key-scoped recompute on BOTH invalidation
  // shapes), refreshed by name.
  private def mvRenderRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("mvrender", dir) { root =>
      val cat = new SnapshotCatalog(root)
      Writers.writeSnapshot(cat, "mvrorders",
        Tables.orders(s, dir).filter(expr("o_orderkey % 2 = 0"))
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_orderpriority"), col("o_totalprice")),
        s"$root/data")
      val es = sqlAt(s, root)
      es.sql("CALL graft.create_mv('mvr_view', 'mvrorders', " +
        "'o_orderstatus', 'o_totalprice', avg_columns => 'o_totalprice', " +
        "min_columns => 'o_totalprice', max_columns => 'o_totalprice', " +
        "nd_columns => 'o_orderpriority')")
      val src = s"parquet.`$dir/orders.parquet`"
      es.sql(s"INSERT INTO mvrorders SELECT o_orderkey, o_orderstatus, " +
        s"o_orderpriority, o_totalprice FROM $src WHERE o_orderkey % 2 = 1")
      es.sql("DELETE FROM mvrorders WHERE o_totalprice > 400000.0 " +
        "OR o_totalprice < 5000.0 OR o_orderpriority = '5-LOW'")
      es.sql("CALL graft.refresh_mv('mvr_view')")
      root
    }

  /** The SQL-rendered MV read (r16): `mvr_view__rendered` serves every
    * derived aggregate COMPUTED — `avg_c` as a double, `approx_nd_c` as
    * the sketch estimate — so this query touches NO state column (no
    * cnt_, no BINARY nd_ sketch, no hand division). At this nd
    * cardinality the sparse sketch is exact, so the whole rendered row
    * set hash-equals DuckDB's from-scratch GROUP BY with AVG + exact
    * COUNT DISTINCT over the final source state. */
  def qMvRendered(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, mvRenderRootFor(s, dir)).sql(
      """SELECT o_orderstatus, n_rows,
        |  CAST(sum_o_totalprice AS DOUBLE) AS sum_price,
        |  avg_o_totalprice AS avg_price,
        |  min_o_totalprice AS min_price,
        |  max_o_totalprice AS max_price,
        |  approx_nd_o_orderpriority AS nd_priority
        |FROM mvr_view__rendered""".stripMargin)

  // Memoized where-scoped MV catalog per sf-dir: an MV over a DERIVED
  // relation (r15) — the definition carries a predicate; UPDATEs move
  // rows INTO and OUT OF the predicate set, and the refresh folds the
  // filtered feed one-sided (insert-without-delete entering, delete-
  // without-insert leaving).
  private def mvWhereRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("mvwhere", dir) { root =>
      val cat = new SnapshotCatalog(root)
      Writers.writeSnapshot(cat, "mvworders",
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
        s"$root/data")
      val es = sqlAt(s, root)
      es.sql("CALL graft.create_mv('mvw_view', 'mvworders', " +
        "'o_orderstatus', 'o_totalprice', where => 'o_totalprice > 150000.0')")
      // INTO the set: cheap rows bumped over the threshold (their
      // retraction fails the predicate, their insert passes)
      es.sql("UPDATE mvworders SET o_totalprice = o_totalprice + 120000.0 " +
        "WHERE o_totalprice <= 100000.0 AND o_orderkey % 5 = 0")
      // OUT of the set: expensive rows cut below it
      es.sql("UPDATE mvworders SET o_totalprice = o_totalprice - 190000.0 " +
        "WHERE o_totalprice > 250000.0 AND o_orderkey % 3 = 0")
      es.sql("CALL graft.refresh_mv('mvw_view')")
      root
    }

  /** Predicate-scoped MV from SQL (r15): the filtered fold must equal
    * the oracle's replay of both UPDATEs followed by a from-scratch
    * filtered GROUP BY. */
  def qMvWhere(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, mvWhereRootFor(s, dir)).sql(
      """SELECT o_orderstatus, n_rows,
        |  CAST(sum_o_totalprice AS DOUBLE) AS sum_price
        |FROM mvw_view""".stripMargin)

  // Memoized GDPR-delete catalog per sf-dir: the zero-scan equality-
  // delete path from SQL (S41, r14) — the five lowest order keys masked
  // via CALL graft.delete_by_keys (O(|keys|) driver work, no table
  // scan), then ONE of them re-appended (a fresh row stays visible; the
  // mask scopes to files existing at delete time).
  private def gdprRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("gdpr", dir) { root =>
      val cat = new SnapshotCatalog(root)
      Writers.writeSnapshot(cat, "gdprorders",
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
        s"$root/data")
      val keys = Tables.orders(s, dir).select(col("o_orderkey"))
        .orderBy(col("o_orderkey")).limit(5).collect().map(_.getLong(0))
      val es = sqlAt(s, root)
      es.sql(s"CALL graft.delete_by_keys('gdprorders', 'o_orderkey', " +
        s"'${keys.mkString(",")}')")
      es.sql(s"INSERT INTO gdprorders VALUES (${keys.head}, 'R', 123.75)")
      root
    }

  /** Zero-scan equality delete from SQL (S41's last seam, r14): the
    * visible state must equal the oracle's NOT-IN replay plus the
    * re-appended row — erasure by mask, re-ingest stays visible. */
  def qDeleteKeysSql(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, gdprRootFor(s, dir)).sql(
      """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM gdprorders GROUP BY o_orderstatus""".stripMargin)

  // Memoized per-commit CDF catalog per sf-dir: three commits — even-key
  // base (s1), odd-key SQL INSERT (s2), a key-prefix SQL DELETE (s3) —
  // whose intra-range churn (rows inserted at s2 AND deleted at s3) the
  // per-commit feed must PRESERVE with commit attribution, where the
  // net feed would cancel it.
  private def cdfRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("cdfsql", dir) { root =>
      val cat = new SnapshotCatalog(root)
      Writers.writeSnapshot(cat, "cdforders",
        Tables.orders(s, dir).filter(expr("o_orderkey % 2 = 0 AND o_orderkey <= 4000"))
          .select(col("o_orderkey"), col("o_totalprice")),
        s"$root/data")
      val es = sqlAt(s, root)
      val src = s"parquet.`$dir/orders.parquet`"
      es.sql(s"INSERT INTO cdforders SELECT o_orderkey, o_totalprice FROM $src " +
        "WHERE o_orderkey % 2 = 1 AND o_orderkey <= 1000")
      es.sql("DELETE FROM cdforders WHERE o_orderkey <= 500")
      root
    }

  /** Per-commit change feed from SQL (S43's last seam, r14):
    * `CALL graft.changelog(..., mode => 'percommit')` must attribute
    * every row to its commit — s2's inserts and s3's deletes, including
    * the churn rows both touched — matching the oracle's replay of the
    * same algebra with literal commit ids (fresh catalog: s1=1, s2=2,
    * s3=3). */
  def qCdfPercommit(s: SparkSession, dir: String): DataFrame = {
    val es = sqlAt(s, cdfRootFor(s, dir))
    es.sql("CALL graft.changelog('cdforders', 1, mode => 'percommit', " +
      "view => 'cdforders_cdf')")
    es.sql(
      """SELECT _commit_snapshot_id AS commit_id, _change_type AS change,
        |  o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
        |FROM cdforders_cdf""".stripMargin)
  }

  // Memoized SQL-cache catalog per sf-dir: the keyed TableCache (S5–S12)
  // driven from SQL (r14) — CALL graft.cache persists a filtered
  // projection under its query-shaped key and serves it as a view; the
  // benched path re-issues the CALL (a HIT after the first run — the
  // persisted plan, no re-scan) and aggregates through the view.
  private def cacheSqlRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("cachesql", dir) { root =>
      val cat = new SnapshotCatalog(root)
      Writers.writeSnapshot(cat, "cachedorders",
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
        s"$root/data")
      root
    }

  /** Keyed-cache read from SQL (S5–S12's SQL surface, r14): the entry
    * pins a filtered projection under `(table, predicate, columns)`;
    * the aggregate through the cached view must equal the oracle's
    * plain-WHERE form. */
  def qCacheSql(s: SparkSession, dir: String): DataFrame = {
    val es = sqlAt(s, cacheSqlRootFor(s, dir))
    es.sql("CALL graft.cache('cachedorders', " +
      "predicate => 'o_totalprice > 100000', " +
      "columns => 'o_orderstatus,o_totalprice', view => 'cachedorders_v')")
    es.sql(
      """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM cachedorders_v GROUP BY o_orderstatus""".stripMargin)
  }

  // Memoized ingest catalog per sf-dir: a CSV landing zone loaded in two
  // drops through `CALL graft.ingest`, with a full REDUNDANT re-run
  // between them — the final hash equality against the plain orders
  // table PROVES the idempotence (a double-load would double every
  // count) and the incremental pickup (drop 2 loads alone over drop 1's
  // skip) in one oracle. The catalog sits beside the landing zone:
  // `graft.ingest` refuses a source inside the catalog root.
  private def ingestRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("ingsql", dir) { base =>
      val (root, landing) = (s"$base/cat", s"$base/landing")
      val slice = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      slice.filter(expr("o_orderkey % 2 = 0")).write.mode("overwrite").csv(landing)
      val es = sqlAt(s, root)
      es.sql("CREATE TABLE graft.ingorders " +
        "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)")
      es.sql(s"CALL graft.ingest('ingorders', '$landing', format => 'csv')").collect()
      // redundant re-run: must load nothing (the oracle catches a double-load)
      es.sql(s"CALL graft.ingest('ingorders', '$landing', format => 'csv')").collect()
      // drop 2 arrives in the SAME directory; only the new files load
      slice.filter(expr("o_orderkey % 2 = 1")).write.mode("append").csv(landing)
      es.sql(s"CALL graft.ingest('ingorders', '$landing', format => 'csv')").collect()
      root
    }

  /** Idempotent landing-zone ingest from SQL (S66, r14): two CSV drops +
    * one redundant re-run through `CALL graft.ingest` must reassemble
    * EXACTLY the source table — skipped files skip, fresh files load
    * once, types ride the declared schema (no inference). */
  def qIngestSql(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, ingestRootFor(s, dir)).sql(
      """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM ingorders GROUP BY o_orderstatus""".stripMargin)

  // Memoized export catalog per sf-dir: orders committed, a key-range
  // COW delete applied, then the VISIBLE state exported to an external
  // parquet directory through CALL graft.export — the read-back
  // aggregate must hash-equal DuckDB's replay of the mutated state
  // (an export that leaks masked rows or drops files breaks the hash).
  // The export target sits beside the catalog: `graft.export` refuses a
  // destination inside the catalog root.
  private def exportDirFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("expsql", dir) { base =>
      val root = s"$base/cat"
      Writers.writeSnapshot(new SnapshotCatalog(root), "exporders",
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
        s"$base/data")
      val es = sqlAt(s, root)
      es.sql("DELETE FROM exporders WHERE o_orderkey <= 700")
      val out = s"$base/out/shards"
      es.sql(s"CALL graft.export('exporders', '$out')").collect()
      out
    }

  /** External-file export (S68, r14): the exported shards, read back as
    * plain parquet, must reproduce the table's visible state exactly. */
  def qExportRoundtrip(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(exportDirFor(s, dir))
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(15,4)")).cast("double").as("sum_price"))

  // Memoized metadata-count catalog per sf-dir: full orders committed
  // once; the benched/verified path is the manifest-answered COUNT.
  private def metaCountRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("metacount", dir) { root =>
      val cat = new SnapshotCatalog(root)
      Writers.writeSnapshot(cat, "countorders", Tables.orders(s, dir),
        s"$root/data")
      root
    }

  /** Metadata-only aggregates (SURVEY §2 S52): a global COUNT(*) /
    * COUNT(col) / MIN(col) / MAX(col) over a catalog table folds to the
    * snapshot's manifest row counts and per-file bounds — zero data
    * files opened (plan-asserted in `GraftSqlResolutionSpec`); the
    * values must equal the oracle's real scan. */
  def qMetaCount(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, metaCountRootFor(s, dir)).sql(
      """SELECT COUNT(*) AS n_rows, COUNT(o_orderkey) AS n_keys,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
        |  MIN(o_totalprice) AS min_price, MAX(o_orderstatus) AS max_status
        |FROM countorders""".stripMargin)

  // Memoized clone catalog per sf-dir: orders committed, shallow-cloned,
  // then BOTH sides mutated — the source takes an append the clone must
  // not see, the clone takes a MoR delete the source must not feel. The
  // benched/verified path is the clone read; independence of the source
  // side is spec-asserted (CloneSpec).
  private def cloneCatFor(s: SparkSession, dir: String): SnapshotCatalog =
    Fixtures.rooted("clone", dir) { tmp =>
      val cat = new SnapshotCatalog(tmp)
      val orders = Tables.orders(s, dir)
      Writers.writeRangedSnapshot(cat, "orders", orders, tmp, "o_orderkey", 4)
      cat.cloneTable("orders", "orders_clone")
      // source diverges: append rows the clone must never see
      Writers.writeSnapshot(cat, "orders",
        orders.filter(col("o_orderkey") % 100 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(200000000L)), tmp)
      // clone diverges: MoR-mask the cheap tail (zero data-file rewrites)
      Writers.deleteWhereMoR(s, cat, "orders_clone",
        col("o_totalprice") < 30000.0,
        Seq(RangeNum("o_totalprice", Double.NegativeInfinity, 30000.0)), tmp)
      cat
    }

  /** Read through a zero-copy clone (SURVEY §2 S51): the clone pinned
    * the source's snapshot by REFERENCE (no data copied), then both
    * sides diverged — a source append the clone must not see, a
    * clone-side MoR delete the source must not feel. The visible clone
    * state must equal the oracle's plain-WHERE form over the ORIGINAL
    * rows only. */
  def qCloneRead(s: SparkSession, dir: String): DataFrame = {
    val cat = cloneCatFor(s, dir)
    cat.read(s, "orders_clone")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), sumMoney(col("o_totalprice")).as("sum_price"))
  }

  // Memoized SQL-DML catalog per sf-dir: seeded with the even-key half
  // of orders, then mutated ENTIRELY through SQL on the extensions
  // session — INSERT INTO (odd half, from a parquet.`path` source),
  // DELETE FROM (cheap totalprice cut, MoR position delete), MERGE INTO
  // (restating every %10=3 key at +100000). The benched query reads the
  // final state; the oracle replays the same algebra over raw parquet.
  private def dmlRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("dmlsql", dir) { root =>
      val cat = new SnapshotCatalog(root)
      Writers.writeSnapshot(cat, "dmlorders",
        Tables.orders(s, dir).filter(expr("o_orderkey % 2 = 0")),
        s"$root/data")
      val es = sqlAt(s, root)
      val src = s"parquet.`$dir/orders.parquet`"
      es.sql(s"INSERT INTO dmlorders SELECT * FROM $src WHERE o_orderkey % 2 = 1")
      es.sql("DELETE FROM dmlorders WHERE o_totalprice < 50000")
      es.sql(
        s"""MERGE INTO dmlorders t USING (
           |  SELECT o_orderkey, o_custkey, o_orderstatus,
           |    o_totalprice + 100000 AS o_totalprice, o_orderdate, o_orderpriority
           |  FROM $src WHERE o_orderkey % 10 = 3) s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      root
    }

  /** SQL DML end-to-end (SURVEY §2 S50, write half): a table seeded by
    * the API then INSERTed, DELETEd and MERGEd purely through
    * `spark.sql` on an extensions-only session — the final state must
    * equal the oracle's replay of the same algebra over raw parquet.
    * Covers append commits, MoR position deletes and key-merge rewrites
    * all reached from SQL. */
  def qSqlDml(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, dmlRootFor(s, dir)).sql(
      """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM dmlorders
        |GROUP BY o_orderstatus""".stripMargin)

  // Memoized SQL-UPDATE catalog per sf-dir: seeded with all orders, then
  // two UPDATE mutations purely through SQL — a pruned
  // multi-column update whose SET reads the OLD row (decimal-exact price
  // bump), and an alias-qualified single-column update on a different
  // predicate. The oracle replays both as nested CASE over raw parquet.
  private def updRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("updsql", dir) { root =>
      val cat = new SnapshotCatalog(root)
      Writers.writeSnapshot(cat, "updorders", Tables.orders(s, dir),
        s"$root/data")
      val es = sqlAt(s, root)
      es.sql(
        """UPDATE updorders SET o_orderstatus = 'U',
          |  o_totalprice = CAST(CAST(o_totalprice AS DECIMAL(15,4))
          |    * CAST(1.25 AS DECIMAL(4,2)) AS DOUBLE)
          |WHERE o_orderstatus = 'F' AND o_totalprice > 100000""".stripMargin)
      es.sql(
        """UPDATE updorders u SET u.o_orderpriority = '0-UPDATED'
          |WHERE u.o_custkey % 7 = 0""".stripMargin)
      root
    }

  /** SQL UPDATE end-to-end (S53's fourth DML verb): COW self-merge
    * updates reached purely from SQL — SET expressions read the old
    * row, the WHERE prunes the rewrite set, and the final state must
    * equal the oracle's CASE-replay over raw parquet. */
  def qSqlUpdate(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, updRootFor(s, dir)).sql(
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM updorders
        |GROUP BY o_orderstatus, o_orderpriority""".stripMargin)

  // Memoized CTAS catalog per sf-dir: the table is CREATED through SQL
  // (graft.<name> CTAS) from raw parquet — zero code-API writes.
  private def ctasRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("ctassql", dir) { root =>
      val es = sqlAt(s, root)
      es.conf.set(graft.sql.GraftDml.DataDirConf, s"$root/data")
      try es.sql(
        s"""CREATE TABLE graft.ctasorders AS
           |SELECT * FROM parquet.`$dir/orders.parquet` WHERE o_totalprice >= 80000""".stripMargin)
      finally es.conf.unset(graft.sql.GraftDml.DataDirConf)
      root
    }

  // Memoized SQL-maintenance catalog per sf-dir: seed + two SQL
  // INSERTs build a 3-snapshot, many-small-files table, then the
  // MAINTENANCE surface runs purely through SQL — CALL graft.compact
  // (row-preserving rewrite) and CALL graft.expire_snapshots
  // (metadata-only history trim). Neither may change a single visible
  // row: the oracle replays only the DATA algebra over raw parquet.
  private def maintRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("maintsql", dir) { root =>
      val cat = new SnapshotCatalog(root)
      Writers.writeSnapshot(cat, "maintorders",
        Tables.orders(s, dir).filter(expr("o_orderkey % 4 = 1")),
        s"$root/data")
      val es = sqlAt(s, root)
      val src = s"parquet.`$dir/orders.parquet`"
      es.sql(s"INSERT INTO maintorders SELECT * FROM $src WHERE o_orderkey % 4 = 2")
      es.sql(s"INSERT INTO maintorders SELECT * FROM $src WHERE o_orderkey % 4 = 3")
      val compacted = es.sql("CALL graft.compact('maintorders', min_files => 2)").head()
      require(compacted.getBoolean(0), "maintenance battery expects a compaction commit")
      val expired = es.sql(
        "CALL graft.expire_snapshots('maintorders', retain_last => 1)").head().getLong(0)
      require(expired == 3, s"expected 3 expired snapshots, got $expired")
      root
    }

  /** SQL maintenance end-to-end (S56): after compaction + expiration
    * ran purely through `CALL graft.*`, the visible data must be
    * EXACTLY the union of the seed and the two inserts — maintenance
    * that leaks into query results is corruption, so the oracle knows
    * nothing about it. */
  def qSqlMaintenance(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, maintRootFor(s, dir)).sql(
      """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM maintorders
        |GROUP BY o_orderstatus""".stripMargin)

  /** SQL-only table CREATION (the CTAS half of the S50 lifecycle): a
    * table that exists only because `CREATE TABLE graft.t AS SELECT`
    * ran, then aggregated through the same SQL surface. The oracle
    * replays the CTAS predicate over raw parquet. */
  def qCtasRead(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, ctasRootFor(s, dir)).sql(
      """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM ctasorders
        |GROUP BY o_orderstatus""".stripMargin)

  // Memoized clause-merge catalog per sf-dir: even-key seed, then ONE
  // conditional MERGE applies a CDC batch (delete / update / gated
  // insert) through SQL.
  private def mergeClauseRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("mrgcl", dir) { root =>
      val cat = new SnapshotCatalog(root)
      Writers.writeSnapshot(cat, "cdcorders",
        Tables.orders(s, dir).filter(expr("o_orderkey % 2 = 0")),
        s"$root/data")
      val es = sqlAt(s, root)
      val src = s"parquet.`$dir/orders.parquet`"
      // op and the restated price both derive from the ORIGINAL price in
      // an inner select — no same-SELECT alias reuse (lateral-alias
      // binding differs across engines)
      es.sql(
        s"""MERGE INTO cdcorders t USING (
           |  SELECT o_orderkey, o_custkey, o_orderstatus,
           |    newprice AS o_totalprice, o_orderdate, o_orderpriority, op
           |  FROM (
           |    SELECT *, o_totalprice + 50000 AS newprice,
           |      CASE WHEN o_totalprice < 100000 THEN 'D' ELSE 'U' END AS op
           |    FROM $src WHERE o_orderkey % 3 = 0)) s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND s.op = 'D' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *""".stripMargin)
      root
    }

  // Explicit-SET merge layout: the source carries ONLY (key, delta) —
  // no full target schema — and the SET expressions read BOTH pair
  // sides; the insert clause names explicit columns with NULL fill.
  private def mergeSetRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("mrgset", dir) { root =>
      val cat = new SnapshotCatalog(root)
      Writers.writeSnapshot(cat, "setorders",
        Tables.orders(s, dir).filter(expr("o_orderkey % 2 = 0"))
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
        s"$root/data")
      val es = sqlAt(s, root)
      val src = s"parquet.`$dir/orders.parquet`"
      es.sql(
        s"""MERGE INTO setorders t USING (
           |  SELECT o_orderkey, o_totalprice AS delta FROM $src
           |  WHERE o_orderkey % 3 = 0) s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND s.delta < 100000
           |  THEN UPDATE SET o_totalprice = t.o_totalprice + s.delta
           |WHEN MATCHED THEN UPDATE SET o_orderstatus = 'M'
           |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus)
           |  VALUES (s.o_orderkey, 'N')""".stripMargin)
      root
    }

  /** Explicit matched UPDATE SET (both pair sides) + INSERT (cols)
    * through SQL MERGE; the oracle replays the pair algebra with a
    * CASE over the key join. */
  def qMergeUpdSet(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, mergeSetRootFor(s, dir)).sql(
      """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(coalesce(o_totalprice, 0) AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM setorders
        |GROUP BY o_orderstatus""".stripMargin)

  // By-source merge layout (full-sync apply): matched rows take the
  // source's restated price; unmatched target rows either drop (cheap
  // rows) or get flagged STALE — the Delta/Iceberg WHEN NOT MATCHED BY
  // SOURCE surface exercised end-to-end through SQL.
  private def mergeBsRootFor(s: SparkSession, dir: String): String =
    Fixtures.rooted("mrgbs", dir) { root =>
      val cat = new SnapshotCatalog(root)
      Writers.writeSnapshot(cat, "bsorders",
        Tables.orders(s, dir).filter(expr("o_orderkey % 2 = 0"))
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderpriority")),
        s"$root/data")
      val es = sqlAt(s, root)
      val src = s"parquet.`$dir/orders.parquet`"
      es.sql(
        s"""MERGE INTO bsorders t USING (
           |  SELECT o_orderkey, o_orderstatus,
           |    o_totalprice + 50000 AS o_totalprice, o_orderpriority
           |  FROM $src WHERE o_orderkey % 4 = 0) s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED BY SOURCE AND t.o_totalprice < 150000 THEN DELETE
           |WHEN NOT MATCHED BY SOURCE
           |  THEN UPDATE SET o_orderpriority = 'STALE'""".stripMargin)
      root
    }

  /** MERGE WHEN NOT MATCHED BY SOURCE end-to-end through SQL; the
    * oracle replays the three-way split (replaced / deleted / flagged)
    * over the raw table. */
  def qMergeBySource(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, mergeBsRootFor(s, dir)).sql(
      """SELECT o_orderstatus AS status, o_orderpriority = 'STALE' AS stale,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM bsorders
        |GROUP BY 1, 2""".stripMargin)

  /** Conditional multi-clause MERGE end-to-end through SQL (the
    * CDC-apply idiom: matched-delete, matched-update, gated insert —
    * first clause wins). The oracle replays the clause algebra over raw
    * parquet; any mis-routing of a row between delete/update/insert
    * shifts the aggregate and fails the hash. */
  def qMergeClauses(s: SparkSession, dir: String): DataFrame =
    sqlAt(s, mergeClauseRootFor(s, dir)).sql(
      """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM cdcorders
        |GROUP BY o_orderstatus""".stripMargin)

  /** Arbitrary SQL through QueryEngine's registered corpus (SURVEY §2
    * S18) — the reference's `execute_query` path (src/sql/engine.py:66). */
  def qSqlEngine(s: SparkSession, dir: String): DataFrame =
    engineFor(s, dir).sql(
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY o_orderstatus""".stripMargin)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cached_agg" -> (qCachedAgg _),
    "q_snapshot_read" -> (qSnapshotRead _),
    "q_inlist_read" -> (qInlistRead _),
    "q_days_read" -> (qDaysRead _),
    "q_zorder_read" -> (qZorderRead _),
    "q_sorted_read" -> (qSortedRead _),
    "q_default_read" -> (qDefaultRead _),
    "q_view_read" -> (qViewRead _),
    "q_view_version" -> (qViewVersion _),
    "q_sql_discovery" -> (qSqlDiscovery _),
    "q_changelog" -> (qChangelog _),
    "q_wap_sql" -> (qWapSql _),
    "q_table_rename_read" -> (qTableRenameRead _),
    "q_meta_profile" -> (qMetaProfile _),
    "q_meta_profile_exact" -> (qMetaProfileExact _),
    "q_mv_read" -> (qMvRead _),
    "q_mv_sql" -> (qMvSql _),
    "q_mv_minmax" -> (qMvMinmax _),
    "q_mv_where" -> (qMvWhere _),
    "q_mv_nd" -> (qMvNd _),
    "q_mv_rendered" -> (qMvRendered _),
    "q_delete_keys_sql" -> (qDeleteKeysSql _),
    "q_cdf_percommit" -> (qCdfPercommit _),
    "q_cache_sql" -> (qCacheSql _),
    "q_ingest_sql" -> (qIngestSql _),
    "q_export_roundtrip" -> (qExportRoundtrip _),
    "q_merge_read" -> (qMergeRead _),
    "q_mor_read" -> (qMorRead _),
    "q_ttl_read" -> (qTtlRead _),
    "q_bucketed_join" -> (qBucketedJoin _),
    "q_expectations" -> (qExpectations _),
    "q_overwrite_read" -> (qOverwriteRead _),
    "q_topk_pruned" -> (qTopkPruned _),
    "q_rename_read" -> (qRenameRead _),
    "q_widen_read" -> (qWidenRead _),
    "q_sql_timetravel" -> (qSqlTimetravel _),
    "q_sql_dml" -> (qSqlDml _),
    "q_sql_update" -> (qSqlUpdate _),
    "q_ctas_read" -> (qCtasRead _),
    "q_merge_clauses" -> (qMergeClauses _),
    "q_merge_upd_set" -> (qMergeUpdSet _),
    "q_merge_bysource" -> (qMergeBySource _),
    "q_clone_read" -> (qCloneRead _),
    "q_meta_count" -> (qMetaCount _),
    "q_sql_maintenance" -> (qSqlMaintenance _),
    "q_sql_engine" -> (qSqlEngine _))

  val oracles: Map[String, String] = Map(
    "q_meta_profile_exact" ->
      """SELECT 'o_orderstatus' AS column_name,
        |  COUNT(DISTINCT o_orderstatus) AS ndv, COUNT(*) AS n_rows
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority',
        |  COUNT(DISTINCT o_orderpriority), COUNT(*)
        |FROM orders""".stripMargin,
    "q_sql_maintenance" ->
      """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderkey % 4 IN (1, 2, 3)
        |GROUP BY o_orderstatus""".stripMargin,
    "q_cached_agg" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(15,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_meta_count" ->
      """SELECT COUNT(*) AS n_rows, COUNT(o_orderkey) AS n_keys,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
        |  MIN(o_totalprice) AS min_price, MAX(o_orderstatus) AS max_status
        |FROM orders""".stripMargin,
    "q_ctas_read" ->
      """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_totalprice >= 80000
        |GROUP BY o_orderstatus""".stripMargin,
    "q_merge_clauses" ->
      """WITH seed AS (
        |  SELECT * FROM orders WHERE o_orderkey % 2 = 0),
        |src AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice + 50000 AS newprice, o_orderdate, o_orderpriority,
        |    CASE WHEN o_totalprice < 100000 THEN 'D' ELSE 'U' END AS op
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |finalstate AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM seed
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |  UNION ALL
        |  SELECT o_orderkey, newprice AS o_totalprice, o_orderstatus FROM src
        |  WHERE op = 'U' AND o_orderkey IN (SELECT o_orderkey FROM seed)
        |  UNION ALL
        |  SELECT o_orderkey, newprice AS o_totalprice, o_orderstatus FROM src
        |  WHERE op <> 'D' AND o_orderkey NOT IN (SELECT o_orderkey FROM seed))
        |SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM finalstate
        |GROUP BY o_orderstatus""".stripMargin,
    "q_clone_read" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_totalprice >= 30000
        |GROUP BY o_orderstatus""".stripMargin,
    "q_merge_upd_set" ->
      """WITH seed AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0),
        |src AS (
        |  SELECT o_orderkey, o_totalprice AS delta FROM orders
        |  WHERE o_orderkey % 3 = 0),
        |final AS (
        |  SELECT t.o_orderkey,
        |    CASE WHEN s.o_orderkey IS NOT NULL AND NOT (s.delta < 100000)
        |      THEN 'M' ELSE t.o_orderstatus END AS o_orderstatus,
        |    CASE WHEN s.o_orderkey IS NOT NULL AND s.delta < 100000
        |      THEN t.o_totalprice + s.delta ELSE t.o_totalprice END AS o_totalprice
        |  FROM seed t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
        |  UNION ALL
        |  SELECT s.o_orderkey, 'N' AS o_orderstatus, NULL AS o_totalprice
        |  FROM src s WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM seed))
        |SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(coalesce(o_totalprice, 0) AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM final
        |GROUP BY 1""".stripMargin,
    "q_merge_bysource" ->
      """WITH seed AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |src AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 50000 AS o_totalprice,
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 4 = 0),
        |final AS (
        |  SELECT * FROM src
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    'STALE' AS o_orderpriority
        |  FROM seed
        |  WHERE o_orderkey % 4 <> 0 AND NOT (o_totalprice < 150000))
        |SELECT o_orderstatus AS status, o_orderpriority = 'STALE' AS stale,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM final
        |GROUP BY 1, 2""".stripMargin,
    "q_sql_dml" ->
      """WITH after_del AS (
        |  SELECT * FROM orders WHERE o_totalprice >= 50000),
        |merge_src AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice + 100000 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 = 3),
        |final AS (
        |  SELECT * FROM after_del WHERE o_orderkey % 10 <> 3
        |  UNION ALL SELECT * FROM merge_src)
        |SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM final GROUP BY o_orderstatus""".stripMargin,
    "q_sql_update" ->
      """WITH after1 AS (
        |  SELECT o_custkey,
        |    CASE WHEN o_orderstatus = 'F' AND o_totalprice > 100000
        |      THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderstatus = 'F' AND o_totalprice > 100000
        |      THEN CAST(CAST(o_totalprice AS DECIMAL(15,4))
        |        * CAST(1.25 AS DECIMAL(4,2)) AS DOUBLE)
        |      ELSE o_totalprice END AS o_totalprice,
        |    o_orderpriority
        |  FROM orders),
        |after2 AS (
        |  SELECT o_orderstatus, o_totalprice,
        |    CASE WHEN o_custkey % 7 = 0 THEN '0-UPDATED'
        |      ELSE o_orderpriority END AS o_orderpriority
        |  FROM after1)
        |SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM after2
        |GROUP BY o_orderstatus, o_orderpriority""".stripMargin,
    "q_sql_timetravel" ->
      """SELECT 'v1' AS epoch, o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 2 = 0
        |GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'head' AS epoch, o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY o_orderstatus""".stripMargin,
    "q_snapshot_read" ->
      """SELECT l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_quantity > 40
        |GROUP BY l_linestatus""".stripMargin,
    "q_inlist_read" ->
      """SELECT c_mktsegment, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(15,4))) AS DOUBLE) AS sum_bal
        |FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |GROUP BY c_mktsegment""".stripMargin,
    "q_mv_read" ->
      """SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY o_orderstatus""".stripMargin,
    "q_mv_sql" ->
      """WITH finalstate AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE NOT (o_orderkey % 11 = 3)
        |)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
        |FROM finalstate GROUP BY o_orderstatus""".stripMargin,
    "q_mv_minmax" ->
      """WITH finalstate AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE NOT (o_totalprice > 400000.0 OR o_totalprice < 5000.0)
        |)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |    / COUNT(o_totalprice) AS avg_price,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price
        |FROM finalstate GROUP BY o_orderstatus""".stripMargin,
    "q_mv_nd" ->
      """WITH finalstate AS (
        |  SELECT o_orderstatus, o_orderpriority FROM orders
        |  WHERE o_orderpriority NOT IN ('5-LOW', '4-NOT SPECIFIED')
        |)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  COUNT(DISTINCT o_orderpriority) AS nd_priority
        |FROM finalstate GROUP BY o_orderstatus""".stripMargin,
    "q_mv_rendered" ->
      """WITH finalstate AS (
        |  SELECT o_orderstatus, o_orderpriority, o_totalprice FROM orders
        |  WHERE NOT (o_totalprice > 400000.0 OR o_totalprice < 5000.0
        |             OR o_orderpriority = '5-LOW')
        |)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
        |    / COUNT(o_totalprice) AS avg_price,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price,
        |  COUNT(DISTINCT o_orderpriority) AS nd_priority
        |FROM finalstate GROUP BY o_orderstatus""".stripMargin,
    "q_mv_where" ->
      """WITH s1 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_totalprice <= 100000.0 AND o_orderkey % 5 = 0
        |         THEN o_totalprice + 120000.0 ELSE o_totalprice END AS p
        |  FROM orders
        |), s2 AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN p > 250000.0 AND o_orderkey % 3 = 0
        |         THEN p - 190000.0 ELSE p END AS p
        |  FROM s1
        |)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(p AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
        |FROM s2 WHERE p > 150000.0 GROUP BY o_orderstatus""".stripMargin,
    "q_delete_keys_sql" ->
      """WITH victims AS (
        |  SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 5
        |), finalstate AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM victims)
        |  UNION ALL
        |  SELECT 'R', CAST(123.75 AS DOUBLE)
        |)
        |SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM finalstate GROUP BY o_orderstatus""".stripMargin,
    "q_cache_sql" ->
      """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_totalprice > 100000
        |GROUP BY o_orderstatus""".stripMargin,
    "q_ingest_sql" ->
      """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q_export_roundtrip" ->
      """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey > 700 GROUP BY o_orderstatus""".stripMargin,
    "q_cdf_percommit" ->
      """WITH base AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price FROM orders
        |  WHERE o_orderkey % 2 = 0 AND o_orderkey <= 4000
        |), ins AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price FROM orders
        |  WHERE o_orderkey % 2 = 1 AND o_orderkey <= 1000
        |)
        |SELECT CAST(2 AS BIGINT) AS commit_id, 'insert' AS change,
        |  o_orderkey, price FROM ins
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'delete', o_orderkey, price FROM (
        |  SELECT * FROM base UNION ALL SELECT * FROM ins
        |) WHERE o_orderkey <= 500""".stripMargin,
    "q_zorder_read" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_totalprice >= 100000.0 AND o_totalprice <= 200000.0
        |  AND o_custkey <= 300
        |GROUP BY o_orderstatus""".stripMargin,
    "q_days_read" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(15,4))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-17'
        |GROUP BY event_type""".stripMargin,
    "q_sorted_read" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(15,4))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15'
        |  AND value >= 50.0 AND value <= 150.0
        |GROUP BY event_type""".stripMargin,
    "q_view_read" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_totalprice > 50000.0
        |GROUP BY o_orderpriority""".stripMargin,
    "q_view_version" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin,
    "q_changelog" ->
      """WITH i AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS p FROM orders
        |), f AS (
        |  SELECT k, CASE WHEN k <= 2000 AND k % 7 = 0 THEN p + 100.0 ELSE p END AS p
        |  FROM i WHERE NOT (k > 2000 AND k <= 4000 AND k % 11 = 0)
        |)
        |SELECT 'delete' AS change, k, p FROM (SELECT k, p FROM i EXCEPT SELECT k, p FROM f)
        |UNION ALL
        |SELECT 'insert' AS change, k, p FROM (SELECT k, p FROM f EXCEPT SELECT k, p FROM i)""".stripMargin,
    "q_table_rename_read" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice + CASE WHEN o_orderkey <= 1000
        |    THEN 25.0 ELSE 0.0 END AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q_wap_sql" ->
      """WITH finalstate AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice + 0.5
        |  FROM orders WHERE o_orderkey <= 800)
        |SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CASE WHEN o_orderkey >= 10000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_published
        |FROM finalstate GROUP BY o_orderstatus""".stripMargin,
    "q_sql_discovery" ->
      """SELECT col_name, data_type, comment FROM (VALUES
        |  ('o_orderkey', 'bigint', CAST(NULL AS VARCHAR)),
        |  ('o_orderpriority', 'string', CAST(NULL AS VARCHAR)),
        |  ('o_totalprice', 'double', CAST(NULL AS VARCHAR))
        |) AS t(col_name, data_type, comment)""".stripMargin,
    "q_default_read" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice * (1 - CASE
        |    WHEN o_orderkey % 2 = 0 THEN CAST(0.05 AS DOUBLE)
        |    WHEN o_orderkey % 4 = 1 THEN CAST(0.10 AS DOUBLE)
        |    ELSE CAST(0.02 AS DOUBLE) END) AS DECIMAL(15,4))) AS DOUBLE) AS sum_net
        |FROM orders
        |GROUP BY o_orderpriority""".stripMargin,
    "q_merge_read" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000.0
        |       ELSE o_totalprice END AS price,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'U'
        |       ELSE o_orderstatus END AS status
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 100000000 AS o_orderkey, 1.0 AS price, 'N' AS status
        |FROM orders WHERE o_orderkey % 100 = 0""".stripMargin,
    "q_ttl_read" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(15,4))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08'
        |GROUP BY event_type""".stripMargin,
    "q_mor_read" ->
      """SELECT c_mktsegment, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(15,4))) AS DOUBLE) AS sum_bal
        |FROM customer
        |WHERE NOT (c_acctbal < 0) AND NOT (c_custkey BETWEEN 100 AND 200)
        |GROUP BY c_mktsegment""".stripMargin,
    "q_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q_rename_read" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q_widen_read" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey % 1000000000
        |           ELSE o_orderkey % 1000000000 + 5000000000 END) AS BIGINT) AS sum_key
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q_topk_pruned" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC NULLS LAST, o_orderkey LIMIT 100""".stripMargin,
    "q_overwrite_read" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(p AS DECIMAL(15,4))) AS DOUBLE) AS sum_price
        |FROM (
        |  SELECT o_orderpriority, o_totalprice AS p FROM orders
        |  WHERE o_orderpriority <> '1-URGENT'
        |  UNION ALL
        |  SELECT o_orderpriority, o_totalprice + 100.0 AS p FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0
        |) t GROUP BY o_orderpriority""".stripMargin,
    "q_expectations" ->
      """SELECT 'not_null:o_custkey' AS rule,
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
        |FROM orders
        |UNION ALL
        |SELECT 'in_range:o_totalprice',
        |  CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
        |    AND (o_totalprice < 5000.0 OR o_totalprice > 400000.0) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'regex:o_orderpriority',
        |  CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
        |    AND NOT regexp_full_match(o_orderpriority, '(?:[1-3]-[A-Z ]+)')
        |    THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'check:status_known',
        |  CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('F','O'), FALSE)
        |    THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'unique:o_custkey',
        |  CAST(COUNT(*) - COUNT(DISTINCT o_custkey) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'unique:o_orderkey',
        |  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
        |FROM orders""".stripMargin,
    "q_sql_engine" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,4))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin)
}
