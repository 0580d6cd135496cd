package graft.bench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.cache.{CacheKey, TableCache}
import graft.meta.{EqString, InString, PruneFilter, RangeNum, SnapshotCatalog}
import graft.serve.Maintenance
import graft.sinks.{MaterializedAgg, Writers}
import graft.streaming.IngestDedupSink
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `lake_rw`: one closed loop of writes, cached pruned reads, time
  * travel and periodic maintenance over a `SnapshotCatalog`.
  *
  * Tables: `facts` (a quarter of sf0.1 lineitem re-keyed by row id, range-clustered
  * on `id` into 16 files, bloom-indexed on `order_key`), the
  * materialized aggregate `facts_by_flag` over it, and `docs` (sf0.1
  * documents) with its dedup fingerprint index. A model of the live
  * rows predicts every read's count. */
object LakeRw {
  val FactFiles = 16
  /** Seed rows: lineitem rows of the first 37,500 orders, one per
    * (order, line number) — about 114k rows. */
  val SeedOrders = 37500
  val AppendRows = 2000
  val MergeRows = 100
  val SeedDocs = 2000
  val IngestDocs = 200
  val IngestDupShare = 0.25
  /** Ids a range read spans (about 3,000 live rows of the seed). */
  val RangeWidth = 8000
  val MaintenanceEvery = 2
  val MinCycles = 2
  val KeepSnapshots = 10
  /** The cache budget, in snapshot reads (`id` column of the whole
    * table) as the cache estimates them: two snapshot reads fit, and the
    * pruned reads of a burst push the older ones out. */
  val CacheBudgetSnapshotReads = 2.5

  val FactSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("order_key", StringType),
    StructField("flag", StringType), StructField("qty", DoubleType),
    StructField("price", DoubleType)))

  /** Live rows of `facts`: id → order key, plus rows per order key. */
  final class Model {
    val live = new java.util.BitSet()
    val keyOf = mutable.ArrayBuffer.empty[Int]
    val perKey = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
    /** Insert or replace the row `id`. */
    def put(id: Int, key: Int): Unit = {
      while (keyOf.size <= id) keyOf += -1
      if (live.get(id)) perKey(keyOf(id)) -= 1
      keyOf(id) = key
      live.set(id); perKey(key) += 1
    }
    def delete(lo: Int, hi: Int): Unit = {
      var i = live.nextSetBit(lo)
      while (i >= 0 && i <= hi) {
        live.clear(i); perKey(keyOf(i)) -= 1
        i = live.nextSetBit(i + 1)
      }
    }
    def next: Int = keyOf.size
    def count: Long = live.cardinality().toLong
    def range(lo: Int, hi: Int): Long =
      if (hi < lo) 0 else live.get(lo, hi + 1).cardinality().toLong
    def liveFrom(i: Int): Int = {
      val j = live.nextSetBit(i)
      if (j >= 0) j else live.nextSetBit(0)
    }
  }

  final case class FactRow(id: Int, key: Int, flag: String, qty: Double, price: Double)

  /** The seeded op inputs of `lake_rw`. Every choice draws from one
    * generator and reads the model, never the engine, so a seed replays
    * byte for byte. `seedN` bounds the ids of the seeded rows; `texts`
    * holds every document text offered so far. */
  final class LakeGen(seed: Long, model: Model, seedN: Int, texts: mutable.ArrayBuffer[String]) {
    val rng = new Rng(seed)
    private var nextDocId = 1000000L

    def seedKey(): Int = model.keyOf(model.liveFrom(rng.nextInt(seedN)))

    private def rows(ids: Seq[Int], key: Int => Int): Seq[FactRow] = ids.map { i =>
      FactRow(i, key(i), "ANR".substring(rng.nextInt(3)).take(1), (1 + rng.nextInt(50)).toDouble,
        900.0 + rng.nextInt(100000))
    }

    def appendRows(): Seq[FactRow] = rows(model.next until model.next + AppendRows, _ => seedKey())

    /** Late corrections to the newest rows plus fresh inserts, so the
      * copy-on-write rewrite stays on the newest files. */
    def mergeRows(): Seq[FactRow] = {
      val upd = (1 to MergeRows / 2).map(_ => model.liveFrom(model.next - 1 - rng.nextInt(AppendRows)))
        .distinct
      val ins = model.next until model.next + MergeRows / 2
      rows(upd ++ ins, i => if (i < model.next) model.keyOf(i) else seedKey())
    }

    def deleteRange(): (Int, Int) = {
      val lo = model.liveFrom(rng.nextInt(model.next))
      (lo, lo + 50 + rng.nextInt(250))
    }

    /** One ingest batch: (novel texts, offered (id, text) rows). A quarter
      * are earlier texts re-offered with case and spacing noise. */
    def ingestBatch(batchId: Long): (Seq[String], Seq[(Long, String)]) = {
      val nDup = (IngestDocs * IngestDupShare).toInt
      val novel = (0 until IngestDocs - nDup).map { i =>
        val words = (1 to 10 + rng.nextInt(60)).map(_ => Words(rng.nextInt(Words.size)))
        s"ingest $seed $batchId $i ${words.mkString(" ")}"
      }
      val dups = (0 until nDup).map { _ =>
        val t = texts(rng.nextInt(texts.size))
        if (rng.nextInt(2) == 0) t.toUpperCase else t.replace(" ", "  ")
      }
      val offered = rng.shuffle(novel ++ dups).map { t => nextDocId += 1; (nextDocId, t) }
      texts ++= novel
      (novel, offered)
    }

    def newRead(kind: Int): Read =
      if (kind == 0) {
        val k = seedKey()
        Read("point", s"order_key=$k", Seq(EqString("order_key", keyStr(k))),
          col("order_key") === keyStr(k), model.perKey(k).toLong)
      } else if (kind == 1) {
        val ks = (1 to 5).map(_ => seedKey()).distinct.sorted
        Read("inlist", s"order_key in ${ks.mkString(",")}",
          Seq(InString("order_key", ks.map(keyStr))), col("order_key").isin(ks.map(keyStr): _*),
          ks.map(k => model.perKey(k).toLong).sum)
      } else {
        val lo = rng.nextInt(model.next)
        val hi = lo + RangeWidth
        Read("range", s"id $lo-$hi", Seq(RangeNum("id", lo, hi)), col("id").between(lo, hi),
          model.range(lo, hi))
      }

    /** The `burst`-th read burst of a cycle: two fresh reads, then the
      * first again (a cache hit, since commits invalidate). The kinds
      * rotate through point, IN-list and range reads, so every cycle
      * runs the same mix and only keys and positions vary by seed. */
    def readBurst(burst: Int): Seq[Read] = {
      val a = newRead(burst % 3)
      Seq(a, newRead((burst + 1) % 3), a)
    }
  }

  /** A cached read: its cache key, prune filters, row filter and the
    * count the model predicts. */
  final case class Read(kind: String, key: String, filters: Seq[PruneFilter],
      cond: org.apache.spark.sql.Column, expected: Long)

  private def keyStr(k: Int): String = s"o$k"

  def run(ctx: Ctx): RunResult = {
    val spark = ctx.spark
    val root = ctx.work.resolve("lake")
    val catalog = new SnapshotCatalog(root.resolve("catalog").toString)
    def dataDir(t: String): String = root.resolve("data").resolve(t).toString
    val ckpt = root.resolve("ckpt").toString
    val model = new Model

    // ---- setup: seed tables, index, materialized view, cache ----------
    var step = Clock.nowMs
    def stepDone(name: String): Unit = {
      ctx.log(f"setup $name ${Clock.nowMs - step}%.0f ms"); step = Clock.nowMs
    }
    // one row per (order, line number): id = order * 8 + line number
    val seedDf = graft.Tables.lineitem(spark, ctx.corpus)
      .filter(col("l_orderkey") < SeedOrders)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(min("l_returnflag").as("flag"), min("l_quantity").as("qty"),
        min("l_extendedprice").as("price"))
      .select((col("l_orderkey") * 8 + col("l_linenumber")).as("id"),
        concat(lit("o"), col("l_orderkey")).as("order_key"), col("flag"), col("qty"), col("price"))
    /** The `id` column of `facts`, at `snap` or the current snapshot. */
    def snapshotRead(snap: Option[Long]): DataFrame =
      catalog.read(spark, "facts", snapshotId = snap).select("id")
    // the docs table and its dedup index seed on a second thread
    val docs = graft.Tables.documents(spark, ctx.corpus).filter(col("doc_id") < SeedDocs)
      .select("doc_id", "text")
    val seenTexts = mutable.ArrayBuffer.empty[String]
    val docsSeeded = new Thread(() => {
      seenTexts ++= docs.select("text").collect().map(_.getString(0))
      IngestDedupSink.ingestBatch(catalog, "docs", "doc_id", "text", dataDir("docs"), ckpt)(docs, 0L)
    }, "perfbench-seed-docs")
    docsSeeded.start()
    // AQE would coalesce the range partitions into fewer files than asked
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    Writers.writeRangedSnapshot(catalog, "facts", seedDf, dataDir("facts"), "id", FactFiles)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    stepDone("seed facts")
    catalog.indexColumns(spark, "facts", bloomColumns = Seq("order_key"))
    stepDone("bloom index")
    catalog.read(spark, "facts").select("id", "order_key").toLocalIterator()
      .forEachRemaining(r => model.put(r.getLong(0).toInt, r.getString(1).drop(1).toInt))
    stepDone("model")
    MaterializedAgg.build(spark, catalog,
      MaterializedAgg.MvSpec("facts", Seq("flag"), sums = Seq("qty")), "facts_by_flag",
      dataDir("facts_by_flag"))
    stepDone("mv build")
    docsSeeded.join()
    stepDone("docs ingest")
    val gen = new LakeGen(ctx.seed, model, model.next, seenTexts)
    // the budget is sized from the cache's own estimate of an entry
    val snapBytes = snapshotRead(None).queryExecution.optimizedPlan.stats.sizeInBytes
    val cacheBudget = (BigDecimal(snapBytes) * CacheBudgetSnapshotReads).toLong
    ctx.log(f"cache budget $cacheBudget%d B (a snapshot read is estimated at $snapBytes B)")
    val cache = new TableCache(maxSizeBytes = cacheBudget)
    val maintenance = new Maintenance(spark, catalog, t => dataDir(t), Some(cache))
    val snapCounts = mutable.ArrayBuffer.empty[(Long, Long)]
    def recordSnap(): Unit =
      snapCounts += ((catalog.currentSnapshot("facts").get.snapshotId, model.count))
    recordSnap()

    // ---- op bookkeeping ----------------------------------------------
    val ops = Seq.newBuilder[Op]
    var opId = 0L
    var checks = 0
    var checksFailed = 0
    val bad = Seq.newBuilder[String]
    val kindMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var userBytes = 0L
    var writtenBytes = 0L
    var filesWritten = 0L
    var invalidated = 0L
    var docsOffered, landed = 0L
    val hitMs, missMs = mutable.ArrayBuffer.empty[Double]
    val resolveMs, planMs, considered, kept = mutable.ArrayBuffer.empty[Double]
    var seen = Sys.files(root)

    def timed(kind: String)(f: Long => Boolean): Unit = {
      opId += 1
      val id = opId
      val s = Clock.nowMs
      val (ok, detail) =
        try (ctx.tracer.span(id, "op", kind)(f(id)), "")
        catch { case e: Throwable => (false, String.valueOf(e)) }
      val e = Clock.nowMs
      ops += Op(id, kind, s, e, ok, if (ok) detail else s"$kind: $detail")
      kindMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += e - s
    }
    /** Bytes and data files a write op left under the lake root. */
    def accountWrites(): Unit = {
      val now = Sys.files(root)
      now.foreach { case (p, n) =>
        if (!seen.get(p).contains(n)) {
          writtenBytes += n - seen.getOrElse(p, 0L)
          if (!seen.contains(p) && p.endsWith(".parquet")) filesWritten += 1
        }
      }
      seen = now
    }
    def committed(): Unit = {
      invalidated += cache.invalidateTable("facts")
      recordSnap()
    }
    def factDf(rows: Seq[FactRow]): DataFrame = {
      userBytes += rows.map(r => 8L + keyStr(r.key).length + r.flag.length + 16).sum
      spark.createDataFrame(spark.sparkContext.parallelize(rows.map(r =>
        Row(r.id.toLong, keyStr(r.key), r.flag, r.qty, r.price)), 1), FactSchema)
    }

    def read(r: Read): Unit = timed("read") { id =>
      if (ctx.traced) {
        val considered0 = ctx.tracer.span(id, "meta", "resolve") {
          val t = Clock.nowMs
          val s = catalog.currentSnapshot("facts").get
          resolveMs += Clock.nowMs - t
          s.files.size
        }
        val keptN = ctx.tracer.span(id, "meta", "plan_files") {
          val t = Clock.nowMs
          val n = catalog.planFiles("facts", r.filters).size
          planMs += Clock.nowMs - t
          n
        }
        considered += considered0; kept += keptN
      }
      val hits0 = cache.stats.hits
      val t = Clock.nowMs
      val n = ctx.tracer.span(id, "cache", "get_or_load") {
        cache.getOrLoad(CacheKey("facts", r.key)) {
          ctx.tracer.span(id, "meta", "read") { catalog.read(spark, "facts", r.filters).filter(r.cond) }
        }.count()
      }
      (if (cache.stats.hits > hits0) hitMs else missMs) += Clock.nowMs - t
      if (n != r.expected) throw new IllegalStateException(s"${r.key}: $n rows, model ${r.expected}")
      true
    }

    /** A commit to `facts`: timed, then the model follows it. */
    def write(kind: String)(f: => Unit)(applyToModel: => Unit): Unit = {
      timed(kind) { id => ctx.tracer.span(id, "sinks", kind)(f); true }
      applyToModel
      committed(); accountWrites()
    }

    def append(): Unit = {
      val rows = gen.appendRows()
      val df = factDf(rows)
      write("append") { Writers.writeSnapshot(catalog, "facts", df, dataDir("facts")) } {
        rows.foreach(r => model.put(r.id, r.key))
      }
    }

    def merge(): Unit = {
      val rows = gen.mergeRows()
      val df = factDf(rows)
      write("merge") {
        Writers.mergeInto(spark, catalog, "facts", df, Seq("id"), dataDir("facts"))
      } { rows.foreach(r => model.put(r.id, r.key)) }
    }

    def delete(): Unit = {
      val (lo, hi) = gen.deleteRange()
      write("delete") {
        Writers.deleteWhereMoR(spark, catalog, "facts", col("id").between(lo, hi),
          Seq(RangeNum("id", lo, hi)), dataDir("facts"))
      } { model.delete(lo, hi) }
    }

    def ingest(batchId: Long): Unit = {
      val (novel, offered) = gen.ingestBatch(batchId)
      val batch = spark.createDataFrame(spark.sparkContext.parallelize(
        offered.map { case (i, t) => Row(i, t) }, 1),
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      userBytes += offered.map(x => 8L + x._2.getBytes("UTF-8").length).sum
      val before = catalog.currentSnapshot("docs").map(_.totalRows).getOrElse(0L)
      timed("ingest") { id =>
        ctx.tracer.span(id, "streaming", "ingest_batch") {
          IngestDedupSink.ingestBatch(catalog, "docs", "doc_id", "text", dataDir("docs"), ckpt)(
            batch, batchId)
        }
        val got = catalog.currentSnapshot("docs").map(_.totalRows).getOrElse(0L) - before
        docsOffered += offered.size; landed += got
        got == novel.size || { throw new IllegalStateException(s"landed $got of ${novel.size} novel") }
      }
      accountWrites()
    }

    /** A recorded snapshot still live, drawn from the newest ones. */
    def pickSnapshot(): (Long, Long) = {
      val live = catalog.snapshots("facts").map(_.snapshotId).toSet
      val cands = snapCounts.filter(x => live.contains(x._1)).takeRight(KeepSnapshots - 2)
      cands(gen.rng.nextInt(cands.size))
    }

    /** A cached read of a recorded snapshot's `id` column, counted. A
      * snapshot never changes, so its entry is keyed by snapshot id and
      * survives commits; only the budget pushes it out. */
    def timeTravel(snap: Long, expect: Long): Unit =
      timed("time_travel") { id =>
        val hits0 = cache.stats.hits
        val t = Clock.nowMs
        val n = ctx.tracer.span(id, "cache", "get_or_load") {
          cache.getOrLoad(CacheKey(s"facts@$snap", columns = Set("id"))) {
            ctx.tracer.span(id, "meta", "read_snapshot")(snapshotRead(Some(snap)))
          }.count()
        }
        (if (cache.stats.hits > hits0) hitMs else missMs) += Clock.nowMs - t
        n == expect || { throw new IllegalStateException(s"snapshot $snap: $n rows, model $expect") }
      }

    def maintain(): Unit = {
      write("compact") {
        // folds the small append/merge files, never the seeded ranges
        Writers.compact(spark, catalog, "facts", dataDir("facts"),
          targetBytes = 512L << 10, smallBytes = 64L << 10)
      } {}
      timed("expire") { id =>
        ctx.tracer.span(id, "meta", "expire") {
          Seq("facts", "docs", IngestDedupSink.indexTable("docs"), "facts_by_flag")
            .foreach(t => catalog.expireSnapshots(t, KeepSnapshots))
        }
        true
      }
      timed("maintenance") { id =>
        val rep = ctx.tracer.span(id, "sinks", "mv_refresh") { maintenance.runOnce() }
        val errs = rep.mvRefreshes.flatMap(_.error) ++ rep.sweeps.flatMap(_.error)
        errs.isEmpty || { throw new IllegalStateException(errs.mkString("; ")) }
      }
      accountWrites()
      // the refreshed view must count every live row
      checks += 1
      val mvRows = MaterializedAgg.readRendered(spark, catalog, "facts_by_flag")
        .agg(sum("n_rows")).collect().head.getLong(0)
      if (mvRows != model.count) { checksFailed += 1; bad += s"facts_by_flag: $mvRows rows, model ${model.count}" }
    }

    // ---- timed window -------------------------------------------------
    val parses0 = catalog.metaCacheStats("manifest_parses")
    val stats0 = cache.stats
    ctx.record(true)
    val t0 = Clock.nowMs
    var cycle = 0
    // whole cycles (at least MinCycles) until the time budget is spent;
    // maintenance runs on the first cycle and every MaintenanceEvery-th after
    while (cycle < MinCycles || Clock.nowMs - t0 < ctx.seconds * 1000) {
      cycle += 1
      append(); gen.readBurst(0).foreach(read)
      merge(); gen.readBurst(1).foreach(read)
      delete(); gen.readBurst(2).foreach(read)
      ingest(cycle.toLong); gen.readBurst(3).foreach(read)
      // a snapshot read, then the same again (a cache hit, like the
      // bursts' third read), so every cycle has one of each
      val (snap, expect) = pickSnapshot()
      timeTravel(snap, expect); timeTravel(snap, expect)
      if (cycle % MaintenanceEvery == 1 % MaintenanceEvery) maintain()
    }
    ctx.record(false)
    // release the cached reads (unpersist is asynchronous) so the live
    // heap measured after the window is the engine's, not the cache's
    val cacheEnd = cache.stats
    cache.clear()
    val waitUntil = Clock.nowMs + 5000
    while (!spark.sparkContext.getPersistentRDDs.isEmpty && Clock.nowMs < waitUntil) Thread.sleep(20)
    val all = ops.result()
    val windowS = (all.map(_.endMs).max - t0) / 1000
    val parses = catalog.metaCacheStats("manifest_parses") - parses0
    val stats = cacheEnd
    val snapFiles = catalog.currentSnapshot("facts").get
    val manifestBytes = Files.size(root.resolve("catalog").resolve("facts")
      .resolve(f"snap-${snapFiles.snapshotId}%06d.json"))

    def pct(kinds: Set[String], p: Double): Double =
      Stats.percentile(all.filter(o => o.ok && kinds(o.kind)).map(_.ms), p)
    val commits = Set("append", "merge", "delete", "ingest", "compact")
    val reads = Set("read", "time_travel")
    val report = Seq(
      ("commit_p50_ms", pct(commits, 50), "ms"), ("commit_p90_ms", pct(commits, 90), "ms"),
      ("read_p50_ms", pct(reads, 50), "ms"), ("read_p90_ms", pct(reads, 90), "ms"),
      ("write_amp", writtenBytes.toDouble / math.max(1L, userBytes), "ratio"),
      ("cycles", cycle.toDouble, "count"),
      ("live_files", snapFiles.files.size.toDouble, "count"),
      ("snapshots", catalog.snapshots("facts").size.toDouble, "count"))
    def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def kindMean(k: String): Double = mean(kindMs.getOrElse(k, Nil))
    val nOps = math.max(1, all.size).toDouble
    val lookups = (stats.hits - stats0.hits) + (stats.misses - stats0.misses)
    val layers =
      if (!ctx.traced) Nil
      else Seq(
        ("meta.resolve_ms", mean(resolveMs), "ms"), ("meta.plan_files_ms", mean(planMs), "ms"),
        ("meta.files_considered", mean(considered), "count"),
        ("meta.files_kept", mean(kept), "count"),
        ("meta.prune_ratio", 1 - kept.sum / math.max(1.0, considered.sum), "ratio"),
        ("meta.manifest_parses", parses / nOps, "count"),
        ("meta.manifest_bytes", manifestBytes.toDouble, "B"),
        ("meta.expire_ms", kindMean("expire"), "ms"),
        ("meta.live_files", snapFiles.files.size.toDouble, "count"),
        ("meta.snapshots", catalog.snapshots("facts").size.toDouble, "count"),
        ("cache.hits", (stats.hits - stats0.hits).toDouble, "count"),
        ("cache.misses", (stats.misses - stats0.misses).toDouble, "count"),
        ("cache.hit_ratio", (stats.hits - stats0.hits).toDouble / math.max(1L, lookups), "ratio"),
        // TableCache counts an invalidation as an eviction too
        ("cache.evictions", (stats.evictions - stats0.evictions - invalidated).toDouble, "count"),
        ("cache.invalidated", invalidated.toDouble, "count"),
        ("cache.hit_ms", mean(hitMs), "ms"), ("cache.miss_ms", mean(missMs), "ms"),
        ("cache.bytes", stats.sizeBytes.toDouble, "B"),
        ("sinks.append_ms", kindMean("append"), "ms"), ("sinks.merge_ms", kindMean("merge"), "ms"),
        ("sinks.delete_ms", kindMean("delete"), "ms"),
        ("sinks.compact_ms", kindMean("compact"), "ms"),
        ("sinks.mv_refresh_ms", kindMean("maintenance"), "ms"),
        ("sinks.files_written", filesWritten / nOps, "count"),
        ("sinks.bytes_written", writtenBytes / nOps, "B"),
        ("streaming.ingest_ms", kindMean("ingest"), "ms"),
        ("streaming.landed_ratio",
          (landed.toDouble / math.max(1L, docsOffered)) / (1 - IngestDupShare), "ratio"))
    RunResult(all, checks, checksFailed, windowS, report, layers,
      Map("check_failures" -> bad.result(),
        "cache" -> Map("hits" -> (stats.hits - stats0.hits), "misses" -> (stats.misses - stats0.misses),
          "evictions" -> (stats.evictions - stats0.evictions - invalidated),
          "invalidated" -> invalidated, "bytes" -> stats.sizeBytes, "budget" -> cacheBudget),
        "kind_p50_ms" -> kindMs.map { case (k, v) => k -> Stats.median(v.toSeq) },
        "op_ms" -> all.map(o => s"${o.kind}:${o.ms.round}")),
      // the median of every op lands in the sparse tail of the reads
      // (about their 70th percentile) and moves with it; the median read
      // is what a reader waits for, and the tail stays every op's p90
      medianKinds = Some(reads))
  }

  val Words: IndexedSeq[String] = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast row the agg " +
    "key query a scan batch").split(" ").toIndexedSeq
}
