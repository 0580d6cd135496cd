package graft.serve

import java.io.OutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sql.QueryEngine
import org.apache.spark.sql.{DataFrame, GraftArrowShim, SparkSession}

/** Network serving endpoint over the engine — the reference capability a
  * user hits first: its Arrow Flight server (reference:
  * src/flight_server/server.py:9), re-expressed as a dependency-free
  * HTTP/1.1 chunked-streaming server on the JDK's built-in HttpServer
  * (no Flight/gRPC jars exist in this environment).
  *
  *   - `GET /tables`            — name → schema JSON for the served
  *     corpus (reference: `list_flights`, server.py:14)
  *   - `GET /schema?sql=...`    — result schema WITHOUT executing
  *     (reference: `get_flight_info`, server.py:19)
  *   - `GET /query?sql=...`     — newline-delimited JSON stream: first
  *     line is the schema, then one row per line in batches (reference:
  *     `do_get`, server.py:41, 10k-row record batches)
  *   - `GET /query?format=arrow&sql=...` — the same rows as an Arrow IPC
  *     record-batch stream (`application/vnd.apache.arrow.stream`), the
  *     reference's actual `do_get` wire format — ~10× fewer bytes and
  *     far less CPU than JSON on wide results (see [[ArrowStream]])
  *   - `GET /table?name=...[&format=arrow]` — stream a whole table by
  *     name: the reference's literal `do_get` ticket shape (server.py:40,
  *     ticket = table id)
  *   - `GET /changes?table=...&from=ID[&to=ID][&mode=net|percommit][&format=arrow]`
  *     — stream the row-level change feed between two snapshots, net by
  *     default (CDC as a service; needs a `SnapshotCatalog` wired at
  *     construction); an unknown mode is a 400
  *   - `GET /history?table=...[&limit=N]` — snapshot history, newest
  *     first (reference: `get_snapshot_history`, metadata.py:189)
  *   - `GET /ndv?table=...&column=...[&snapshot=ID]` — metadata-only
  *     approximate distinct count from manifest HLL sketches (S37)
  *   - `GET /staged?table=...` — pending write-audit-publish stages (S38)
  *
  * Scale: every result, Arrow or NDJSON, is encoded on the executors
  * and streamed by [[OrderedPartitions]]: one Spark job per window of
  * partitions, written in partition order and flushed after each
  * partition. Per request the driver holds one window: at most
  * `defaultParallelism` encoded partitions, and no more than fit in half
  * of `spark.driver.maxResultSize` and an eighth of the heap (a single
  * larger partition still goes alone), so a result far larger than the
  * driver streams through it.
  *
  * `/tables`, `/table` and `/query` read the temp views `start()`
  * registers and list no files. Views belong to the session, not to the
  * server: if another engine on the same session registers a different
  * directory, this server serves that corpus.
  *
  * Binds loopback by default (a cache node serves co-located consumers;
  * cross-node transport is the cluster's RPC layer, not this shim).
  *
  * Every `/query` runs in its own Spark job group with
  * `interruptOnCancel`: a client that disconnects mid-stream cancels the
  * jobs feeding its iterator on the next failed write, and
  * `queryTimeoutMs > 0` bounds total query time — a slow query cannot
  * pin one of the 4 handler threads (and its executor slots) forever.
  * The timeout cancels the group's later jobs too, so one that fires
  * between two windows of a stream still ends it.
  */
final class GraftHttpServer(
    spark: SparkSession,
    dir: String,
    port: Int = 0,
    batchSize: Int = ServingApi.DefaultBatchSize,
    queryTimeoutMs: Long = 0L,
    catalog: Option[graft.meta.SnapshotCatalog] = None) {

  private val engine = new QueryEngine(spark, dir)
  private var server: HttpServer = _
  // per-start() lifecycle so stop()/start() cycles get a fresh scheduler
  private var timeouts: java.util.concurrent.ScheduledExecutorService = _
  private var handlers: java.util.concurrent.ExecutorService = _

  /** Bound port (ephemeral when constructed with port=0). */
  def boundPort: Int = server.getAddress.getPort

  def start(): GraftHttpServer = synchronized {
    require(server == null, "server already started")
    engine.register()
    // bind BEFORE allocating the scheduler: a BindException must not leak
    // a daemon thread across retried start() calls
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    timeouts = Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-http-timeouts"); t.setDaemon(true); t
    }
    server.createContext("/tables", (ex: HttpExchange) => safely(ex)(handleTables))
    server.createContext("/schema", (ex: HttpExchange) => safely(ex)(handleSchema))
    server.createContext("/query", (ex: HttpExchange) => safely(ex)(handleQuery))
    server.createContext("/table", (ex: HttpExchange) => safely(ex)(handleTable))
    server.createContext("/changes", (ex: HttpExchange) => safely(ex)(handleChanges))
    server.createContext("/history", (ex: HttpExchange) => safely(ex)(handleHistory))
    server.createContext("/ndv", (ex: HttpExchange) => safely(ex)(handleNdv))
    server.createContext("/stats", (ex: HttpExchange) => safely(ex)(handleStats))
    server.createContext("/staged", (ex: HttpExchange) => safely(ex)(handleStaged))
    server.createContext("/branches", (ex: HttpExchange) => safely(ex)(handleBranches))
    server.createContext("/partitions", (ex: HttpExchange) => safely(ex)(handlePartitions))
    val threads = Executors.defaultThreadFactory()
    val handlerIds = new java.util.concurrent.atomic.AtomicInteger()
    handlers = Executors.newFixedThreadPool(4, (r: Runnable) => {
      val t = threads.newThread(r)
      t.setName(s"graft-http-$boundPort-handler-${handlerIds.incrementAndGet()}")
      t
    })
    server.setExecutor(handlers)
    server.start()
    this
  }

  def stop(): Unit = synchronized {
    if (server != null) {
      server.stop(0); server = null
      timeouts.shutdownNow(); timeouts = null
      // the handler threads are not daemons: left running, every
      // start/stop cycle would leak 4 of them and keep the JVM alive
      handlers.shutdownNow()
      handlers.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
      handlers = null
    }
  }

  // ---- handlers --------------------------------------------------------

  private def handleTables(ex: HttpExchange): Unit = {
    val body = graft.Tables.names
      .map(n => s""""$n":${spark.table(n).schema.json}""")
      .mkString("{", ",", "}")
    respond(ex, 200, body + "\n")
  }

  private def handleSchema(ex: HttpExchange): Unit =
    respond(ex, 200, engine.sql(required(ex, "sql")).schema.json + "\n")

  private def handleQuery(ex: HttpExchange): Unit = {
    val sql = required(ex, "sql")
    streamResult(ex, engine.sql(sql), s"/query: ${sql.take(120)}")
  }

  /** `do_get` by table name — the reference's actual ticket shape
    * (server.py:40: ticket = table id, streamed in record batches). */
  private def handleTable(ex: HttpExchange): Unit = {
    val name = required(ex, "name")
    if (!graft.Tables.names.contains(name))
      throw new IllegalArgumentException(s"unknown table: $name")
    streamResult(ex, engine.sql(s"SELECT * FROM $name"), s"/table: $name")
  }

  private def cat: graft.meta.SnapshotCatalog = catalog.getOrElse(
    throw new IllegalArgumentException("no snapshot catalog configured on this server"))

  /** Row-level change feed between snapshots, streamed like any query
    * result — CDC-as-a-service over
    * [[graft.meta.SnapshotCatalog.changesBetween]] (or, with
    * `mode=percommit`, [[graft.meta.SnapshotCatalog.changesPerCommit]]):
    * `GET /changes?table=T&from=ID[&to=ID][&mode=net|percommit][&format=arrow]`. */
  private def handleChanges(ex: HttpExchange): Unit = {
    val table = required(ex, "table")
    val from = required(ex, "from").toLong
    val to = param(ex, "to").map(_.toLong)
    // mode=percommit streams the Delta-CDF-style attributed feed (one
    // diff per commit, _commit_snapshot_id/_commit_timestamp_ms columns);
    // the default (mode=net) streams the NET endpoint delta, and any
    // other mode is a 400
    val feed =
      if (graft.meta.SnapshotCatalog.perCommitFeed(param(ex, "mode")))
        cat.changesPerCommit(spark, table, from, to)
      else cat.changesBetween(spark, table, from, to)
    streamResult(ex, feed, s"/changes: $table $from..${to.getOrElse("current")}")
  }

  /** Snapshot history, newest first (reference: `get_snapshot_history`,
    * src/iceberg_management/metadata.py:189):
    * `GET /history?table=T[&limit=N]`. */
  private def handleHistory(ex: HttpExchange): Unit = {
    val table = required(ex, "table")
    val limit = param(ex, "limit").map(_.toInt)
    val body = cat.history(table, limit).map { m =>
      m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    respond(ex, 200, body + "\n")
  }

  /** Table stats straight from the manifest (the reference's
    * `get_table_stats` surface): `GET /stats?table=T[&snapshot=ID]` →
    * row/file/byte counts plus outstanding MoR delete-file and
    * masked-row counts. Metadata-only, no data file opens. */
  private def handleStats(ex: HttpExchange): Unit = {
    val table = required(ex, "table")
    val snap = param(ex, "snapshot").map(_.toLong)
    val body = cat.tableStats(table, snap).map {
      case (k, v: String) => s""""$k":"$v""""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")
    respond(ex, 200, body + "\n")
  }

  /** Metadata-only NDV from manifest HLL sketches (SURVEY §2 S37):
    * `GET /ndv?table=T&column=C[&snapshot=ID]` → `{"table":…,"column":…,
    * "ndv":N}` or 404 when the column is not sketch-indexed — answered
    * without touching a data file. */
  private def handleNdv(ex: HttpExchange): Unit = {
    val table = required(ex, "table")
    val column = required(ex, "column")
    val snap = param(ex, "snapshot").map(_.toLong)
    cat.approxCountDistinct(spark, table, column, snap) match {
      case Some(n) =>
        respond(ex, 200, s"""{"table":${quote(table)},"column":${quote(column)},"ndv":$n}""" + "\n")
      case None =>
        respond(ex, 404,
          s"""{"error":${quote(s"column $column of $table is not sketch-indexed")}}""" + "\n")
    }
  }

  /** Per-partition manifest rollup (SURVEY §2 S36's `$partitions`
    * as a service): `GET /partitions?table=T` -> one JSON object per
    * partition tuple with file/row/byte/delete-entry counts — the
    * remote small-file/skew monitor, zero data files opened. */
  private def handlePartitions(ex: HttpExchange): Unit = {
    val table = required(ex, "table")
    val snap = cat.currentSnapshot(table).getOrElse(
      throw new IllegalArgumentException(s"no snapshots for table $table"))
    val delRows: Map[String, Long] = snap.deleteFiles
      .flatMap(d => d.dataPaths.map(_ -> d.rowCount))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val body = snap.files.groupBy(_.partitionValues).toSeq
      .sortBy(_._1.toSeq.sorted.mkString(","))
      .map { case (pv, fs) =>
        val pvJson = pv.toSeq.sorted
          .map { case (k, v) => s"${quote(k)}:${quote(v)}" }.mkString("{", ",", "}")
        s"""{"partition":$pvJson,"n_files":${fs.size},""" +
          s""""total_rows":${fs.map(_.rowCount).sum},"total_bytes":${fs.map(_.sizeBytes).sum},""" +
          s""""delete_entry_count":${fs.map(f => delRows.getOrElse(f.path, 0L)).sum}}"""
      }.mkString("[", ",", "]")
    respond(ex, 200, body + "\n")
  }

  /** Pending write-audit-publish stages (SURVEY §2 S38):
    * `GET /staged?table=T` → the audit queue. */
  private def handleStaged(ex: HttpExchange): Unit = {
    val table = required(ex, "table")
    val body = cat.listStaged(table).flatMap(id => cat.staged(table, id)).map { st =>
      s"""{"staged_id":${quote(st.stagedId)},"parent_id":${st.parentId.getOrElse(-1L)},""" +
        s""""timestamp_ms":${st.timestampMs},"n_files":${st.paths.size}}"""
    }.mkString("[", ",", "]")
    respond(ex, 200, body + "\n")
  }

  /** Branch refs of a table (SURVEY §2 S44): `GET /branches?table=T` →
    * name, head snapshot id and fork point per branch. Metadata-only. */
  private def handleBranches(ex: HttpExchange): Unit = {
    val table = required(ex, "table")
    val body = cat.branches(table).flatMap { name =>
      val ref = cat.branchRef(table, name)
      cat.currentSnapshot(ref).map { head =>
        val forkId = cat.snapshotById(ref, 1L)
          .flatMap(_.props.get(graft.meta.SnapshotCatalog.ForkIdProp)).getOrElse("-1")
        s"""{"branch":${quote(name)},"head_snapshot_id":${head.snapshotId},""" +
          s""""forked_at":$forkId,"n_files":${head.files.size}}"""
      }
    }.mkString("[", ",", "]")
    respond(ex, 200, body + "\n")
  }

  private def streamResult(ex: HttpExchange, df: DataFrame, desc: String): Unit = {
    val arrow = param(ex, "format").contains("arrow")
    // the Arrow schema is built BEFORE the 200 header, so an unsupported
    // column type gets safely's error status, not a 200 with no body
    val body: OutputStream => Unit =
      if (arrow) ArrowStream.writer(df, batchSize) else ndjson(df)
    // one job group per request, interruptible: disconnect or timeout
    // cancels the Spark jobs feeding the stream, not just the stream
    val sc = spark.sparkContext
    val groupId = s"graft-http-${java.util.UUID.randomUUID().toString.take(8)}"
    sc.setJobGroup(groupId, desc, interruptOnCancel = true)
    // capture once: stop() nulls the field concurrently with in-flight
    // handlers (server.stop(0) does not quiesce them)
    val sched = timeouts
    val timeout =
      if (queryTimeoutMs <= 0 || sched == null) None
      else Some(sched.schedule(
        new Runnable { def run(): Unit = OrderedPartitions.cancel(sc, groupId) },
        queryTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
    try {
      ex.getResponseHeaders.add("Content-Type",
        if (arrow) "application/vnd.apache.arrow.stream"
        else "application/x-ndjson; charset=utf-8")
      ex.sendResponseHeaders(200, 0) // 0 = chunked transfer
      val os = ex.getResponseBody
      try body(os) finally os.close()
    } catch {
      case e: Throwable => // client gone or query died: free the executors
        sc.cancelJobGroup(groupId)
        throw e
    } finally {
      timeout.foreach(_.cancel(false))
      sc.clearJobGroup()
    }
  }

  /** Schema line, then one JSON row per line, encoded on the executors
    * in chunks of `batchSize` lines and written in partition order. */
  private def ndjson(df: DataFrame)(os: OutputStream): Unit = {
    val json = df.toJSON
    val lines = batchSize
    write(os, df.schema.json + "\n")
    GraftArrowShim.withExecution(json, "graft ndjson stream") {
      val chunks = json.queryExecution.toRdd.mapPartitions(
        _.map(_.getUTF8String(0).getBytes).grouped(lines).map { group =>
          val b = new java.io.ByteArrayOutputStream()
          group.foreach { line => b.write(line); b.write('\n') }
          b.toByteArray
        })
      OrderedPartitions.iterator(json, chunks).foreach { part =>
        part.foreach(os.write)
        os.flush()
      }
    }
  }

  // ---- plumbing --------------------------------------------------------

  private def param(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap {
      _.split('&').collectFirst {
        case kv if kv.startsWith(name + "=") =>
          URLDecoder.decode(kv.stripPrefix(name + "="), "UTF-8")
      }
    }

  private def required(ex: HttpExchange, name: String): String =
    param(ex, name).getOrElse(throw new IllegalArgumentException(s"missing $name parameter"))

  private def safely(ex: HttpExchange)(h: HttpExchange => Unit): Unit =
    try h(ex)
    catch {
      case e: Exception =>
        // headers may already be sent mid-stream; then closing the body
        // truncates the chunked stream, which the client sees as an error
        try respond(ex, 400, s"""{"error":${quote(e.getMessage)}}\n""")
        catch { case _: Exception => () }
    } finally ex.close()

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def write(os: OutputStream, s: String): Unit = os.write(s.getBytes(UTF_8))

  private def quote(s: String): String =
    "\"" + Option(s).getOrElse("").replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""
}
