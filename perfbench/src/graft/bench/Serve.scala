package graft.bench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, OutputStream}
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.serve.{ArrowStream, GraftHttpServer, ServingApi}
import graft.sql.QueryEngine
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader

import scala.jdk.CollectionConverters._

/** `serve`: `GraftHttpServer` over the sf0.1 corpus on loopback, driven
  * by three closed-loop HTTP clients. The traffic mix is a guess from
  * the reference's API surface (`execute_query`, `do_get`,
  * `get_flight_info`), not a production trace. */
object Serve {

  /** One request shape: endpoint path plus query string, and the SQL
    * (or table) it serves, used for the expected row count. */
  final case class Req(kind: String, path: String, key: String)

  private def day(offset: Int): String =
    java.time.LocalDate.of(1995, 1, 1).plusDays(offset.toLong).toString

  /** 64 short texts: point lookups, date-range aggregates, small top-k.
    * Results carry no TIMESTAMP_NTZ column: the Arrow wire cannot encode
    * one (see perfbench/README.md, "Known defects"). */
  val Short: Seq[String] =
    (0 until 16).map(i =>
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority " +
        s"FROM orders WHERE o_orderkey = ${i * 9157 + 11}") ++
      (0 until 8).map(i => s"SELECT * FROM customer WHERE c_custkey = ${i * 1811 + 7}") ++
      (0 until 16).map { i =>
        s"SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total FROM orders " +
          s"WHERE o_orderdate >= TIMESTAMP '${day(i * 140)}' AND o_orderdate < " +
          s"TIMESTAMP '${day(i * 140 + 30)}' GROUP BY o_orderpriority"
      } ++
      (0 until 16).map { i =>
        s"SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem WHERE l_shipdate >= " +
          s"TIMESTAMP '${day(i * 150 + 3)}' AND l_shipdate < TIMESTAMP '${day(i * 150 + 10)}' " +
          s"ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT ${5 + i * 3}"
      } ++
      (0 until 8).map(i =>
        s"SELECT event_type, count(*) AS n FROM events WHERE user_id = ${i * 181 + 3} GROUP BY event_type")

  /** 8 medium texts of 10k-50k rows. */
  val Medium: Seq[String] =
    Seq(180, 400, 560, 760).map(d =>
      s"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderdate >= " +
        s"TIMESTAMP '${day(300)}' AND o_orderdate < TIMESTAMP '${day(300 + d)}'") ++
      Seq(400, 800, 1200, 1600).map(p =>
        s"SELECT l_orderkey, l_partkey, l_quantity FROM lineitem WHERE l_partkey < $p")

  /** The table `/table` streams: `events`, whose timestamps the engine
    * loads as TIMESTAMP (orders' NTZ dates fail on the Arrow wire). */
  val TableName = "events"

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  /** One client's deck of 20 request kinds: the mix in exact
    * proportions, dealt in a seeded order per round. */
  val Deck: Seq[String] = Seq.fill(12)("query_arrow") ++ Seq.fill(4)("medium_arrow") ++
    Seq.fill(2)("table_arrow") ++ Seq("query_ndjson", "schema")

  /** Seeded request stream of one client. */
  final class Mix(seed: Long) {
    private val rng = new Rng(seed)
    private val rank = new Rng(seed ^ 0x5EED).shuffle(Short.indices)
    private var deck: List[String] = Nil
    def next(): Req = {
      if (deck.isEmpty) deck = rng.shuffle(Deck).toList
      val kind = deck.head
      deck = deck.tail
      val short = Short(rank(rng.zipf(Short.size)))
      kind match {
        case "query_arrow" => Req(kind, s"/query?format=arrow&sql=${enc(short)}", short)
        case "medium_arrow" =>
          val m = Medium(rng.nextInt(Medium.size))
          Req(kind, s"/query?format=arrow&sql=${enc(m)}", m)
        case "table_arrow" => Req(kind, s"/table?name=$TableName&format=arrow", s"table:$TableName")
        case "query_ndjson" => Req(kind, s"/query?sql=${enc(short)}", short)
        case _ => Req(kind, s"/schema?sql=${enc(short)}", short)
      }
    }
  }

  final case class Resp(firstByteMs: Double, bytes: Long, rows: Long)

  /** Rows of a response body: Arrow IPC batches, NDJSON lines after the
    * schema line, or the field count of a /schema reply. */
  def rowsOf(kind: String, body: Array[Byte]): Long = kind match {
    case "schema" =>
      org.apache.spark.sql.types.DataType.fromJson(new String(body, UTF_8).trim)
        .asInstanceOf[org.apache.spark.sql.types.StructType].size.toLong
    case "query_ndjson" =>
      new String(body, UTF_8).linesIterator.count(_.nonEmpty) - 1L
    case _ =>
      val alloc = new RootAllocator(Long.MaxValue)
      try {
        val reader = new ArrowStreamReader(new ByteArrayInputStream(body), alloc)
        try {
          var n = 0L
          while (reader.loadNextBatch()) n += reader.getVectorSchemaRoot.getRowCount
          n
        } finally reader.close()
      } finally alloc.close()
  }

  /** GET `path`; returns the body, and the time of its first byte. */
  def get(port: Int, path: String, t0: Double): (Array[Byte], Double) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setReadTimeout(30000)
    try {
      val code = c.getResponseCode
      val in = if (code == 200) c.getInputStream else c.getErrorStream
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 16)
      var first = Double.NaN
      var k = in.read(buf)
      while (k >= 0) {
        if (first.isNaN && k > 0) first = Clock.nowMs - t0
        out.write(buf, 0, k)
        k = in.read(buf)
      }
      in.close()
      if (code != 200)
        throw new RuntimeException(s"HTTP $code: ${new String(out.toByteArray, UTF_8).take(200)}")
      (out.toByteArray, if (first.isNaN) Clock.nowMs - t0 else first)
    } catch {
      case e: Exception => c.disconnect(); throw e
    }
  }

  /** Expected row count per request key, from the committed file. */
  def expected(ctx: Ctx): Map[String, Long] =
    new String(Files.readAllBytes(ctx.expected.resolve("serve.tsv")), UTF_8)
      .linesIterator.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(rows, key) = l.split("\t", 2)
        key -> rows.toLong
      }.toMap

  def expectedRows(exp: Map[String, Long], r: Req): Long =
    if (r.kind == "schema") exp("schema:" + r.key) else exp(r.key)

  val Clients = 3

  def run(ctx: Ctx): RunResult = {
    val exp = expected(ctx)
    val server = new GraftHttpServer(ctx.spark, ctx.corpus).start()
    try {
      val port = server.boundPort
      // warm-up (setup): every distinct request once, checked
      val distinct = Short.flatMap(s => Seq(Req("query_arrow", s"/query?format=arrow&sql=${enc(s)}", s))) ++
        Medium.map(m => Req("medium_arrow", s"/query?format=arrow&sql=${enc(m)}", m)) ++
        Seq(Req("table_arrow", s"/table?name=$TableName&format=arrow", s"table:$TableName"),
          Req("query_ndjson", s"/query?sql=${enc(Short.head)}", Short.head),
          Req("schema", s"/schema?sql=${enc(Short.head)}", Short.head))
      val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val warm = (0 until Clients).map { c =>
        new Thread(() => distinct.zipWithIndex.filter(_._2 % Clients == c).foreach { case (r, _) =>
          val ok = try rowsOf(r.kind, get(port, r.path, Clock.nowMs)._1) == expectedRows(exp, r)
            catch { case e: Exception => bad.add(s"${r.kind}: ${e.getMessage}"); false }
          if (!ok) bad.add(s"warm-up ${r.kind}: ${r.key.take(80)}")
        }, s"perfbench-warm-$c")
      }
      warm.foreach(_.start())
      warm.foreach(_.join())
      val checks = distinct.size
      val checksFailed = bad.asScala.count(_.startsWith("warm-up"))

      // timed window: closed-loop clients, each waiting for its reply.
      // Spark is not counted here: with three clients in flight, a job
      // cannot be told apart from another client's; the traced run counts
      // it in a one-at-a-time replay instead
      val t0 = Clock.nowMs
      val deadline = t0 + ctx.seconds * 1000
      val results = new java.util.concurrent.ConcurrentLinkedQueue[(Op, Resp, Req)]()
      val ids = new java.util.concurrent.atomic.AtomicLong(0)
      val threads = (0 until Clients).map { c =>
        new Thread(() => {
          val mix = new Mix(ctx.seed * 1000003L + c)
          while (Clock.nowMs < deadline) {
            val r = mix.next()
            val id = ids.incrementAndGet()
            val s = Clock.nowMs
            val (resp, err) = try {
              val (body, fb) = ctx.tracer.span(id, "op", r.kind) { get(port, r.path, s) }
              (Resp(fb, body.length, rowsOf(r.kind, body)), "")
            } catch { case e: Exception => (Resp(0, 0, -1), e.toString) }
            val e = Clock.nowMs
            val ok = resp.rows >= 0 && resp.rows == expectedRows(exp, r)
            results.add((Op(id, r.kind, s, e, ok,
              if (ok) "" else s"${r.key.take(80)} rows=${resp.rows} $err"), resp, r))
          }
        }, s"perfbench-client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val all = results.toArray(Array.empty[(Op, Resp, Req)]).toSeq.sortBy(_._1.startMs)
      val ops = all.map(_._1)
      val windowS = (ops.map(_.endMs).max - t0) / 1000
      val okAll = all.filter(_._1.ok)
      def perRow(kinds: Set[String]): Double = {
        val xs = okAll.filter(x => kinds(x._3.kind) && x._2.rows > 0)
        xs.map(_._2.bytes).sum.toDouble / math.max(1L, xs.map(_._2.rows).sum)
      }
      val report = Seq(
        ("first_byte_p50_ms", Stats.median(okAll.map(_._2.firstByteMs)), "ms"),
        ("serve_mb_s", okAll.map(_._2.bytes).sum / 1e6 / windowS, "MB/s"),
        ("clients", Clients.toDouble, "count"))
      val (replayOps, replayLayers) =
        if (!ctx.traced) (Nil, Nil)
        else {
          val mix = new Mix(ctx.seed * 1000003L)
          replay(ctx, Seq.fill(Deck.size)(mix.next()))
        }
      val layers =
        if (!ctx.traced) Nil
        else replayLayers ++ Seq(
          ("serve.arrow_bytes_per_row", perRow(Set("query_arrow", "medium_arrow", "table_arrow")), "B"),
          ("serve.json_bytes_per_row", perRow(Set("query_ndjson")), "B"))
      RunResult(ops, checks, checksFailed, windowS, report, layers,
        Map("check_failures" -> bad.asScala.toSeq), sparkOps = Some(replayOps))
    } finally server.stop()
  }

  private final class CountingSink extends OutputStream {
    var n = 0L
    override def write(b: Int): Unit = n += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
  }

  /** Serve `r` in process the way the server does, writing the reply
    * body to `out`. */
  private def serveLocal(ctx: Ctx, engine: QueryEngine, r: Req, out: OutputStream): Unit =
    r.kind match {
      case "schema" => out.write((engine.sql(r.key).schema.json + "\n").getBytes(UTF_8))
      case "table_arrow" =>
        ArrowStream.write(graft.Tables.load(ctx.spark, ctx.corpus, TableName), out,
          ServingApi.DefaultBatchSize)
      case "query_ndjson" =>
        val df = engine.sql(r.key)
        out.write((df.schema.json + "\n").getBytes(UTF_8))
        df.toJSON.toLocalIterator().forEachRemaining(l => out.write((l + "\n").getBytes(UTF_8)))
      case _ => ArrowStream.write(engine.sql(r.key), out, ServingApi.DefaultBatchSize)
    }

  /** In-process replay of one client's first deck (the mix in exact
    * proportions), one request at a time. First each request is served
    * as the server serves it, with Spark counting on: these are the ops
    * the spark.* metrics describe, free of other clients' jobs. Then,
    * counting off, the layers a request crosses are timed: SQL planning,
    * execution (noop sink), and Arrow encoding — `ArrowStream.write` to a
    * counting sink minus pulling the same rows through `toLocalIterator`,
    * the way the server reads them. Each measurement plans its own
    * DataFrame: re-running one would skip its finished shuffle stages. */
  private def replay(ctx: Ctx, reqs: Seq[Req]): (Seq[Op], Seq[(String, Double, String)]) = {
    val engine = new QueryEngine(ctx.spark, ctx.corpus)
    engine.register()
    val served = reqs.zipWithIndex.map { case (r, i) =>
      val id = -(i + 1).toLong
      ctx.record(true)
      val s = Clock.nowMs
      ctx.tracer.span(id, "replay", r.kind) { serveLocal(ctx, engine, r, new CountingSink) }
      val e = Clock.nowMs
      ctx.record(false)
      Op(id, r.kind, s, e, ok = true)
    }
    val planMs, execMs, encodeMs = collection.mutable.ArrayBuffer.empty[Double]
    def timedMs(f: => Unit): Double = { val t = Clock.nowMs; f; Clock.nowMs - t }
    reqs.zipWithIndex.foreach { case (r, i) =>
      val id = -(i + 1).toLong
      val sql = if (r.key.startsWith("table:")) s"SELECT * FROM $TableName" else r.key
      planMs += timedMs(ctx.tracer.span(id, "sql", "plan") {
        engine.sql(sql).queryExecution.executedPlan; ()
      })
      execMs += timedMs(ctx.tracer.span(id, "serve", "exec") { Battery.noop(engine.sql(sql)) })
      val pull = timedMs(ctx.tracer.span(id, "serve", "pull") {
        engine.sql(sql).toLocalIterator().forEachRemaining(_ => ())
      })
      val write = timedMs(ctx.tracer.span(id, "serve", "encode") {
        ArrowStream.write(engine.sql(sql), new CountingSink, ServingApi.DefaultBatchSize)
      })
      encodeMs += write - pull
    }
    def mean(xs: collection.mutable.ArrayBuffer[Double]): Double =
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    (served, Seq(("sql.plan_ms", mean(planMs), "ms"), ("serve.exec_ms", mean(execMs), "ms"),
      ("serve.encode_ms", mean(encodeMs), "ms")))
  }

  /** Expected row count per request key, computed by the engine's own
    * SQL path; cross-checked against DuckDB by perfbench/oracle_check.py. */
  def makeExpected(spark: org.apache.spark.sql.SparkSession, corpus: String): Seq[String] = {
    val engine = new QueryEngine(spark, corpus)
    (Short ++ Medium).map(s => s"${engine.sql(s).count()}\t$s") ++
      Short.map(s => s"${engine.sql(s).schema.size}\tschema:$s") ++
      Seq(s"${graft.Tables.load(spark, corpus, TableName).count()}\ttable:$TableName")
  }
}
