package graft.serve

import java.net.{HttpURLConnection, URI, URLEncoder}

import graft.SparkSpec

import scala.io.Source

class GraftHttpServerSpec extends SparkSpec {

  private def get(url: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(60000)
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = Source.fromInputStream(is, "UTF-8").mkString
    conn.disconnect()
    (code, body)
  }

  private def enc(sql: String) = URLEncoder.encode(sql, "UTF-8")

  test("serves table listing, schemas, and streamed query results over HTTP") {
    val srv = new GraftHttpServer(spark, sfDir, port = 0, batchSize = 1000).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"

      val (tc, tables) = get(s"$base/tables")
      assert(tc == 200)
      assert(tables.contains("\"orders\"") && tables.contains("o_orderkey"))

      val (sc, schema) = get(s"$base/schema?sql=" + enc(
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1"))
      assert(sc == 200)
      assert(schema.contains("o_orderstatus") && schema.contains("\"n\""))

      // do_get analogue: first line schema, then one JSON row per line
      val (qc, body) = get(s"$base/query?sql=" + enc(
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1 ORDER BY 1"))
      assert(qc == 200)
      val lines = body.trim.split("\n")
      assert(lines.head.contains("struct"), "first line must be the schema")
      val rows = lines.tail
      assert(rows.length == 3 && rows.forall(_.startsWith("{\"o_orderstatus\"")))

      // a result larger than one batch streams completely
      val n = 2500 // lineitem has ~6000 rows at sf0.001; batchSize is 1000
      val (bc, big) = get(s"$base/query?sql=" + enc(
        s"SELECT l_orderkey FROM lineitem LIMIT $n"))
      assert(bc == 200)
      assert(big.trim.split("\n").length == n + 1)

      // bad SQL is a clean 400, not a hung stream
      val (ec, err) = get(s"$base/query?sql=" + enc("SELECT FROM nope"))
      assert(ec == 400 && err.contains("error"))

      val (mc, _) = get(s"$base/query")
      assert(mc == 400)

      // do_get by table name (the reference's ticket shape)
      val (nc, nbody) = get(s"$base/table?name=nation")
      assert(nc == 200)
      assert(nbody.trim.split("\n").length ==
        1 + graft.Tables.load(spark, sfDir, "nation").count().toInt)
      val (uc, _) = get(s"$base/table?name=nope")
      assert(uc == 400)

      // and the same table over the Arrow wire
      val tconn = URI.create(s"$base/table?format=arrow&name=nation")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      assert(tconn.getResponseCode == 200 && tconn.getContentType.contains("arrow"))
      val talloc = new org.apache.arrow.memory.RootAllocator()
      val treader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        tconn.getInputStream, talloc)
      var arrowTableRows = 0
      while (treader.loadNextBatch())
        arrowTableRows += treader.getVectorSchemaRoot.getRowCount
      treader.close(); talloc.close(); tconn.disconnect()
      assert(arrowTableRows == graft.Tables.load(spark, sfDir, "nation").count())
    } finally srv.stop()
  }

  test("format=arrow streams IPC record batches row-for-row equal to the NDJSON path") {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    val srv = new GraftHttpServer(spark, sfDir, port = 0, batchSize = 100).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      // multiple batches (250 rows / batchSize 100), mixed scalar types
      val sql = "SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 250"

      val conn = URI.create(s"$base/query?format=arrow&sql=" + enc(sql))
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType.contains("arrow"))
      val alloc = new RootAllocator()
      val reader = new ArrowStreamReader(conn.getInputStream, alloc)
      val arrowRows = scala.collection.mutable.ArrayBuffer[(Long, Double, String)]()
      var batches = 0
      while (reader.loadNextBatch()) {
        val root = reader.getVectorSchemaRoot
        batches += 1
        (0 until root.getRowCount).foreach { i =>
          arrowRows += ((
            root.getVector("l_orderkey").getObject(i).asInstanceOf[Long],
            root.getVector("l_quantity").getObject(i).toString.toDouble,
            root.getVector("l_returnflag").getObject(i).toString))
        }
      }
      reader.close(); alloc.close(); conn.disconnect()
      assert(batches >= 3, s"250 rows at batchSize=100 must span >=3 batches, got $batches")

      val (jc, jbody) = get(s"$base/query?sql=" + enc(sql))
      assert(jc == 200)
      val jsonRows = jbody.trim.split("\n").tail
      assert(arrowRows.size == 250 && jsonRows.length == 250)
      // row-for-row: same order, same values
      arrowRows.zip(jsonRows).foreach { case ((k, q, f), line) =>
        assert(line.contains(s""""l_orderkey":$k""") && line.contains(s""""l_returnflag":"$f""""),
          s"arrow row ($k,$q,$f) != json $line")
      }

      // array columns (embeddings) survive the list encoding
      val aconn = URI.create(s"$base/query?format=arrow&sql=" +
        enc("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 5"))
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      assert(aconn.getResponseCode == 200)
      val alloc2 = new RootAllocator()
      val areader = new ArrowStreamReader(aconn.getInputStream, alloc2)
      assert(areader.loadNextBatch())
      val aroot = areader.getVectorSchemaRoot
      assert(aroot.getRowCount == 5)
      val emb0 = aroot.getVector("embedding").getObject(0)
        .asInstanceOf[java.util.List[_]]
      val expected0 = graft.Tables.load(spark, sfDir, "embeddings")
        .orderBy("vec_id").select("embedding").head().getSeq[Float](0)
      assert(emb0.size == expected0.size)
      assert(emb0.asScala.map(_.toString.toFloat).toSeq == expected0)
      areader.close(); alloc2.close(); aconn.disconnect()
    } finally srv.stop()
  }

  test("per-query timeout cancels the job group; no jobs left running") {
    val srv = new GraftHttpServer(spark, sfDir, port = 0, batchSize = 10,
      queryTimeoutMs = 1500).start()
    try {
      val t0 = System.nanoTime()
      // ~50ms/row over lineitem = minutes if allowed to run to completion
      try get(s"http://127.0.0.1:${srv.boundPort}/query?sql=" +
          enc("SELECT reflect('java.lang.Thread','sleep', 50L) AS z FROM lineitem"))
        catch { case _: Exception => () }
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      assert(elapsedSec < 60, f"query survived the timeout ($elapsedSec%.0f s)")
      awaitNoActiveJobs(15000)
    } finally srv.stop()
  }

  test("client disconnect mid-stream cancels the feeding jobs") {
    val srv = new GraftHttpServer(spark, sfDir, port = 0, batchSize = 5).start()
    try {
      // explicit REPARTITION(8) (AQE keeps user-specified partition counts)
      // splits the result, so partition 0's rows are written while the
      // rest of its window still runs; disconnect is detected on the
      // first write after the client left
      val sql = enc("SELECT reflect('java.lang.Thread','sleep', 5L) AS z, k " +
        "FROM (SELECT /*+ REPARTITION(8) */ l_orderkey AS k FROM lineitem)")
      val sock = new java.net.Socket("127.0.0.1", srv.boundPort)
      sock.getOutputStream.write(
        s"GET /query?sql=$sql HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes("UTF-8"))
      sock.getOutputStream.flush()
      sock.getInputStream.read(new Array[Byte](64)) // headers arrived; query running
      Thread.sleep(500)
      sock.close() // abandon: the server's next flush must cancel the group
      awaitNoActiveJobs(30000)
    } finally srv.stop()
  }

  test("/changes streams the net CDC feed and /history the snapshot log") {
    import org.apache.spark.sql.functions.col
    val cat = new graft.meta.SnapshotCatalog(
      tempDir("graft-http-cdc-").toString)
    val dataDir = tempDir("graft-http-cdc-d-").toString
    val c = graft.Tables.customer(spark, sfDir)
    val s1 = graft.sinks.Writers.writeSnapshot(cat, "cust",
      c.filter(col("c_custkey") <= 50), dataDir)
    graft.sinks.Writers.deleteWhere(spark, cat, "cust",
      rowPredicate = df => df.filter(!col("c_custkey").between(10, 20)),
      pruneFilters = Seq(graft.meta.RangeNum("c_custkey", 10, 20)),
      dataDir = dataDir)
    graft.sinks.Writers.writeSnapshot(cat, "cust",
      c.filter(col("c_custkey").between(51, 60)), dataDir)

    val srv = new GraftHttpServer(spark, sfDir, port = 0, catalog = Some(cat)).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val (cc, body) = get(s"$base/changes?table=cust&from=${s1.snapshotId}")
      assert(cc == 200)
      val rows = body.trim.split("\n").tail // first line = schema
      assert(rows.count(_.contains("\"delete\"")) == 11)
      assert(rows.count(_.contains("\"insert\"")) == 10)

      val (hc, hist) = get(s"$base/history?table=cust&limit=2")
      assert(hc == 200)
      assert(hist.trim.startsWith("[") && hist.contains("\"snapshot_id\":3"))
      assert(hist.contains("\"snapshot_id\":2"))
      assert(!hist.contains("\"snapshot_id\":1")) // limit honored, newest first

      // per-commit mode: same changes, attributed to their commits
      val (pc, pbody) = get(s"$base/changes?table=cust&from=${s1.snapshotId}&mode=percommit")
      assert(pc == 200)
      val prows = pbody.trim.split("\n").tail
      assert(prows.count(_.contains("\"_commit_snapshot_id\":2")) == 11) // the delete commit
      assert(prows.count(_.contains("\"_commit_snapshot_id\":3")) == 10) // the append commit

      // missing catalog params are clean 400s
      assert(get(s"$base/changes?table=cust")._1 == 400)
      assert(get(s"$base/history")._1 == 400)

      // the CDC feed also serves as Arrow IPC (same transport as /query)
      val aconn = java.net.URI.create(
          s"$base/changes?table=cust&from=${s1.snapshotId}&format=arrow")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(aconn.getResponseCode == 200 && aconn.getContentType.contains("arrow"))
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        aconn.getInputStream, alloc)
      var n = 0
      var changeTypeSeen = false
      while (reader.loadNextBatch()) {
        val root = reader.getVectorSchemaRoot
        changeTypeSeen ||= root.getSchema.getFields.asScala.exists(_.getName == "_change_type")
        n += root.getRowCount
      }
      reader.close(); alloc.close(); aconn.disconnect()
      assert(n == 21 && changeTypeSeen) // 11 deletes + 10 inserts
    } finally srv.stop()
  }

  test("/changes refuses an unknown feed mode the way the CALL verbs do") {
    import org.apache.spark.sql.functions.col
    val cat = new graft.meta.SnapshotCatalog(tempDir("graft-http-mode-").toString)
    val dataDir = tempDir("graft-http-mode-d-").toString
    val c = graft.Tables.customer(spark, sfDir)
    val s1 = graft.sinks.Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 5), dataDir)
    graft.sinks.Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") === 6), dataDir)
    val srv = new GraftHttpServer(spark, sfDir, port = 0, catalog = Some(cat)).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}/changes?table=cust&from=${s1.snapshotId}"
      val (code, body) = get(s"$base&mode=percomit")
      assert(code == 400 && body.contains("net|percommit"), s"$code $body")
      // the valid modes read in any letter case
      val (pc, pbody) = get(s"$base&mode=PerCommit")
      assert(pc == 200 && pbody.contains("_commit_snapshot_id"), s"$pc $pbody")
      assert(get(s"$base&mode=NET")._1 == 200)
    } finally srv.stop()
  }

  test("/ndv answers from manifest sketches and /staged lists the audit queue") {
    import org.apache.spark.sql.functions.col
    val cat = new graft.meta.SnapshotCatalog(
      tempDir("graft-http-ndv-").toString)
    val dataDir = tempDir("graft-http-ndv-d-").toString
    val c = graft.Tables.customer(spark, sfDir)
    graft.sinks.Writers.writeSnapshot(cat, "cust", c, dataDir,
      sketchColumns = Seq("c_mktsegment"))
    val stagedId = graft.sinks.Writers.stageAppendSnapshot(cat, "cust",
      c.filter(col("c_custkey") <= 10), dataDir)

    val srv = new GraftHttpServer(spark, sfDir, port = 0, catalog = Some(cat)).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val (nc, ndv) = get(s"$base/ndv?table=cust&column=c_mktsegment")
      assert(nc == 200 && ndv.contains("\"ndv\":5"), ndv)
      // un-sketched column refuses with 404, not a fake number
      assert(get(s"$base/ndv?table=cust&column=c_name")._1 == 404)

      val (sc2, staged) = get(s"$base/staged?table=cust")
      assert(sc2 == 200 && staged.contains(s""""staged_id":"$stagedId""""), staged)
      cat.discardStaged("cust", stagedId)
      assert(get(s"$base/staged?table=cust")._2.trim == "[]")
    } finally srv.stop()
  }

  test("/branches lists branch refs with head and fork point") {
    import org.apache.spark.sql.functions.col
    val cat = new graft.meta.SnapshotCatalog(
      tempDir("graft-http-br-").toString)
    val dataDir = tempDir("graft-http-br-d-").toString
    val c = graft.Tables.customer(spark, sfDir)
    graft.sinks.Writers.writeSnapshot(cat, "cust", c.filter(col("c_custkey") <= 30), dataDir)
    cat.createBranch("cust", "dev")
    graft.sinks.Writers.writeSnapshot(cat, cat.branchRef("cust", "dev"),
      c.filter(col("c_custkey").between(31, 40)), dataDir)

    val srv = new GraftHttpServer(spark, sfDir, port = 0, catalog = Some(cat)).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val (code, body) = get(s"$base/branches?table=cust")
      assert(code == 200, body)
      assert(body.contains(""""branch":"dev"""") &&
        body.contains(""""head_snapshot_id":2""") &&
        body.contains(""""forked_at":1"""), body)
      cat.dropBranch("cust", "dev")
      assert(get(s"$base/branches?table=cust")._2.trim == "[]")
    } finally srv.stop()
  }

  test("/partitions serves the per-partition manifest rollup") {
    import org.apache.spark.sql.functions.col
    val cat = new graft.meta.SnapshotCatalog(
      tempDir("graft-http-part-").toString)
    val dataDir = tempDir("graft-http-part-d-").toString
    val n = graft.Tables.nation(spark, sfDir).withColumn("p_rk", col("n_regionkey"))
    graft.sinks.Writers.writePartitionedSnapshot(cat, "nation", n, s"$dataDir/c1", Seq("p_rk"))

    val srv = new GraftHttpServer(spark, sfDir, port = 0, catalog = Some(cat)).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val (code, body) = get(s"$base/partitions?table=nation")
      assert(code == 200, body)
      // 5 regions -> 5 partition objects; rows reconcile with the table
      assert(body.trim.startsWith("[") && body.split("\"partition\"").length == 6, body)
      val totalRows = "\"total_rows\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).sum
      assert(totalRows == graft.Tables.nation(spark, sfDir).count(), body)
      assert(body.contains(""""p_rk":"0""""), body)
    } finally srv.stop()
  }

  test("/stats serves manifest table stats incl. outstanding MoR delete masks") {
    import org.apache.spark.sql.functions.col
    val cat = new graft.meta.SnapshotCatalog(
      tempDir("graft-http-stats-").toString)
    val dataDir = tempDir("graft-http-stats-d-").toString
    val c = graft.Tables.customer(spark, sfDir)
    graft.sinks.Writers.writeSnapshot(cat, "cust",
      c.filter(col("c_custkey") <= 50), dataDir)
    graft.sinks.Writers.deleteWhereMoR(spark, cat, "cust",
      col("c_custkey") <= 5, Nil, dataDir)

    val srv = new GraftHttpServer(spark, sfDir, port = 0, catalog = Some(cat)).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val (code, body) = get(s"$base/stats?table=cust")
      assert(code == 200, body)
      // custkeys start at 0: <= 50 keeps 51 rows, <= 5 masks 6
      assert(body.contains("\"total_records\":51"), body)
      assert(body.contains("\"delete_file_count\":1"), body)
      assert(body.contains("\"masked_delete_rows\":6"), body)
      // time travel: the pre-delete snapshot shows no masks
      val (c2, b2) = get(s"$base/stats?table=cust&snapshot=1")
      assert(c2 == 200 && b2.contains("\"delete_file_count\":0"), b2)
      // a snapshot that does not exist is an error, never the head's stats
      val (c3, b3) = get(s"$base/stats?table=cust&snapshot=99")
      assert(c3 != 200, b3)
    } finally srv.stop()
  }

  test("/query SQL time-travels catalog tables on a catalog-configured node") {
    import graft.sinks.Writers
    import org.apache.spark.sql.functions.col
    val root = tempDir("graft-httptt-").toString
    val dataDir = tempDir("graft-httptt-data-").toString
    val cat = new graft.meta.SnapshotCatalog(root)
    val c = graft.Tables.customer(spark, sfDir)
    Writers.writeSnapshot(cat, "cust_tt", c.filter(col("c_custkey").between(1, 10)), dataDir)
    cat.tag("cust_tt", "v1", 1L)
    Writers.writeSnapshot(cat, "cust_tt", c.filter(col("c_custkey").between(11, 30)), dataDir)

    val node = graft.GraftConfig.node(spark, sfDir,
      graft.GraftConfig(catalogRoot = Some(root)))
    val srv = node.serve()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      def rows(sql: String): Seq[String] = {
        val (code, body) = get(s"$base/query?sql=${enc(sql)}")
        assert(code == 200, body)
        body.split("\n").toSeq.drop(1).filter(_.nonEmpty) // first line = schema
      }
      // the catalog table resolves by bare name (current snapshot)...
      assert(rows("SELECT count(*) AS n FROM cust_tt").head.contains("30"))
      // ...time travel hits the tagged epoch over plain HTTP SQL...
      assert(rows("SELECT count(*) AS n FROM cust_tt VERSION AS OF 'v1'").head.contains("10"))
      assert(rows("SELECT count(*) AS n FROM cust_tt VERSION AS OF 2").head.contains("30"))
      // ...and the corpus temp views still serve alongside
      assert(rows("SELECT count(*) AS n FROM region").nonEmpty)
      // the FULL SQL surface rides the same session: stored views,
      // discovery, DDL — a SQL-only client over HTTP sees everything a
      // spark.sql.extensions deployment sees
      rows("CREATE VIEW graft.cust_v AS SELECT count(*) AS n FROM cust_tt")
      assert(rows("SELECT n FROM cust_v").head.contains("30"))
      assert(rows("SHOW TABLES IN graft").exists(_.contains("cust_tt")))
      assert(rows("SHOW VIEWS IN graft").exists(_.contains("cust_v")))
      assert(rows("DESCRIBE graft.cust_tt").exists(_.contains("c_custkey")))
    } finally srv.stop()
  }

  test("/query runs the r13+r14 surface over the wire: WAP, RENAME, TBLPROPERTIES, MV, cache") {
    import graft.sinks.Writers
    import spark.implicits._
    val root = tempDir("graft-httpwap-").toString
    val dataDir = tempDir("graft-httpwap-data-").toString
    val cat = new graft.meta.SnapshotCatalog(root)
    Writers.writeSnapshot(cat, "wap_http",
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v"), dataDir)

    val node = graft.GraftConfig.node(spark, sfDir,
      graft.GraftConfig(catalogRoot = Some(root)))
    val srv = node.serve()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      def rows(sql: String): Seq[String] = {
        val (code, body) = get(s"$base/query?sql=${enc(sql)}")
        assert(code == 200, body)
        body.split("\n").toSeq.drop(1).filter(_.nonEmpty)
      }
      // stage over HTTP: the returned staged id drives the whole cycle
      val stagedLine = rows("CALL graft.stage('wap_http', 'SELECT 9L, 90.0')").head
      val id = "\"staged_id\"\\s*:\\s*\"([^\"]+)\"".r
        .findFirstMatchIn(stagedLine).get.group(1)
      assert(rows("SELECT count(*) AS n FROM wap_http").head.contains("3"),
        "a staged batch must be invisible over the wire too")
      assert(rows("CALL graft.staged('wap_http')").exists(_.contains(id)))
      val pub = rows(
        s"CALL graft.publish_if_clean('wap_http', '$id', 'k IS NOT NULL')")
      assert(pub.forall(_.contains("true")))
      assert(rows("SELECT count(*) AS n FROM wap_http").head.contains("4"))
      // rename over HTTP; the renamed table serves immediately
      rows("ALTER TABLE wap_http RENAME TO wap_http2")
      assert(rows("SELECT count(*) AS n FROM wap_http2").head.contains("4"))
      // sticky index props over HTTP, inspected over HTTP
      rows("ALTER TABLE wap_http2 SET TBLPROPERTIES ('graft.bloom.columns' = 'k')")
      assert(rows("SHOW TBLPROPERTIES wap_http2 ('graft.bloom.columns')")
        .head.contains("k"))
      // r14 surface: zero-scan key delete, MV build + by-name refresh,
      // per-commit changelog and the keyed cache — all over the wire
      rows("CALL graft.delete_by_keys('wap_http2', 'k', '2')")
      assert(rows("SELECT count(*) AS n FROM wap_http2").head.contains("3"))
      rows("CALL graft.create_mv('wap_mv', 'wap_http2', 'k', 'v')")
      rows("INSERT INTO wap_http2 VALUES (7, 70.0)")
      rows("CALL graft.refresh_mv('wap_mv')")
      assert(rows("SELECT count(*) AS n FROM wap_mv").head.contains("4"))
      rows("CALL graft.changelog('wap_http2', 1, mode => 'percommit', " +
        "view => 'wap_cdf')")
      assert(rows("SELECT count(*) AS n FROM wap_cdf").nonEmpty)
      val cacheRow = rows("CALL graft.cache('wap_http2', view => 'wap_cached')").head
      assert(cacheRow.contains("wap_cached"))
      assert(rows("SELECT count(*) AS n FROM wap_cached").head.contains("4"))
      assert(rows("CALL graft.cache_stats()").head.contains("\"entries\":1"))
      // retention policy + enforcement over the wire
      rows("ALTER TABLE wap_http2 SET TBLPROPERTIES ('graft.retention.snapshots' = '1')")
      val swept = rows("CALL graft.enforce_retention('wap_http2')").head
      assert(swept.contains("wap_http2"))
      assert(rows("SELECT count(*) AS n FROM wap_http2").head.contains("4"),
        "retention is metadata-only; the data must not move")
      // idempotent landing-zone ingest over the wire
      val landing = tempDir("graft-httping-")
      java.nio.file.Files.write(landing.resolve("d.csv"),
        "11,110.0\n".getBytes("UTF-8"))
      val ing = rows(s"CALL graft.ingest('wap_http2', '$landing', format => 'csv')").head
      assert(ing.contains("\"ingested\":1"))
      val rerun = rows(s"CALL graft.ingest('wap_http2', '$landing', format => 'csv')").head
      assert(rerun.contains("\"ingested\":0") && rerun.contains("\"skipped\":1"))
      assert(rows("SELECT count(*) AS n FROM wap_http2").head.contains("5"))
      // export over the wire: the shards land and report files/bytes
      val out = tempDir("graft-httpexp-")
        .toString + "/shards"
      val exp = rows(s"CALL graft.export('wap_http2', '$out')").head
      assert(exp.contains("\"files\":"))
      assert(spark.read.parquet(out).count() == 5)
    } finally srv.stop()
  }

  test("NTZ and array<string> stream over Arrow; a bad plan gets no 200") {
    val srv = new GraftHttpServer(spark, sfDir, port = 0, batchSize = 1000).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      assert(graft.Tables.load(spark, sfDir, "orders").schema("o_orderdate").dataType ==
        org.apache.spark.sql.types.TimestampNTZType)
      val conn = URI.create(s"$base/table?format=arrow&name=orders")
        .toURL.openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 200)
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(conn.getInputStream, alloc)
      var arrowRows = 0
      while (reader.loadNextBatch()) arrowRows += reader.getVectorSchemaRoot.getRowCount
      reader.close(); alloc.close(); conn.disconnect()
      val (jc, jbody) = get(s"$base/table?name=orders")
      assert(jc == 200)
      assert(arrowRows > 0 && arrowRows == jbody.trim.split("\n").length - 1)

      // array<string>: Spark's encoder writes it; rows equal the NDJSON path
      val words = enc("SELECT split(o_orderpriority, '-') AS words FROM orders")
      val arrowWords = arrowColumn(s"$base/query?format=arrow&sql=$words", "words").map {
        case null => null
        case l: java.util.List[_] => l.asScala.map(_.toString)
      }
      val (wc, wbody) = get(s"$base/query?sql=$words")
      assert(wc == 200)
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
      val jsonWords = wbody.trim.split("\n").toSeq.tail.map { line =>
        Option(json.readTree(line).get("words")).map(a => (0 until a.size).map(a.get(_).asText())).orNull
      }
      assert(arrowWords.size == arrowRows && arrowWords == jsonWords)

      // a request that fails at planning gets a non-200 and no Arrow bytes
      val bad = URI.create(s"$base/query?format=arrow&sql=" +
        enc("SELECT no_such_column FROM orders")).toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      assert(bad.getResponseCode != 200)
      assert(!bad.getContentType.contains("arrow"))
      val badBody = Source.fromInputStream(bad.getErrorStream, "UTF-8").mkString
      bad.disconnect()
      assert(badBody.startsWith("{\"error\"") && badBody.contains("no_such_column"), badBody)
    } finally srv.stop()
  }

  test("/tables answers from the registered views and runs no Spark job") {
    val srv = new GraftHttpServer(spark, sfDir, port = 0).start()
    try {
      val ((code, body), jobs) = JobCounter.during(spark) {
        get(s"http://127.0.0.1:${srv.boundPort}/tables")
      }
      assert(code == 200 && graft.Tables.names.forall(n => body.contains("\"" + n + "\"")))
      assert(body.contains("l_orderkey"))
      assert(jobs.jobs == 0, s"/tables ran ${jobs.jobs} Spark jobs")
    } finally srv.stop()
  }

  test("results run one Spark job per window of defaultParallelism partitions, in order") {
    val srv = new GraftHttpServer(spark, sfDir, port = 0, batchSize = 4).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      def ndjsonIds(sql: String): Seq[Long] =
        get(s"$base/query?sql=${enc(sql)}")._2.trim.split("\n").toSeq.tail
          .map(l => "\"id\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong)
      def arrowIds(sql: String): Seq[Long] =
        arrowColumn(s"$base/query?format=arrow&sql=${enc(sql)}", "id")
          .map(_.asInstanceOf[Long])

      // (a) 3 partitions, one window: one job for either wire format
      val three = "SELECT id FROM range(0, 30, 1, 3)"
      val (ids, arrowJobs) = JobCounter.during(spark)(arrowIds(three))
      assert(ids == (0L until 30L))
      assert(arrowJobs.jobs == 1, s"3-partition Arrow result ran ${arrowJobs.jobs} jobs")
      val (jsonIds, jsonJobs) = JobCounter.during(spark)(ndjsonIds(three))
      assert(jsonIds == ids && jsonJobs.jobs == 1)

      // (b) partition 0 finishes last; rows still come in partition order
      val slowFirst = "SELECT id, reflect('java.lang.Thread', 'sleep', " +
        "CASE WHEN id = 0 THEN 1500L ELSE 0L END) AS z FROM range(0, 30, 1, 3)"
      val (slowIds, slowJobs) = JobCounter.during(spark)(arrowIds(slowFirst))
      assert(slowJobs.tasks.maxBy(_._2)._1 == 0, s"partition 0 not last: ${slowJobs.tasks}")
      assert(slowIds == (0L until 30L) && ndjsonIds(slowFirst) == slowIds)

      // (c) more partitions than defaultParallelism: ⌈p / parallelism⌉ jobs
      val par = spark.sparkContext.defaultParallelism
      val p = 2 * par + 1
      val wide = s"SELECT id FROM range(0, ${10 * p}, 1, $p)"
      val (wideIds, wideJobs) = JobCounter.during(spark)(arrowIds(wide))
      assert(wideIds == (0L until 10L * p))
      assert(wideJobs.jobs == (p + par - 1) / par,
        s"$p partitions at parallelism $par ran ${wideJobs.jobs} jobs")
    } finally srv.stop()
  }

  /** Every value of `column` in an Arrow reply, in stream order. */
  private def arrowColumn(url: String, column: String): Seq[AnyRef] = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    val code = conn.getResponseCode
    assert(code == 200 && conn.getContentType.contains("arrow"),
      s"$code ${Option(conn.getErrorStream).map(Source.fromInputStream(_, "UTF-8").mkString)}")
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(conn.getInputStream, alloc)
    val out = scala.collection.mutable.ArrayBuffer[AnyRef]()
    while (reader.loadNextBatch()) {
      val v = reader.getVectorSchemaRoot.getVector(column)
      (0 until v.getValueCount).foreach(i => out += v.getObject(i))
    }
    reader.close(); alloc.close(); conn.disconnect()
    out.toSeq
  }

  test("stop() ends the named handler threads: none outlive three start/stop cycles") {
    def handlerThreads(port: Int) = Thread.getAllStackTraces.keySet.toArray
      .map(_.asInstanceOf[Thread])
      .filter(t => t.isAlive && t.getName.startsWith(s"graft-http-$port-handler-"))
    val ports = (1 to 3).map { _ =>
      val srv = new GraftHttpServer(spark, sfDir, port = 0).start()
      val port = srv.boundPort
      try {
        assert(get(s"http://127.0.0.1:$port/query")._1 == 400)
        assert(handlerThreads(port).nonEmpty, "requests run on the named handler pool")
      } finally srv.stop()
      port
    }
    ports.foreach(p => assert(handlerThreads(p).isEmpty, s"handler threads of :$p still alive"))
  }

  private def awaitNoActiveJobs(timeoutMs: Long): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.currentTimeMillis() + timeoutMs
    while (tracker.getActiveJobIds.nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(tracker.getActiveJobIds.isEmpty,
      s"jobs still running ${timeoutMs}ms after cancellation")
  }

  private implicit class RichJList[A](l: java.util.List[A]) {
    def asScala: Seq[A] = {
      val b = scala.collection.mutable.ArrayBuffer[A]()
      l.forEach(e => b += e)
      b.toSeq
    }
  }
}
