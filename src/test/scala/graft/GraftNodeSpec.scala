package graft

import graft.serve.ServingApi

class GraftNodeSpec extends SparkSpec {

  test("config wires a node: SQL through the cache, stats, maintenance") {
    val node = GraftConfig.node(spark, sfDir,
      GraftConfig(maxCacheBytes = 1L << 32, evictionPolicy = "lfu"))
    val n = node.engine.sql("SELECT COUNT(*) AS n FROM lineitem").head().getLong(0)
    assert(n == Tables.lineitem(spark, sfDir).count())
    assert(node.cacheStats.entries == Tables.names.size) // corpus registered through cache
    assert(node.maintain() == 0) // nothing idle past the TTL yet
    node.cache.clear()
  }

  test("unknown eviction policy fails fast") {
    intercept[IllegalArgumentException](GraftConfig(evictionPolicy = "fifo").policy)
  }

  test("node maintenance runs the FULL S69 pass over the node's own catalog") {
    import spark.implicits._
    val root = tempDir("graft-node-maint-").toString
    val dataDir = tempDir("graft-node-maint-d-").toString
    val node = GraftConfig.node(spark, dataDir, GraftConfig(catalogRoot = Some(root)))
    val cat = node.catalog.get
    graft.sinks.Writers.writeSnapshot(cat, "nm_src",
      Seq((1L, 10L), (1L, 20L), (2L, 5L)).toDF("k", "v"),
      java.nio.file.Paths.get(dataDir, "nm_src").toString)
    graft.sinks.MaterializedAgg.build(spark, cat, "nm_src", "nm_mv",
      Seq("k"), Seq("v"), java.nio.file.Paths.get(dataDir, "nm_mv").toString)
    // the source moves AFTER the build: one maintain() must fold it in
    // (the node pass owns MV refresh, not just cache TTL)
    graft.sinks.Writers.writeSnapshot(cat, "nm_src",
      Seq((2L, 7L)).toDF("k", "v"),
      java.nio.file.Paths.get(dataDir, "nm_src").toString)
    assert(node.maintain() == 0) // nothing idle in the cache
    val mvHead = cat.currentSnapshot("nm_mv").get
    assert(mvHead.props(graft.sinks.MaterializedAgg.RefreshedAtProp).toLong
      == cat.currentSnapshot("nm_src").get.snapshotId,
      "maintain() with a catalog must refresh the node's views")
    val rep = node.maintenance.runOnce()
    assert(rep.mvRefreshes.exists(r => r.view == "nm_mv" && r.error.isEmpty))
    // the one-liner daemon stands up on the node's own wiring and stops
    val handle = node.startMaintenance(intervalMs = 3600 * 1000L)
    assert(handle.lastError.isEmpty)
    handle.close()
  }

  test("a cache-only node refuses the catalog-wide maintenance surface") {
    val node = GraftConfig.node(spark, sfDir, GraftConfig())
    assert(node.maintain() == 0) // cache sweep still works standalone
    intercept[IllegalStateException](node.startMaintenance())
  }

  test("listTables serves the corpus catalog (list_flights parity)") {
    val tables = ServingApi.listTables(spark, sfDir)
    assert(tables.keySet == Tables.names.toSet)
    assert(tables("lineitem").fieldNames.contains("l_orderkey"))
    assert(tables("events").fields.find(_.name == "ts").get.dataType.typeName == "timestamp")
  }

  test("node.serve stands up the HTTP endpoint wired to the node's catalog") {
    val root = tempDir("graft-node-cat-").toString
    val dataDir = tempDir("graft-node-data-").toString
    val node = GraftConfig.node(spark, sfDir, GraftConfig(catalogRoot = Some(root)))
    graft.sinks.Writers.writeSnapshot(node.catalog.get, "cust",
      Tables.customer(spark, sfDir), dataDir)
    val srv = node.serve()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      def get(url: String): Int = {
        val c = java.net.URI.create(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        val code = c.getResponseCode; c.disconnect(); code
      }
      assert(get(s"$base/tables") == 200)
      assert(get(s"$base/history?table=cust") == 200)
    } finally srv.stop()
  }
}
