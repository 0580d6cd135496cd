package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Regenerates the expected files under `perfbench/expected` from the
  * engine at hand (run it after changing the corpus generator or the
  * request mix, then cross-check with perfbench/oracle_check.py):
  *
  *   graft.bench.MakeExpected <corpus> <expected dir>
  */
object MakeExpected {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("graft-perfbench-expected")
    try {
      val dir = Sys.path(args(1))
      Battery.makeExpected(spark, args(0), dir.resolve("battery.tsv"))
      Files.write(dir.resolve("serve.tsv"),
        ("# rows (fields for schema:)\trequest key" +: Serve.makeExpected(spark, args(0)))
          .mkString("", "\n", "\n").getBytes(UTF_8))
    } finally spark.stop()
  }
}

/** Loads the classes every workload needs, so that a JVM run with
  * `-XX:ArchiveClassesAtExit` records them in a class-data-sharing
  * archive for later runs (see perfbench/run.py):
  *
  *   graft.bench.Train <corpus> <scratch dir>
  */
object Train {
  def main(args: Array[String]): Unit = {
    val Array(corpus, scratch) = args
    val spark = graft.GraftSession.local("graft-perfbench-train")
    graft.Tables.lineitem(spark, corpus).groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    val catalog = new graft.meta.SnapshotCatalog(s"$scratch/catalog")
    graft.sinks.Writers.writeSnapshot(catalog, "t", graft.Tables.region(spark, corpus),
      s"$scratch/data")
    catalog.read(spark, "t").count()
    new graft.sql.QueryEngine(spark, corpus).sql("SELECT count(*) FROM nation").collect()
    spark.stop()
    sys.exit(0)
  }
}
