package graft

/** Dev tool: print the formatted physical plan of named battery
  * queries (plan audits — scan counts, exchange counts, codegen spans).
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *      sbt "runMain graft.Explain q_tpch_q21"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local("graft-explain")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"=== $name: UNKNOWN")
        case Some(fn) =>
          println(s"=== $name")
          fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
