package graft

import org.apache.spark.sql.SparkSession

/** Bench a named subset of the battery (dev tool for A/B plan work and
  * scale sweeps — `Bench` stays the driver-facing full run). Args are
  * query names; `--runs=N` (or `--runs N`) controls repetitions
  * (default 2, best-of).
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *      sbt "runMain graft.BenchOne q_ngram_jaccard_lsh q_kmeans"
  */
object BenchOne {
  /** Accepts both `--runs=N` and `--runs N`; malformed values fail
    * with a clear message instead of being misread as query names. */
  private[graft] def parseArgs(args: Array[String]): (Int, Seq[String]) = {
    var runs = 2
    val names = Seq.newBuilder[String]
    var i = 0
    def num(s: String, flag: String): Int = s.toIntOption.getOrElse(
      throw new IllegalArgumentException(s"$flag needs an integer, got: '$s'"))
    while (i < args.length) {
      args(i) match {
        case a if a.startsWith("--runs=") => runs = num(a.stripPrefix("--runs="), "--runs=")
        case "--runs" =>
          require(i + 1 < args.length, "--runs needs a value")
          runs = num(args(i + 1), "--runs"); i += 1
        case other => names += other
      }
      i += 1
    }
    (runs, names.result())
  }

  def main(args: Array[String]): Unit = {
    val (runs, names0) = parseArgs(args)
    val sfDir = Measure.sfDir
    val names = if (names0.nonEmpty) names0 else SparkEntry.queries.keys.toSeq.sorted
    val spark: SparkSession = GraftSession.local("graft-bench-one")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(f"$name%-28s UNKNOWN")
        case Some(fn) =>
          val times = (1 to runs).map(_ => Measure.seconds(fn(spark, sfDir).count()))
          println(f"$name%-28s best=${times.min}%7.3f s  runs=${times.map(t => f"$t%.3f").mkString(",")}")
      }
    }
    spark.stop()
  }
}
