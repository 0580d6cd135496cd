package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Benchmark main: times every SparkEntry query at the sf-dir given by
  * SPARK_GRAFT_SF_DIR with [[Measure.battery]] (best-of-3, GC quiesce
  * before each query), and emits ONE machine-readable JSON line — to
  * stdout, to stderr (sbt leaves stderr unprefixed), and to
  * bench_out.json in the working directory so the harness never has to
  * fish the line out of log noise.
  *
  * The session is the library's own bootstrap (GraftSession.local: AQE,
  * core-sized shuffle partitions, UTC) — benching the engine as shipped,
  * not an untuned default session. Per-query failures are logged to
  * stderr and excluded from the total rather than silently summed as -1.
  *
  * Measured (r17): battery totals reproduce within 0.3% across full
  * re-runs; residual per-query variance has an absolute floor of
  * ~±0.15 s from the OS/scheduler, which on ~1 s queries can still read
  * as 15–30% — the scale gate's isolated re-timing stays the arbiter for
  * any plan-shape question.
  */
object Bench {

  /** Queries the compact line carries next to the totals. */
  private val headline = Seq("q1_agg", "q3_join_agg", "q5_multijoin", "q_scan_project",
    "q_window_rank", "q_dedup_exact", "q_ann_bruteforce", "q_profile")

  /** The bench_out.json line and the compact stdout line for `results`
    * (query → seconds, -1 when it failed). The compact line exists
    * because a harness that keeps only the last ~2 KB of output
    * head-truncated a 108-entry per-query map (~4 KB) (r1–r7); the full
    * map lives in bench_out.json. `cpus` is the core count the
    * session ran with, so a low-core scaling probe can see that
    * SPARK_GRAFT_CPUS took effect. */
  private[graft] def render(results: Map[String, Double], cpus: Int,
                            sfDir: String): (String, String) = {
    def jmap(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val nFailed = results.values.count(_ < 0)
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},""" +
        s""""n_failed":$nFailed,"cpus":$cpus,"queries":${jmap(results)},"sf":"$sfDir"}"""
    val compact =
      s"""{"metric":"total","value":${f"$total%.2f"},"unit":"sec","n_queries":${results.size},""" +
        s""""n_failed":$nFailed,"cpus":$cpus,""" +
        s""""queries":${jmap(headline.flatMap(n => results.get(n).map(n -> _)))},"sf":"$sfDir"}"""
    (full, compact)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Measure.sfDir
    val spark = GraftSession.local("graft-bench")
    val results = Measure.battery(spark, sfDir, runs = 3, tag = "bench")
    val failed = results.filter(_._2 < 0).keys.toSeq.sorted
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.mkString(", ")}")
    val (full, compact) = render(results, GraftSession.cpus, sfDir)
    Files.write(Paths.get("bench_out.json"), (full + "\n").getBytes(StandardCharsets.UTF_8))
    // stop Spark FIRST so its shutdown logging can't land after the JSON.
    // Print the greppable sentinel first and the BARE compact line LAST: with
    // build.sbt's StdoutOutput + showSuccess:=false the bare line is the
    // literal final line of sbt stdout, so a last-line JSON parse succeeds.
    spark.stop()
    println(s"BENCH_JSON: $compact")
    println(compact)
    System.err.println(s"BENCH_JSON: $compact")
    System.err.println(compact)
    System.out.flush(); System.err.flush()
  }
}
