package graft

import org.apache.spark.sql.SparkSession

/** The one timing method of the measurement mains (`Bench`, `BenchOne`,
  * `ScaleGate`, `CpuScaling`, `StreamProbe`), so their numbers are
  * comparable: a GC quiesce outside the timer, then the minimum of
  * back-to-back wall-clock samples.
  *
  * The quiesce needs the pinned heap (-Xms = -Xmx, build.sbt): without
  * it G1's full collections shrink the committed heap and the next
  * query re-commits pages inside its timer (battery grew 54 s → 76 s).
  * Samples run back to back, not in interleaved passes: whole-stage
  * codegen's class cache holds 100 entries, so a full-battery pass
  * evicts every query's generated classes and an interleaved design
  * re-measures cold codegen (battery 47.8 s → 74.1 s, measured before
  * rejecting it). The first sample pays one-off costs (codegen,
  * file-index, fixture memo builds) that a long-lived engine amortizes;
  * the minimum is the steady state. Caches are NOT cleared.
  */
object Measure {

  /** Corpus the mains read when `SPARK_GRAFT_SF_DIR` is unset. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Wall-clock seconds of one evaluation of `body`. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `System.gc()` once, then the minimum of `runs` timings of `body`. */
  def bestOf(runs: Int)(body: => Unit): Double = {
    System.gc()
    (1 to runs).map(_ => seconds(body)).min
  }

  /** Best-of-`runs` `count()` seconds of every battery query at `dir`,
    * quiesced before each query. A query that throws is -1 and one
    * stderr line. The exact |Q|·N `q_ngram_jaccard` stays a Verify-only
    * oracle; its LSH form `q_ngram_jaccard_lsh` is the scale path timed.
    * GC before every query, not every 10th: 160+ back-to-back queries
    * accumulate tenured garbage whose collection lands on whichever
    * query runs next (r16 read q_changelog at 0.71 s and 1.46 s in two
    * rounds while its isolated time was flat). */
  def battery(spark: SparkSession, dir: String, runs: Int, tag: String): Map[String, Double] =
    timeEach((SparkEntry.queries - "q_ngram_jaccard").map { case (name, fn) =>
      name -> (() => { fn(spark, dir).count(); () })
    }, runs, tag)

  private[graft] def timeEach(bodies: Map[String, () => Unit], runs: Int,
                              tag: String): Map[String, Double] =
    bodies.map { case (name, body) =>
      name -> (try bestOf(runs)(body())
      catch { case e: Throwable =>
        System.err.println(s"[$tag] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        -1.0
      })
    }
}
