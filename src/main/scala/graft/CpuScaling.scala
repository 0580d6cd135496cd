package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

import scala.jdk.CollectionConverters._

/** CPU-scaling probe (r18, VERDICT #1): time the heavy query families
  * ISOLATED at the 10× gate corpus under the CURRENT `SPARK_GRAFT_CPUS`,
  * so two runs (8 vs 32 cores) yield per-query parallel-speedup ratios
  * on data big enough that operator work dominates the local-mode job
  * floor. The sf0.1 bench battery cannot show this: every query there
  * sits at the ~0.12 s/job scheduler floor, so c8 ≈ c32 regardless of
  * how parallel the operators are (the r17 driver flagged exactly that).
  *
  * Methodology matches the gate's isolated re-timing: GC quiesce before
  * every query, best-of-3 ([[Measure.bestOf]]), the scaled corpus
  * reused/built by [[ScaleUp.ensureScaled]]. Each run writes
  * `cpu_scaling_c<N>.json`; once two core counts have run, the merged
  * `cpu_scaling.json` (per-query low/high seconds + speedup ratio, for
  * the lowest and highest core counts on disk) is written for
  * committing next to scale_gate.json.
  *
  * Run:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.CpuScaling /tmp/graft-sf1"
  *   SPARK_GRAFT_CPUS=8  sbt "runMain graft.CpuScaling /tmp/graft-sf1"
  */
object CpuScaling {

  /** The ≥0.5 s families from the r17 battery (dedup, k-means,
    * substring, LSH/ANN, TPC-H heavies, text aggregation) plus
    * `q_meta_count` as the documented DRIVER-BOUND control — its ratio
    * is expected ≈1 and anchors what "not parallel" reads like. */
  val heavy: Seq[String] = Seq(
    "q_substring_dedup", "q_substring_dedup_hashed",
    "q_dedup_minhash", "q_dedup_simhash", "q_incr_neardup",
    "q_ngram_jaccard_lsh", "q_dup_clusters", "q_neardup_keep",
    "q_ann_lsh", "q_embed_neardup", "q_kmeans",
    "q_tpch_q9", "q_tpch_q18", "q_tpch_q21",
    "q_profile", "q_tfidf_topterms", "q_bpe_tokens", "q_decontaminate",
    "q_meta_count")

  /** One run's `cpu_scaling_c<cpus>.json` text. */
  private[graft] def perCoreJson(cpus: Int, dir: String, times: Seq[(String, Double)]): String =
    times.map { case (k, v) => f""""$k":$v%.3f""" }.mkString(
      s"""{"cpus":$cpus,"dir":"$dir","queries":{""", ",", "}}\n")

  /** `cpu_scaling.json` from the per-core texts: the lowest core count
    * against the highest; None until two distinct counts exist. */
  private[graft] def merged(perCore: Seq[String]): Option[String] = {
    implicit val formats: Formats = DefaultFormats
    val runs = perCore.map(JsonMethods.parse(_)).map(j =>
      (j \ "cpus").extract[Int] -> (j \ "queries").extract[Map[String, Double]]).toMap
    if (runs.size < 2) None
    else {
      val (low, high) = (runs.keys.min, runs.keys.max)
      val (lo, hi) = (runs(low), runs(high))
      val rows = heavy.filter(q => lo.contains(q) && hi.contains(q)).map { q =>
        val ratio = if (hi(q) > 0) lo(q) / hi(q) else -1.0
        f""""$q":{"c${low}_sec":${lo(q)}%.3f,"c${high}_sec":${hi(q)}%.3f,"speedup":$ratio%.2f}"""
      }
      Some(rows.mkString(
        s"""{"cpus_low":$low,"cpus_high":$high,"per_query":{""", ",", "}}\n"))
    }
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-sf1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.local("graft-cpu-scaling")
    ScaleUp.ensureScaled(spark, Measure.sfDir, outDir)

    val results = heavy.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        val best = Measure.bestOf(3)(fn(spark, outDir).count())
        println(f"[cpuscale] $name%-28s cpus=$cpus best=$best%7.3f s")
        name -> best
      }
    }
    spark.stop()

    Files.write(Paths.get(s"cpu_scaling_c$cpus.json"),
      perCoreJson(cpus, outDir, results).getBytes(StandardCharsets.UTF_8))
    println(s"[cpuscale] wrote cpu_scaling_c$cpus.json")
    val perCore = Files.list(Paths.get(".")).iterator.asScala.toSeq
      .filter(_.getFileName.toString.matches("""cpu_scaling_c\d+\.json"""))
      .map(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    merged(perCore) match {
      case Some(json) =>
        Files.write(Paths.get("cpu_scaling.json"), json.getBytes(StandardCharsets.UTF_8))
        println("[cpuscale] merged cpu_scaling.json written")
      case None => println("[cpuscale] waiting for another core count before merging")
    }
  }
}
