package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** What a workload hands back: its timed ops, the correctness checks it
  * made outside them, the measured window, workload-specific figures
  * for the report, (traced runs) per-layer metrics, the ops the
  * spark.* metrics describe when they are not the timed ops, and the op
  * kinds whose median is `latency_p50_ms` when not every kind's. */
final case class RunResult(
    ops: Seq[Op],
    checks: Int,
    checksFailed: Int,
    windowS: Double,
    report: Seq[(String, Double, String)],
    layers: Seq[(String, Double, String)] = Nil,
    notes: Map[String, Any] = Map.empty,
    sparkOps: Option[Seq[Op]] = None,
    medianKinds: Option[Set[String]] = None)

/** Everything a workload needs from the harness. */
final case class Ctx(
    spark: SparkSession,
    corpus: String,
    work: Path,
    expected: Path,
    seed: Long,
    seconds: Double,
    tracer: Tracer,
    counters: SparkCounters) {
  def traced: Boolean = tracer.enabled
  /** Start or stop counting Spark events. The listener bus delivers
    * events late, so it is drained first: events posted before the
    * switch land on the side of it they happened on. */
  def record(on: Boolean): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    counters.recording = on
  }
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** The per-layer metric names every traced run reports. A layer a
  * workload leaves idle reports 0 for its metrics. */
object Layers {
  val spanLayers: Seq[String] =
    Seq("op", "queries", "sql", "serve", "meta", "cache", "sinks", "streaming")

  val all: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.job_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
    "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.scan_bytes" -> "B",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.gc_ms" -> "ms", "spark.result_bytes" -> "B",
    "queries.build_ms" -> "ms", "queries.plan_ms" -> "ms", "queries.exec_ms" -> "ms",
    "queries.relational_s" -> "s", "queries.engine_s" -> "s", "queries.pipeline_s" -> "s",
    "queries.advanced_s" -> "s", "queries.trainprep_s" -> "s", "queries.stats_s" -> "s",
    "queries.vectors_s" -> "s", "queries.analytics_s" -> "s",
    "queries.count_noop_gap_n" -> "count",
    "sql.plan_ms" -> "ms",
    "serve.exec_ms" -> "ms", "serve.encode_ms" -> "ms",
    "serve.arrow_bytes_per_row" -> "B", "serve.json_bytes_per_row" -> "B",
    "meta.resolve_ms" -> "ms", "meta.plan_files_ms" -> "ms",
    "meta.files_considered" -> "count", "meta.files_kept" -> "count",
    "meta.prune_ratio" -> "ratio", "meta.manifest_parses" -> "count",
    "meta.manifest_bytes" -> "B", "meta.expire_ms" -> "ms",
    "meta.live_files" -> "count", "meta.snapshots" -> "count",
    "cache.hits" -> "count", "cache.misses" -> "count", "cache.hit_ratio" -> "ratio",
    "cache.evictions" -> "count", "cache.invalidated" -> "count",
    "cache.hit_ms" -> "ms", "cache.miss_ms" -> "ms", "cache.bytes" -> "B",
    "sinks.append_ms" -> "ms", "sinks.merge_ms" -> "ms", "sinks.delete_ms" -> "ms",
    "sinks.compact_ms" -> "ms", "sinks.mv_refresh_ms" -> "ms",
    "sinks.files_written" -> "count", "sinks.bytes_written" -> "B",
    "streaming.ingest_ms" -> "ms", "streaming.landed_ratio" -> "ratio") ++
    spanLayers.map(l => s"self.${l}_ms" -> "ms")

  /** `measured` plus a 0 for every name it lacks, in canonical order. */
  def complete(measured: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val m = measured.map(x => x._1 -> x).toMap
    val unknown = m.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    all.map { case (n, u) => m.getOrElse(n, (n, 0.0, u)) }
  }
}

/** Benchmark entry point inside the JVM:
  *
  *   graft.bench.Main <workload> <seed> <seconds> <trace 0|1> <corpus> <work> <expected> <out.json>
  *
  * Runs one workload against the engine's public entry points and
  * writes one JSON result object to `out.json`; `perfbench/run.py`
  * turns it into the benchmark's output line. */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_ops_s" -> "ops/s", "latency_p50_ms" -> "ms",
    "latency_p90_ms" -> "ms", "heap_live_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, corpus, work, expected, out) = args
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.local("graft-perfbench")
    val counters = SparkCounters.attach(spark)
    val ctx = Ctx(spark, corpus, Sys.path(work), Sys.path(expected), seedS.toLong,
      secondsS.toDouble, new Tracer(traceS == "1"), counters)
    val res = try workload match {
      case "battery" => Battery.run(ctx)
      case "serve" => Serve.run(ctx)
      case "lake_rw" => LakeRw.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    }
    val firstOpMs = res.ops.map(_.startMs).minOption.getOrElse(Clock.nowMs)
    // events still queued for Spark's listeners hold memory of their own
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val heap = Sys.heapLiveMb()
    val okOps = res.ops.filter(_.ok)
    val (_, p90, samples) = Stats.latency(okOps.map(_.ms))
    val p50 = Stats.median(res.medianKinds.fold(okOps)(k => okOps.filter(o => k(o.kind))).map(_.ms))
    val e2e = Map(
      "setup_s" -> (firstOpMs - jvmStartMs) / 1000.0,
      "throughput_ops_s" -> res.ops.count(_.ok) / res.windowS,
      "latency_p50_ms" -> p50,
      "latency_p90_ms" -> p90,
      "heap_live_mb" -> heap)
    val attempted = res.ops.size + res.checks
    val failed = res.ops.count(!_.ok) + res.checksFailed
    val layers =
      if (!ctx.traced) Nil
      else {
        val self = ctx.tracer.selfMs
        val measured = counters.metrics(res.sparkOps.getOrElse(res.ops)) ++ res.layers ++
          Layers.spanLayers.map(l =>
            (s"self.${l}_ms", self.getOrElse(l, 0.0) / math.max(1, res.ops.size), "ms"))
        Layers.complete(measured)
      }
    if (ctx.traced)
      ctx.tracer.write(ctx.work.resolve(s"trace-$workload-$seedS.jsonl"))
    val result = Json.obj(
      "workload" -> workload, "seed" -> seedS.toLong, "trace" -> ctx.traced,
      "attempted" -> attempted, "failed" -> failed,
      "ops" -> res.ops.size, "window_s" -> res.windowS,
      "op_kinds" -> res.ops.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "end_to_end" -> EndToEnd.map { case (n, u) =>
        n -> Map("value" -> e2e(n), "unit" -> u) }.toMap,
      "report" -> ((("latency_samples", samples.toDouble, "count") +: res.report)
        .map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap),
      "per_layer" -> layers.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "failures" -> res.ops.filterNot(_.ok).map(o => s"${o.kind}: ${o.detail}").take(20),
      "notes" -> res.notes,
      "facts" -> facts(spark))
    Files.write(Sys.path(out), (result + "\n").getBytes(UTF_8))
    spark.stop()
    // GraftHttpServer.stop() leaves its non-daemon handler pool running,
    // which would keep the JVM alive after main returns
    sys.exit(0)
  }

  /** Machine facts every output carries. */
  def facts(spark: SparkSession): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "spark_graft_cpus" -> graft.GraftSession.cpus,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "jdk" -> System.getProperty("java.runtime.version"),
    "spark" -> spark.version,
    "scala" -> scala.util.Properties.versionNumberString)
}
