package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Percentiles and interval arithmetic shared by every workload. */
object Stats {

  /** Nearest-rank percentile (`p` in 0..100) of `xs`; NaN when empty.
    * Nearest-rank never interpolates, so the value reported is one that
    * was actually measured. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Op latencies as reported: (p50, p90, sample count). */
  def latency(xs: Seq[Double]): (Double, Double, Int) =
    (percentile(xs, 50), percentile(xs, 90), xs.size)

  /** Total length covered by the union of `[start, end)` intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Union of `intervals` clipped to the window `[lo, hi)`. */
  def coveredWithin(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    unionLength(intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })
}

/** SplitMix64: a tiny seeded generator whose stream is fixed by the seed
  * alone, so a workload's op sequence and inputs replay byte for byte. */
final class Rng(seed: Long) {
  private var state = seed ^ 0x9E3779B97F4A7C15L
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def shuffle[A](xs: Seq[A]): Vector[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[A]]
  }
  /** Index drawn from a Zipf(s) law over `n` ranks (rank 0 most likely). */
  def zipf(n: Int, s: Double = 1.1): Int = {
    val weights = (1 to n).map(k => 1.0 / math.pow(k, s))
    var u = nextDouble() * weights.sum
    var i = 0
    while (i < n - 1 && u >= weights(i)) { u -= weights(i); i += 1 }
    i
  }
}

/** One timed operation of a workload: its kind, wall interval (epoch
  * ms) and outcome. */
final case class Op(id: Long, kind: String, startMs: Double, endMs: Double, ok: Boolean,
    detail: String = "") {
  def ms: Double = endMs - startMs
}

/** Epoch-millisecond clock with sub-millisecond resolution: the epoch
  * anchor lines ops up with Spark listener event times, nanoTime gives
  * the resolution. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** In-memory spans, written out once at the end of a traced run. A span
  * wraps one call into a graft layer; `parent` links nested calls and
  * `op` ties every span to the workload op that caused it. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
      startMs: Double, endMs: Double)
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  /** Run `f` inside a span; untraced runs call `f` directly. */
  def span[A](op: Long, layer: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = Clock.nowMs
      try f
      finally {
        spans.add(Span(id, parent, op, layer, name, t0, Clock.nowMs))
        stack.set(stack.get().tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Summed duration of `layer`'s spans (ms). */
  def totalMs(layer: String, name: String = null): Double =
    all.filter(s => s.layer == layer && (name == null || s.name == name))
      .map(s => s.endMs - s.startMs).sum

  /** Per-layer self time (ms): each span's duration minus the part its
    * child spans cover. */
  def selfMs: Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val child = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
        (s.endMs - s.startMs) - Stats.coveredWithin(child, s.startMs, s.endMs)
      }.sum
    }
  }

  def write(path: Path): Unit = {
    val lines = all.sortBy(_.id).map(s =>
      Json.obj("span" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Spark runtime counters gathered by a listener registered from the
  * benchmark: job intervals for the scheduler/driver split, and task
  * metrics for compute, I/O, shuffle, spill and GC. */
final class SparkCounters extends SparkListener {
  @volatile var recording = false
  val jobs = new ConcurrentLinkedQueue[(Int, Double, Double)]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val scanBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val gcMs = new AtomicLong
  val resultBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (recording) { jobStarts.put(e.jobId, e.time); () }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStarts.remove(e.jobId)
    if (s != null) jobs.add((e.jobId, s.toDouble, e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (recording) { stages.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (recording && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.incrementAndGet()
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      scanBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      resultBytes.addAndGet(m.resultSize)
      ()
    }

  def jobIntervals: Seq[(Double, Double)] = jobs.asScala.toSeq.map(j => (j._2, j._3))

  /** Per-op Spark metrics: counts and task totals divided by `nOps`,
    * plus the job-interval union inside each op and the op time outside
    * it (driver-side work: planning, catalog, encoding, scheduling gaps). */
  def metrics(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val n = math.max(1, ops.size).toDouble
    val iv = jobIntervals
    val jobMs = ops.map(o => Stats.coveredWithin(iv, o.startMs, o.endMs))
    Seq(
      ("spark.jobs_per_op", jobs.size / n, "count"),
      ("spark.stages_per_op", stages.get / n, "count"),
      ("spark.tasks_per_op", tasks.get / n, "count"),
      ("spark.job_ms", jobMs.sum / n, "ms"),
      ("spark.driver_gap_ms", ops.zip(jobMs).map { case (o, j) => o.ms - j }.sum / n, "ms"),
      ("spark.task_run_ms", taskRunMs.get / n, "ms"),
      ("spark.task_cpu_ms", taskCpuNs.get / 1e6 / n, "ms"),
      ("spark.scan_bytes", scanBytes.get / n, "B"),
      ("spark.shuffle_write_bytes", shuffleWriteBytes.get / n, "B"),
      ("spark.shuffle_read_bytes", shuffleReadBytes.get / n, "B"),
      ("spark.spill_bytes", spillBytes.get / n, "B"),
      ("spark.gc_ms", gcMs.get / n, "ms"),
      ("spark.result_bytes", resultBytes.get / n, "B"))
  }
}

object SparkCounters {
  /** Register a listener and start recording. */
  def attach(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    c
  }
}

/** Minimal JSON rendering for results and traces. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(mutable.LinkedHashMap(kv: _*))
}

/** File-system and JVM facts the workloads report. */
object Sys {
  /** Sizes of every regular file under `root`. */
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  /** Live heap in MB: the least heap in use after repeated full
    * collections, until three in a row free less than 1 MB more (at
    * least five, at most 50). Spark's cleaner releases blocks only after
    * a collection finds their owners dead, and on a busy machine it can
    * lag several collections behind; until it catches up, readings fall. */
  def heapLiveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var least = Double.MaxValue
    var flat = 0
    var rounds = 0
    while (rounds < 50 && (rounds < 5 || flat < 3)) {
      System.gc(); Thread.sleep(100)
      val mb = mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
      if (mb < least - 1) flat = 0 else flat += 1
      least = math.min(least, mb)
      rounds += 1
    }
    least
  }

  def path(first: String, more: String*): Path = Paths.get(first, more: _*)
}
