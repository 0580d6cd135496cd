package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `battery`: one closed-loop client runs a fixed list of
  * `SparkEntry.queries`, each fully materialized through the noop sink,
  * in a seeded order per pass. Whole passes only, so every run times the
  * same multiset of queries. */
object Battery {

  /** Compute-heavy queries (0.8-1.3 s each at sf0.1 on 4 cores), three
    * of about 0.5 s that keep the latency distribution free of a gap at
    * its median, and a cheap engine-module query: every query module is
    * represented (`stats` by the floor list). */
  val Heavy: Seq[String] = Seq(
    "q3_join_agg", "q_kmeans", "q_active_users", "q_cube", "q_decontaminate",
    "q_tpch_q4", "q_funnel", "q_vec_assign", "q_sql_engine")

  /** Queries that sit on the per-job scheduler floor. */
  val Floor: Seq[String] = Seq(
    "q_scan_project", "q_window_rank", "q_dedup_exact", "q_stats_agg",
    "q_token_count", "q_fingerprint")

  val Queries: Seq[String] = Heavy ++ Floor

  /** Query name → the module of `graft.queries` that defines it. */
  lazy val moduleOf: Map[String, String] = {
    import graft.queries._
    Seq("relational" -> Relational.queries, "engine" -> Engine.queries,
      "pipeline" -> Pipeline.queries, "advanced" -> Advanced.queries,
      "trainprep" -> TrainPrep.queries, "stats" -> Stats.queries,
      "vectors" -> Vectors.queries, "analytics" -> Analytics.queries)
      .flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
  }
  val Modules: Seq[String] =
    Seq("relational", "engine", "pipeline", "advanced", "trainprep", "stats", "vectors", "analytics")

  /** Order-insensitive fingerprint of a result: row count plus sum and
    * xor of a per-row 64-bit hash. Floating values are rounded to four
    * decimals first, so summation order inside the engine cannot change
    * the hash. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def canon(c: Column, t: DataType): Column = t match {
      case FloatType | DoubleType => round(c.cast(DoubleType), 4)
      case ArrayType(FloatType | DoubleType, _) => transform(c, x => round(x.cast(DoubleType), 4))
      case _: MapType | _: StructType | _: ArrayType => to_json(struct(c))
      case _ => c
    }
    val cols = named.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType))
    val h = xxhash64(cols: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1000000007L))), bit_xor(col("h")))
      .collect().head
    val rows = r.getLong(0)
    (rows, if (rows == 0) "0-0" else s"${r.getLong(1)}-${java.lang.Long.toHexString(r.getLong(2))}")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Expected (rows, fingerprint-or-null) per query, from the committed file. */
  def expected(ctx: Ctx): Map[String, (Long, Option[String])] = {
    val txt = new String(Files.readAllBytes(ctx.expected.resolve("battery.tsv")), UTF_8)
    txt.linesIterator.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(q, rows, fp) = l.split("\t")
      q -> (rows.toLong, if (fp == "-") None else Some(fp))
    }.toMap
  }

  def run(ctx: Ctx): RunResult = {
    val spark = ctx.spark
    val fns = SparkEntry.queries
    val exp = expected(ctx)
    val rng = new Rng(ctx.seed)

    // a check pass runs every query once, fingerprints its output and
    // compares it with the expected file; three threads share the work.
    // Returns the number of mismatches.
    val badChecks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def checkPass(tag: String, order: Seq[String]): Int = {
      val before = badChecks.size
      val threads = (0 until 3).map { t =>
        new Thread(() => order.zipWithIndex.filter(_._2 % 3 == t).foreach { case (q, _) =>
          try {
            val (rows, fp) = fingerprint(fns(q)(spark, ctx.corpus))
            if (!exp.get(q).exists { case (er, efp) => er == rows && efp.forall(_ == fp) })
              badChecks.add(s"$tag $q: got $rows/$fp, expected ${exp.get(q)}")
          } catch { case e: Throwable => badChecks.add(s"$tag $q: $e") }
        }, s"perfbench-$tag-$t")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      badChecks.size - before
    }
    // warm pass (counts toward setup): the cold compile work of each
    // query's first call
    var checks = Queries.size
    var checksFailed = checkPass("warm", rng.shuffle(Queries))

    // timed window: whole seeded passes (at least two) until the time
    // budget is spent
    val minPasses = 2
    val ops = Seq.newBuilder[Op]
    var n = 0
    var opId = 0L
    val countVsNoop = Seq.newBuilder[(String, Double, Double)]
    val moduleS = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var sideMs = 0.0
    ctx.record(true)
    val t0 = Clock.nowMs
    while (Clock.nowMs - t0 < ctx.seconds * 1000 || n < minPasses * Queries.size) {
      rng.shuffle(Queries).foreach { q =>
        opId += 1
        val id = opId
        val s = Clock.nowMs
        val (ok, detail) = try {
          ctx.tracer.span(id, "op", q) {
            val df = ctx.tracer.span(id, "queries", "build") { fns(q)(spark, ctx.corpus) }
            if (ctx.traced)
              ctx.tracer.span(id, "queries", "plan") { df.queryExecution.executedPlan; () }
            ctx.tracer.span(id, "queries", "exec") { noop(df) }
          }
          (true, "")
        } catch { case e: Throwable => (false, s"$q: ${e.getMessage}") }
        val e = Clock.nowMs
        ops += Op(id, q, s, e, ok, detail)
        moduleS(moduleOf(q)) += (e - s) / 1000
        n += 1
        if (ctx.traced && ok) {
          // count-vs-noop record, outside the op's timed interval
          ctx.record(false)
          val c0 = Clock.nowMs
          val rows = fns(q)(spark, ctx.corpus).count()
          countVsNoop += ((q, Clock.nowMs - c0, e - s))
          sideMs += Clock.nowMs - e
          checks += 1
          if (!exp.get(q).exists(_._1 == rows)) {
            checksFailed += 1; badChecks.add(s"$q count(): $rows")
          }
          ctx.record(true)
        }
      }
    }
    // the count() records are not part of the workload's time
    val windowS = (ops.result().map(_.endMs).max - t0 - sideMs) / 1000
    ctx.record(false)
    val all = ops.result()
    // the timed ops are not fingerprinted (that would time the check);
    // a check pass after the window catches a query whose repeat calls
    // go wrong, e.g. by reusing stale state
    checks += Queries.size
    checksFailed += checkPass("after", rng.shuffle(Queries))

    val report = Seq(("passes", n.toDouble / Queries.size, "count"),
      ("samples", n.toDouble, "count"))
    // count-vs-noop record: median times per query, and the queries
    // whose two times differ by more than 1.5x
    val cvn = countVsNoop.result().groupBy(_._1).map { case (q, xs) =>
      q -> Map("count_ms" -> Stats.median(xs.map(_._2)), "noop_ms" -> Stats.median(xs.map(_._3)))
    }
    val gapQueries = cvn.collect { case (q, t)
      if math.max(t("count_ms"), t("noop_ms")) > 1.5 * math.min(t("count_ms"), t("noop_ms")) => q
    }.toSet
    val layers =
      if (!ctx.traced) Nil
      else {
        val per = math.max(1, n).toDouble
        Seq(
          ("queries.build_ms", ctx.tracer.totalMs("queries", "build") / per, "ms"),
          ("queries.plan_ms", ctx.tracer.totalMs("queries", "plan") / per, "ms"),
          ("queries.exec_ms", ctx.tracer.totalMs("queries", "exec") / per, "ms"),
          ("queries.count_noop_gap_n", gapQueries.size.toDouble, "count")) ++
          Modules.map(m => (s"queries.${m}_s", moduleS(m), "s"))
      }
    RunResult(all, checks, checksFailed, windowS, report, layers,
      Map("check_failures" -> badChecks.toArray.toSeq, "count_vs_noop" -> cvn,
        "count_noop_gap" -> cvn.filter(x => gapQueries(x._1)),
        "per_query_ms" -> all.groupBy(_.kind).map { case (q, os) => q -> Stats.median(os.map(_.ms)) },
        "op_ms" -> all.map(o => s"${o.kind}:${o.ms.round}")))
  }

  /** Writes the expected file: each query run twice; a query whose
    * fingerprint differs between the runs is checked by row count only. */
  def makeExpected(spark: SparkSession, corpus: String, out: java.nio.file.Path): Unit = {
    val lines = Queries.sorted.map { q =>
      val fn = SparkEntry.queries(q)
      val (r1, f1) = fingerprint(fn(spark, corpus))
      val (r2, f2) = fingerprint(fn(spark, corpus))
      require(r1 == r2, s"$q: row count differs between runs ($r1 vs $r2)")
      s"$q\t$r1\t${if (f1 == f2) f1 else "-"}"
    }
    Files.write(out, (("# query\trows\tfingerprint ('-' = checked by row count only)" +: lines)
      .mkString("", "\n", "\n")).getBytes(UTF_8))
  }
}
