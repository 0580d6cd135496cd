package graft.bench

import scala.collection.mutable

/** The benchmark's own checks, run by `python3 perfbench/run.py --selftest`:
  * seeded op sequences and inputs replay exactly, the percentile helper
  * is right, and the job-interval union behind `spark.driver_gap_ms`
  * handles overlapping jobs. No Spark session is started. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: Boolean): Unit =
    if (cond) println(s"ok   $name")
    else { println(s"FAIL $name"); failures += 1 }

  private def near(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  /** Battery pass orders, serve request streams and lake_rw inputs of
    * three cycles, rendered as one string. */
  def opSequence(seed: Long): String = {
    val out = new StringBuilder
    val rng = new Rng(seed)
    (1 to 3).foreach(_ => out ++= rng.shuffle(Battery.Queries).mkString("battery ", ",", "\n"))
    (0 until Serve.Clients).foreach { c =>
      val mix = new Serve.Mix(seed * 1000003L + c)
      (1 to 200).foreach(_ => out ++= s"serve $c ${mix.next().path}\n")
    }
    val model = new LakeRw.Model
    (0 until 5000).foreach(i => model.put(i * 3, i / 4))
    val texts = mutable.ArrayBuffer.tabulate(50)(i => s"seed text $i")
    val gen = new LakeRw.LakeGen(seed, model, model.next, texts)
    (1 to 3).foreach { cycle =>
      val app = gen.appendRows(); app.foreach(r => model.put(r.id, r.key))
      val mer = gen.mergeRows(); mer.foreach(r => model.put(r.id, r.key))
      val (lo, hi) = gen.deleteRange(); model.delete(lo, hi)
      val (_, docs) = gen.ingestBatch(cycle.toLong)
      val reads = (0 until 4).flatMap(gen.readBurst)
      out ++= s"lake $cycle ${app.mkString(";")}|${mer.mkString(";")}|$lo-$hi|" +
        s"${docs.mkString(";")}|${reads.map(r => s"${r.key}=${r.expected}").mkString(";")}\n"
    }
    out.toString
  }

  def main(args: Array[String]): Unit = {
    val a = opSequence(7)
    check("same seed gives a byte-identical op sequence and inputs")(
      java.util.Arrays.equals(a.getBytes("UTF-8"), opSequence(7).getBytes("UTF-8")))
    val b = opSequence(8)
    check("a different seed gives a different battery order")(
      a.linesIterator.filter(_.startsWith("battery")).toSeq !=
        b.linesIterator.filter(_.startsWith("battery")).toSeq)
    check("a different seed gives different serve requests")(
      a.linesIterator.filter(_.startsWith("serve")).toSeq !=
        b.linesIterator.filter(_.startsWith("serve")).toSeq)
    check("a different seed gives different lake_rw inputs")(
      a.linesIterator.filter(_.startsWith("lake")).toSeq !=
        b.linesIterator.filter(_.startsWith("lake")).toSeq)

    val (p50, p90, n) = Stats.latency(new Rng(3).shuffle((1 to 100).map(_.toDouble)))
    check("p90 of 1..100 is 90")(near(p90, 90))
    check("p50 of 1..100 is 50")(near(p50, 50))
    check("sample count of 1..100 is 100")(n == 100)
    val (_, p90b, nb) = Stats.latency(Seq(30.0, 10.0, 20.0))
    check("p90 of three samples is the largest")(near(p90b, 30) && nb == 3)
    check("p99 of 1..1000 is 990")(near(Stats.percentile((1 to 1000).map(_.toDouble), 99), 990))
    check("percentile of no samples is NaN")(Stats.percentile(Nil, 90).isNaN)

    val jobs = Seq((0.0, 10.0), (5.0, 15.0), (20.0, 30.0), (25.0, 26.0), (12.0, 14.0))
    check("union of overlapping job intervals")(near(Stats.unionLength(jobs), 25))
    check("union of no intervals is 0")(near(Stats.unionLength(Nil), 0))
    check("union clipped to an op window")(near(Stats.coveredWithin(jobs, 8, 22), 9))
    val counters = new SparkCounters
    jobs.zipWithIndex.foreach { case ((s, e), i) => counters.jobs.add((i, s, e)) }
    val m = counters.metrics(Seq(Op(1, "a", 0, 40, ok = true), Op(2, "b", 40, 50, ok = true)))
      .map(x => x._1 -> x._2).toMap
    check("spark.job_ms is the per-op job union")(near(m("spark.job_ms"), 12.5))
    check("spark.driver_gap_ms is op time outside jobs")(near(m("spark.driver_gap_ms"), 12.5))
    check("spark.jobs_per_op counts jobs")(near(m("spark.jobs_per_op"), 2.5))

    if (failures > 0) { println(s"$failures self-test(s) failed"); sys.exit(1) }
    println("all self-tests passed")
    sys.exit(0)
  }
}
