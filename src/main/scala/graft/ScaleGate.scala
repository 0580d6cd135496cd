package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Standing scale-regression gate (SURVEY §6): build (or reuse) the
  * 10× key-remapped copy of the base sf dir, run the full battery at
  * both scales, and FAIL (exit 1) if any query's wall-clock grows
  * super-linearly past the bound. The r8 one-off sweep caught two real
  * super-linear plans (fixed-geometry LSH buckets, per-term df window)
  * precisely because it ran; this main makes it a one-command gate that
  * every round must keep green instead of a sweep that rots.
  *
  * Gate rule: breach when `scaledTime / max(baseTime, Floor) > Bound`
  * with Bound 12.0 and Floor 0.2 s (a 0.05 s base is
  * fixed-overhead-dominated; 10× of "nothing" measures JVM noise, not
  * plan shape). The bound derivation (r9, revised from 8.0): the gate
  * exists to separate LINEAR scaling from super-linear returns, and on
  * fixed cores those regimes are far apart. A linear CPU-saturated
  * plan measures up to ≈10× by construction (10× rows, same 32
  * threads), and running 127 queries back-to-back adds heap-pressure
  * inflation of up to ~1.5× on the heavy tail (measured:
  * `q_substring_dedup` 8.7 s in-battery vs 5.7 s isolated best-of-3,
  * ratio 8.1 vs 4.8 — the 8.0 bound false-failed two plans whose
  * isolated ratios are 4.8 and 3.7). The failures this gate is FOR
  * measure an order of magnitude past any of that: the two real
  * super-linear plans the r8 sweep caught ran 162× and ~100×. 12.0
  * passes every honest linear plan under battery pressure and still
  * fails an N² return by 8×. Times are best-of-2 per query per scale
  * ([[Measure.battery]], the same method as `Bench`), so one-time
  * index/memo builds (IVF, co-bucketed layouts, snapshot commits) don't
  * count as scaling.
  *
  * [[boundOverrides]] lists the queries that are super-linear BY
  * DESIGN, each with its complexity-model bound — loudly, per the
  * no-silent-caps rule: an unlisted query gets the default bound, and
  * every override is printed when applied.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *      sbt "runMain graft.ScaleGate /tmp/graft-sf1"
  * Writes scale_gate.json (per-query base/scaled/ratio + breaches) and
  * prints one PASS/FAIL line last.
  */
object ScaleGate {

  // the gate rule's constants, derived in the scaladoc above
  private val Bound = 12.0
  private val Floor = 0.2

  final case class Row(name: String, base: Double, scaled: Double,
                       ratio: Double, breach: Boolean,
                       iso: Option[(Double, Double, Double)] = None)

  /** Queries whose candidate/work model is super-linear by design, with
    * the bound the model justifies. `q_embed_neardup` (L5): candidate
    * work is Θ(N·W·t) where bucket width W lumps by up to 2× at each
    * integer bucket-bit transition and table count t grows +1 per 2
    * bits as the recall repair — between two specific decades the
    * candidate ratio lands anywhere in [5×, 25×] while the AMORTIZED
    * trend stays N·log-ish.
    *
    * Bound 18.0, derived for THE decade the gate actually measures
    * (sf0.1→sf1, r17 per VERDICT #5). Geometry placement: at N=2 000
    * raw bits = ceil(log2(2000/32)) = 6, floored to NumPlanes=8 → 256
    * buckets, W=7.8, t=4; at N=20 000 bits = ceil(log2(625)) = 10 →
    * W=19.5, t=5. So the components scale as: bucket computation
    * t·bits·N = 12.5×; candidate verification t·N·W/2 = 31.2× (the
    * 8-bit floor makes the BASE artificially fine, which inflates this
    * decade above any steady-state decade, where W≈32 on both sides
    * and the ratio is t-growth × 10). Measured (isolated, GC-quiesced,
    * best-of-2 both scales): 13.69 (r17; 12.29 r16) — a ~6%
    * verification share of the [12.5, 31.2] model envelope. 18.0 sits
    * 30% above the measured placement, well inside the model ceiling,
    * and still fails the 100×+ quadratic returns the gate exists to
    * catch (the r8 sweep's real regressions ran 162× and ~100×). The
    * breach decision for override queries uses the ISOLATED re-timing
    * (GC-quiesced best-of-2 at both scales, after the battery), and
    * both measurements land in scale_gate.json so the next drift is
    * auditable data, not a prose re-derivation. */
  val boundOverrides: Map[String, Double] = Map(
    "q_embed_neardup" -> 18.0)

  /** Pure gate evaluation — unit-tested separately from the 3-minute
    * run. Queries that failed (negative time) at either scale are
    * reported as breaches with ratio -1: a query that dies only at 10×
    * is exactly what the gate exists to catch. */
  private[graft] def evaluate(base: Map[String, Double],
                              scaled: Map[String, Double],
                              bound: Double, floor: Double,
                              overrides: Map[String, Double] = boundOverrides): Seq[Row] =
    base.keys.toSeq.sorted.map { n =>
      val b = base(n)
      val s = scaled.getOrElse(n, -1.0)
      if (b < 0 || s < 0) Row(n, b, s, -1.0, breach = true)
      else {
        val r = s / math.max(b, floor)
        val qBound = overrides.getOrElse(n, bound)
        if (overrides.contains(n) && r > bound)
          println(f"[gate] $n%-28s ratio $r%.2f over default $bound%.1f — " +
            f"documented super-linear model, override bound ${qBound}%.1f applies")
        Row(n, b, s, r, r > qBound)
      }
    }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-sf1")
    val sfDir = Measure.sfDir
    val spark = GraftSession.local("graft-scale-gate")
    ScaleUp.ensureScaled(spark, sfDir, outDir)

    println(s"[gate] battery at base $sfDir")
    val base = Measure.battery(spark, sfDir, runs = 2, tag = "gate")
    println(f"[gate] base total ${base.values.filter(_ >= 0).sum}%.1f s, ${base.size} queries")
    println(s"[gate] battery at scaled $outDir")
    val scaled = Measure.battery(spark, outDir, runs = 2, tag = "gate")
    println(f"[gate] scaled total ${scaled.values.filter(_ >= 0).sum}%.1f s")

    // override queries re-time ISOLATED (GC-quiesced, best-of-2, both
    // scales) and the breach decision uses THAT ratio against the model
    // bound — in-battery numbers stay recorded alongside for drift
    // auditing; a query that already failed outright stays a breach
    val rows = evaluate(base, scaled, Bound, Floor).map { r =>
      if (!boundOverrides.contains(r.name) || r.ratio < 0) r
      else {
        val fn = SparkEntry.queries(r.name)
        def iso(dir: String): Double = Measure.bestOf(2)(fn(spark, dir).count())
        val ib = iso(sfDir)
        val isc = iso(outDir)
        val ir = isc / math.max(ib, Floor)
        val qBound = boundOverrides(r.name)
        println(f"[gate] ${r.name}%-28s isolated base=$ib%.3f scaled=$isc%.3f " +
          f"ratio=$ir%.2f vs model bound $qBound%.1f (in-battery ${r.ratio}%.2f)")
        r.copy(breach = ir > qBound, iso = Some((ib, isc, ir)))
      }
    }
    val breaches = rows.filter(_.breach)
    val json = rows.map { r =>
      f"""{"name":"${r.name}","base":${r.base}%.3f,"scaled":${r.scaled}%.3f,""" +
        f""""ratio":${r.ratio}%.2f,"breach":${r.breach}""" +
        r.iso.map { case (ib, isc, ir) =>
          f""","iso_base":$ib%.3f,"iso_scaled":$isc%.3f,"iso_ratio":$ir%.2f"""
        }.getOrElse("") + "}"
    }.mkString(
      s"""{"copies":${ScaleUp.Copies},"bound":$Bound,"floor":$Floor,"n_breaches":${breaches.size},"rows":[""",
      ",", "]}\n")
    Files.write(Paths.get("scale_gate.json"), json.getBytes(StandardCharsets.UTF_8))

    rows.sortBy(-_.ratio).take(10).foreach { r =>
      println(f"[gate] ${r.name}%-28s base=${r.base}%7.3f  scaled=${r.scaled}%8.3f  ratio=${r.ratio}%5.2f${if (r.breach) "  BREACH" else ""}")
    }
    spark.stop()
    if (breaches.nonEmpty) {
      println(s"SCALE_GATE: FAIL (${breaches.size} breaches: ${breaches.map(_.name).mkString(", ")})")
      sys.exit(1)
    } else println(f"SCALE_GATE: PASS (${rows.size} queries, worst ratio ${rows.map(_.ratio).max}%.2f, bound $Bound)")
  }
}
