package graft

import org.scalatest.funsuite.AnyFunSuite

/** The merge of per-core `cpu_scaling_c<N>.json` files, fed by the
  * main's own writer. */
class CpuScalingSpec extends AnyFunSuite {

  private def run(cpus: Int, kmeans: Double) = CpuScaling.perCoreJson(cpus, "/tmp/sf1",
    Seq("q_kmeans" -> kmeans, "q_meta_count" -> 1.0))

  test("merges the lowest against the highest core count into speedups") {
    assert(CpuScaling.merged(Seq(run(16, 2.0), run(32, 1.0), run(8, 4.0))).contains(
      """{"cpus_low":8,"cpus_high":32,"per_query":{""" +
        """"q_kmeans":{"c8_sec":4.000,"c32_sec":1.000,"speedup":4.00},""" +
        """"q_meta_count":{"c8_sec":1.000,"c32_sec":1.000,"speedup":1.00}}}""" + "\n"))
  }

  test("one core count alone is not merged") {
    assert(CpuScaling.merged(Seq(run(8, 4.0))).isEmpty)
  }
}
