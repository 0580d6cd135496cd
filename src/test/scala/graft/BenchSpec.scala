package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's output lines are parsed by tooling outside this repo, so
  * their bytes are pinned: key order, number formats, the failed-query
  * accounting and the compact line's headline subset. */
class BenchSpec extends AnyFunSuite {

  test("bench_out.json and the compact stdout line keep their exact bytes") {
    val results = Map("q1_agg" -> 1.25, "q_custom" -> 0.5, "q_profile" -> -1.0)
    val (full, compact) = Bench.render(results, cpus = 4, sfDir = "/data/sf0.1")
    assert(full ==
      """{"metric":"total","value":1.75,"unit":"sec","n_queries":3,"n_failed":1,"cpus":4,""" +
        """"queries":{"q1_agg":1.250,"q_custom":0.500,"q_profile":-1.000},"sf":"/data/sf0.1"}""")
    assert(compact ==
      """{"metric":"total","value":1.75,"unit":"sec","n_queries":3,"n_failed":1,"cpus":4,""" +
        """"queries":{"q1_agg":1.250,"q_profile":-1.000},"sf":"/data/sf0.1"}""")
  }
}
