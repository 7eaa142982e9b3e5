package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's one-line JSON result is parsed by other tools: keys are only
  * ever added, never renamed or reordered. */
class BenchSpec extends AnyFunSuite {

  test("result line keeps every existing key in place and states its cpus") {
    val full = Bench.resultLine("12.345",
      """"queries":{"q1":1.000},"cold":{"q1":2.000},"n_failed":0""", "/data/sf0.1", 8, 3)
    assert(full === """{"metric":"total","value":12.345,"unit":"sec",""" +
      """"queries":{"q1":1.000},"cold":{"q1":2.000},"n_failed":0,""" +
      """"sf":"/data/sf0.1","cpus":8,"n_drift_retries":3}""")
    val compact = Bench.resultLine("12.345",
      """"n_queries":236,"n_failed":0,"queries":{"q1":1.000},"detail":"BENCH_DETAIL.json"""",
      "/data/sf0.1", 32, 0)
    assert(compact.startsWith("""{"metric":"total","value":12.345,"unit":"sec","n_queries":236,"""))
    assert(compact.endsWith(
      """"detail":"BENCH_DETAIL.json","sf":"/data/sf0.1","cpus":32,"n_drift_retries":0}"""))
  }
}
