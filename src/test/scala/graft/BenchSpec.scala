package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's one-line JSON result is parsed by other tools: keys are only
  * ever added, never renamed or reordered. The measurement policy is pinned
  * against a fake runner. */
class BenchSpec extends AnyFunSuite {

  test("result line keeps every existing key in place and states its cpus") {
    val full = Bench.resultLine("12.345",
      """"queries":{"q1":1.000},"cold":{"q1":2.000},"n_failed":0""", "/data/sf0.1", 8,
      Some(1.0234))
    assert(full === """{"metric":"total","value":12.345,"unit":"sec",""" +
      """"queries":{"q1":1.000},"cold":{"q1":2.000},"n_failed":0,""" +
      """"sf":"/data/sf0.1","cpus":8,"n_drift_retries":0,"median_prior_ratio":1.023}""")
    val compact = Bench.resultLine("12.345",
      """"n_queries":236,"n_failed":0,"queries":{"q1":1.000},"detail":"BENCH_DETAIL.json"""",
      "/data/sf0.1", 32, None)
    assert(compact.startsWith("""{"metric":"total","value":12.345,"unit":"sec","n_queries":236,"""))
    assert(compact.endsWith(
      """"detail":"BENCH_DETAIL.json","sf":"/data/sf0.1","cpus":32,"n_drift_retries":0,""" +
        """"median_prior_ratio":null}"""))
  }

  test("the detail header says whether libhadoop is loaded") {
    val path = java.nio.file.Files.createTempFile("bench_detail", ".json")
    Bench.writeDetail(path.toString,
      Seq(Bench.Timing("q1", 2.0, 1.0, runs = Seq(2.0, 1.0, 1.5))), 1.0, "/data/sf0.1")
    val json = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    val native = org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded
    assert(json.contains(s""""hadoop_native": $native,"""))
    assert(json.contains(""""q1": {"cold": 2.000, "warm": 1.000, "runs": [2.000, 1.000, 1.500]"""))
  }

  test("a detail row states the adopted run's codegen compiles, and only when measured") {
    val path = java.nio.file.Files.createTempFile("bench_detail", ".json")
    Bench.writeDetail(path.toString, Seq(
      Bench.Timing("q1", 2.0, 1.0, runs = Seq(2.0, 1.0, 1.5), compiles = Some(0L)),
      Bench.Timing("q2", 2.0, 1.0, runs = Seq(2.0, 1.0))), 2.0, "/data/sf0.1")
    val json = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    assert(json.contains(""""q1": {"cold": 2.000, "warm": 1.000, "runs": [2.000, 1.000, 1.500], "run_taken": 2, "compiles": 0}"""))
    assert(json.contains(""""q2": {"cold": 2.000, "warm": 1.000, "runs": [2.000, 1.000], "run_taken": 2}"""))
    assert(json.contains("compiles = codegen compilations"))
  }

  /** A runner that replays `results` in order and counts its calls. */
  private final class FakeRunner(results: (Double, Boolean)*) {
    private val it = results.iterator
    var calls = 0
    def apply(): (Double, Boolean) = { calls += 1; it.next() }
  }

  test("a healthy entry takes exactly three runs: cold = run 1, warm = min") {
    val r = new FakeRunner((2.0, true), (0.9, true), (1.1, true), (0.1, true))
    val t = Bench.measure("q", singleRun = false)(() => r())
    assert(r.calls === 3)
    assert(t.runs === Seq(2.0, 0.9, 1.1))
    assert(t.cold === 2.0 && t.warm === 0.9 && !t.failed && t.tiebreak.isEmpty)
  }

  test("a failing run 1 fails the entry and takes no further runs") {
    val r = new FakeRunner((0.3, false), (1.0, true), (1.0, true))
    val t = Bench.measure("q", singleRun = false)(() => r())
    assert(r.calls === 1)
    assert(t.failed && t.runs === Seq(0.3))
  }

  test("a failing later run keeps the successful runs") {
    val r = new FakeRunner((2.0, true), (1.5, true), (0.1, false))
    val t = Bench.measure("q", singleRun = false)(() => r())
    assert(r.calls === 3)
    assert(!t.failed && t.runs === Seq(2.0, 1.5) && t.warm === 1.5 && t.cold === 2.0)
  }

  test("single-run mode takes one run, tagged single_run") {
    val r = new FakeRunner((2.0, true), (1.0, true), (1.0, true))
    val t = Bench.measure("q", singleRun = true)(() => r())
    assert(r.calls === 1)
    assert(t.runs === Seq(2.0) && t.warm === 2.0 && t.tiebreak === Some("single_run"))
  }

  test("past 90% of the budget the remaining forks run single-run, whatever the projection") {
    assert(Bench.singleRunFrom(wallS = 0.91 * 2100, projectedS = 0.0, budgetS = 2100))
    assert(!Bench.singleRunFrom(wallS = 0.89 * 2100, projectedS = 0.0, budgetS = 2100))
    // the projection alone still trips it early: 100 + 1.25 * 1700 > 2100
    assert(Bench.singleRunFrom(wallS = 100, projectedS = 1700, budgetS = 2100))
    assert(!Bench.singleRunFrom(wallS = 100, projectedS = 1000, budgetS = 2100))
  }

  test("stall judges the warm runs only: a slow run 1 is not a stall") {
    def t(runs: Double*) = Bench.Timing("q", runs.head, runs.min, runs = runs)
    // cdc_op_counts on a 4-vCPU board: fork codegen in run 1, calm after
    assert(!Bench.stalled(t(6.534, 0.991, 0.945)))
    // a real spread among the warm runs still reads as a stall
    assert(Bench.stalled(t(1.0, 0.9, 8.0)))
    assert(!Bench.stalled(t(1.0, 0.9, 1.5)))  // within 5x
    assert(!Bench.stalled(t(0.2, 0.1, 0.9)))  // > 5x but under 2 s apart
    assert(!Bench.stalled(t(6.5, 0.9)))       // one warm run: nothing to compare
    assert(!Bench.stalled(Bench.Timing("q", 9.0, 9.0, failed = true, runs = Seq(0.1, 0.1, 9.0))))
  }

  test("budget projection scales priors by the running median_prior_ratio") {
    val prior = Map("a" -> 2.0, "b" -> 1.0)
    val groups = Seq(Seq("a", "b"), Seq("c")) // c has no prior
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-9
    val base = Bench.projectedS(groups, prior, None)
    assert(near(Bench.projectedS(groups, prior, Some(1.0)), base))
    // twice as slow as the priors' host: only the priced priors double
    assert(near(Bench.projectedS(groups, prior, Some(2.0)), base + 3.2 * (2.0 + 1.0)))
    assert(near(Bench.projectedS(groups, prior, Some(0.5)), base - 3.2 * 1.5))
    assert(Bench.projectedS(Nil, prior, Some(2.0)) === 0.0)
  }

  test("median_prior_ratio skips failed and no-prior entries") {
    def ok(n: String, warm: Double, prior: Option[Double]) =
      Bench.Timing(n, warm, warm, runs = Seq(warm), prior = prior)
    val results = Seq(
      ok("a", 1.0, Some(1.0)),   // 1.0
      ok("b", 3.0, Some(1.0)),   // 3.0
      ok("c", 1.0, Some(2.0)),   // 0.5
      ok("d", 50.0, None),       // no prior: skipped
      Bench.Timing("e", 90.0, 90.0, failed = true, prior = Some(1.0))) // failed: skipped
    assert(Bench.medianPriorRatio(results) === Some(1.0))
    assert(Bench.medianPriorRatio(results :+ ok("f", 4.0, Some(1.0))) === Some(2.0))
    assert(Bench.medianPriorRatio(results.filter(_.prior.isEmpty)) === None)
  }
}
