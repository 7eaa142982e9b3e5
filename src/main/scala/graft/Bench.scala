package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics

/** Driver bench contract: run every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * print ONE JSON line with total + per-query seconds.
  *
  * Isolation: child JVMs (same classpath + JVM flags,
  * `SPARK_GRAFT_ONLY=<names>`) run the queries and the parent aggregates
  * the children's measurements. A 70-query run in a single JVM couples every
  * query through JIT/code-cache state — whole-stage codegen loads fresh
  * classes per query, profiles invalidate, and hot library methods
  * (Jackson, regex) deopt — which made same-code queries swing 10-30x
  * between runs. One fork per query does not fit the wall-clock budget at
  * ~200 entries (each fork pays ~11 s of JVM boot + session init), so the
  * grouping is tiered:
  *   - the census family's stream entries share ONE fork, amortizing the
  *     one-time streaming machinery the way batches amortize boot;
  *   - the other stream entries and every entry whose committed prior warm
  *     exceeds [[IsolateCutoffS]] get a PRIVATE fork;
  *   - everything else runs in shared-fork batches of [[BatchSize]], in
  *     descending prior order (entries without a prior first).
  * JVM + session startup stays OUT of the measurement either way (the child
  * times only the query). An entry missing from a batch child's output
  * (child crash, or a genuine query failure) is retried once in a private
  * fork before being recorded as failed, so a batch-mate's crash cannot fail
  * innocent entries.
  *
  * Measurement ([[measure]]): every entry runs [[Runs]] times in its fork;
  * `cold` is run 1 and `warm` the min of the runs. The rule is the same for
  * every entry and never looks at the prior, so no entry gets extra draws
  * because it landed slow. One degraded mode: remaining forks run each entry
  * ONCE (`tiebreak: "single_run"`, counted in `n_single_run`) when a
  * projection over the remaining forks' committed priors says the full
  * policy would overrun SPARK_GRAFT_BUDGET_S (default 2100 s), or once the
  * wall clock is past 90% of it ([[singleRunFrom]]).
  *
  * Truncation posture: the driver captures a BOUNDED TAIL of process output
  * (~2 KB) and parses the JSON line out of it — at ~100 queries the full
  * per-query map no longer fits. So the full per-query detail is always
  * written to a file (SPARK_GRAFT_DETAIL, default BENCH_DETAIL.json in the
  * working directory), and the stdout line adapts: the complete map when it
  * fits comfortably inside the tail, otherwise a compact total-first line
  * carrying only the slowest queries plus a pointer to the detail file.
  *
  * Escape hatches: SPARK_GRAFT_NO_FORK=1 runs everything inline (fast local
  * iteration), SPARK_GRAFT_ONLY=a,b,c limits the query set in either mode.
  *
  * Queries are materialized through the `noop` sink (not `.count()`) so
  * column pruning can't skip projection work and the measured time reflects
  * the full operator, while still avoiding any collect-to-driver cost. */
object Bench {

  /** Entries whose BUILDERS start Structured Streaming queries (MemoryStream
    * census feeds, the health pipeline's file-source sink): state-store
    * maintenance threads and listener-bus traffic outlive stop(), so these
    * never share a fork with batch entries. Shared with PlanAuditSpec, which
    * skips them (their returned census frame is a tiny local/parquet read;
    * the interesting plans are the micro-batch ones, pinned in
    * StreamingSpec) so the audit doesn't re-run the stream drains
    * RegistrationSpec already pays for. */
  private[graft] val streamEntries: Set[String] = Set(
    "cdc_health_counts", "cdc_health_surface", "cdc_dedup_stream",
    "p27_journey_ordered", "p28_alert_stream", "p29_stream_correlate",
    "p32_stream_outer")

  /** The census FAMILY — the stream entries that share one bench fork. An
    * EXPLICIT named set, not a name-prefix filter over [[streamEntries]]: a
    * future p-prefixed stream entry that is NOT part of the census family
    * must keep its private fork instead of being silently pulled into the
    * shared JVM. */
  private[graft] val censusFamily: Set[String] = Set(
    "p27_journey_ordered", "p28_alert_stream", "p29_stream_correlate",
    "p32_stream_outer")
  require(censusFamily.subsetOf(streamEntries),
    "censusFamily must be a subset of streamEntries")

  /** Timed runs per entry (1 in single-run mode). */
  private val Runs = 3
  /** Entries whose committed prior warm exceeds this get a private fork. */
  private val IsolateCutoffS = 4.0
  /** Entries per shared batch fork. */
  private val BatchSize = 24
  /** Nominal fixed cost of one child fork (JVM boot + session init +
    * machinery prewarm), measured ~10-12 s and priced at the high end so the
    * projection errs toward caution. */
  private val ForkBootS = 12.0
  /** `stall: true` thresholds (see [[stalled]]). */
  private val StallRatio = 5.0
  private val StallMinSpreadS = 2.0

  /** One measurement: cold = run 1, warm = min of runs (see [[measure]]). A
    * query that THROWS is carried with `failed = true` — its elapsed time is
    * a fail-fast artifact, not a measurement, so it is excluded from the
    * total and surfaced via `n_failed`. `prior` is attached by the parent
    * (children never see priors). `compiles` counts the codegen
    * compilations of the run `warm` adopted: 0 when every generated class
    * the entry needs was already in the session's codegen cache. */
  private[graft] final case class Timing(name: String, cold: Double, warm: Double,
                                         failed: Boolean = false,
                                         runs: Seq[Double] = Nil,
                                         cacheHit: Option[Boolean] = None,
                                         prior: Option[Double] = None,
                                         tiebreak: Option[String] = None,
                                         censusPos: Option[Int] = None,
                                         compiles: Option[Long] = None)

  /** The measurement policy for one entry. `run` executes the entry once and
    * returns (elapsed seconds, succeeded). Run 1 is always taken; a failing
    * run 1 marks the entry failed. Otherwise up to [[Runs]] - 1 more runs
    * follow (none in single-run mode), stopping at the first failing one,
    * whose time is dropped: the successful runs stand. */
  private[graft] def measure(name: String, singleRun: Boolean)(
      run: () => (Double, Boolean)): Timing = {
    val (t1, ok1) = run()
    if (!ok1) Timing(name, t1, t1, failed = true, runs = Seq(t1))
    else {
      val more = if (singleRun) 0 else Runs - 1
      val runs = t1 +: Iterator.continually(run()).take(more)
        .takeWhile(_._2).map(_._1).toSeq
      Timing(name, t1, runs.min, runs = runs,
        tiebreak = if (singleRun) Some("single_run") else None)
    }
  }

  /** Whether the remaining forks run single-run: the wall clock plus the
    * projected cost of the remaining forks (x1.25 safety) would overrun the
    * budget, or — the backstop for late, unpriced expensive entries — the
    * wall clock alone is past 90% of it. */
  private[graft] def singleRunFrom(wallS: Double, projectedS: Double,
                                   budgetS: Double): Boolean =
    wallS + 1.25 * projectedS > budgetS || wallS > 0.9 * budgetS

  /** Whether an entry's warm runs (2..n) spread like a machine stall. Run 1
    * carries the fork's one-time codegen and class-loading cost, so it is
    * not judged: a cold-vs-warm gap is not a stall. */
  private[graft] def stalled(t: Timing): Boolean = {
    val warm = t.runs.drop(1)
    !t.failed && warm.size >= 2 && warm.min > 0 &&
      warm.max > warm.min * StallRatio && warm.max - warm.min > StallMinSpreadS
  }

  /** Projected seconds for the remaining forks: boot plus, per member, cold
    * ~1.2x warm plus two warm runs, its prior scaled by `ratio` (the running
    * board's median warm / prior, 1.0 until one exists, so a slower host than
    * the priors' is priced at its own speed); no prior prices at 1 s. */
  private[graft] def projectedS(remaining: Seq[Seq[String]],
                                prior: Map[String, Double],
                                ratio: Option[Double]): Double =
    remaining.map(g => ForkBootS + g.map(n =>
      3.2 * prior.get(n).map(_ * ratio.getOrElse(1.0)).getOrElse(1.0) + 0.3).sum).sum

  /** Median of warm / prior_warm over the non-failed entries that have a
    * prior: the board's per-entry drift against the committed round, immune
    * to the few expensive entries that dominate the total. */
  private[graft] def medianPriorRatio(results: Seq[Timing]): Option[Double] = {
    val ratios = results.filter(!_.failed).flatMap(t =>
      t.prior.filter(_ > 0).map(t.warm / _)).sorted
    val n = ratios.size
    if (n == 0) None
    else if (n % 2 == 1) Some(ratios(n / 2))
    else Some((ratios(n / 2 - 1) + ratios(n / 2)) / 2)
  }

  /** Prior-round warm seconds per query, parsed from the COMMITTED
    * BENCH_DETAIL.json — `git show HEAD:` first, so a second bench run in
    * the same session still compares against the committed round baseline
    * (not its own first run's numbers); the on-disk file is the fallback
    * when git is unavailable. Priors order the forks, price the budget
    * projection and land next to the new number in the detail artifact, so
    * a verdict can separate "code regression" from "session noise". */
  private def readPriorWarm(path: String): Map[String, Double] = {
    def parse(txt: String): Map[String, Double] =
      // [^{}] so the `"queries": {` wrapper line can never swallow the
      // first entry's warm into a bogus 'queries' key
      "\"([A-Za-z0-9_]+)\": \\{[^{}]*\"warm\": ([0-9.]+)".r
        .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
    val committed =
      try {
        // resolve repo-relative: -C into the detail file's own directory and
        // a ./-prefixed basename (HEAD:./f is cwd-relative under -C, while a
        // bare HEAD:f is repo-root-relative) — so the lookup works no matter
        // where the JVM was launched from or how nested the detail path is
        val abs = java.nio.file.Paths.get(path).toAbsolutePath.normalize
        val p = new ProcessBuilder("git", "-C", abs.getParent.toString,
          "show", s"HEAD:./${abs.getFileName}").start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
        if (p.waitFor() == 0 && out.contains("\"warm\"")) Some(parse(out)) else None
      } catch { case _: Throwable => None }
    if (committed.isEmpty)
      // the on-disk file may already hold THIS session's first run — flag
      // the weaker baseline so a drifted prior_warm is explainable
      System.err.println(s"[bench] git show failed for $path; " +
        "falling back to the on-disk detail file as the prior baseline")
    committed.getOrElse(
      try parse(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8"))
      catch { case _: Throwable => Map.empty })
  }

  private def runInline(names: Seq[String], sfDir: String, cpus: String,
                        singleRun: Boolean): Seq[Timing] = {
    val spark = EngineSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the shared machinery (parquet reader, codegen compiler, shuffle,
    // noop sink) before the first measured query: a cold JVM otherwise bills
    // ~3-4 s of one-time class loading to whichever query runs first — which
    // in forked mode is every fork's first query.
    try graft.tables.Tables.nation(spark, sfDir)
      .groupBy("n_regionkey").count()
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      graft.queries.FixtureCache.clearReport()
      val compiles = scala.collection.mutable.ArrayBuffer.empty[Long]
      val t = measure(name, singleRun) { () =>
        val c0 = compiled
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        // Release anything the query pinned (persist/Materialize inside
        // operators like the LSH signature materialization): leaked blocks
        // would GC-thrash (and warm-start) the next run.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        val elapsed = (System.nanoTime() - t0) / 1e9
        compiles += compiled - c0
        (elapsed, ok)
      }
      val report = graft.queries.FixtureCache.lookupReport
      val hit = if (report.isEmpty) None else Some(report.values.forall(identity))
      if (!t.failed)
        System.err.println(f"[bench] $name%-24s ${t.warm}%9.3f s  (cold ${t.cold}%.3f s" +
          (if (singleRun) ", single-run mode)" else ")"))
      t.copy(cacheHit = hit, compiles = compiles.lift(t.runs.indexOf(t.runs.min)))
    }
    spark.stop()
    results
  }

  /** Spawn one child JVM for a GROUP of queries; the child re-enters
    * [[main]] with SPARK_GRAFT_FORKED=1 and prints one JSON line whose
    * section maps (`queries`/`cold`/`runs`/`cache_hit`/`compiles`/
    * `tiebreak`) carry every query it measured — the parent reads the
    * child's FULL stdout, so the driver's bounded-tail limit does not apply
    * here (it only bounds the PARENT's final line). A query absent from the
    * child's `queries` map (child crash, or the query threw) comes back as a
    * failed Timing; the caller decides whether to retry it in a private
    * fork. */
  private def forkGroup(group: Seq[String], singleRun: Boolean): Seq[Timing] = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cp = System.getProperty("java.class.path")
    val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")).asJava
    val pb = new ProcessBuilder(cmd)
    pb.environment().put("SPARK_GRAFT_ONLY", group.mkString(","))
    pb.environment().put("SPARK_GRAFT_FORKED", "1")
    if (singleRun) pb.environment().put("SPARK_GRAFT_SINGLE_RUN", "1")
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val t0 = System.nanoTime()
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val rc = proc.waitFor()
    val wall = (System.nanoTime() - t0) / 1e9
    // Section maps in the child's line are flat (`"name":value`), so a
    // non-greedy brace match per section + a pair regex over its body
    // recovers every entry; `runs` holds arrays, which contain no '}' and
    // therefore survive the same section match.
    def section(key: String): String =
      ("\"" + key + "\":\\{([^}]*)\\}").r.findFirstMatchIn(out)
        .map(_.group(1)).getOrElse("")
    def numMap(key: String): Map[String, Double] =
      "\"([A-Za-z0-9_]+)\":([0-9.]+)".r.findAllMatchIn(section(key))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val warmMap = if (rc == 0) numMap("queries") else Map.empty[String, Double]
    val coldMap = numMap("cold")
    val runsMap: Map[String, Seq[Double]] =
      "\"([A-Za-z0-9_]+)\":\\[([0-9.,]+)\\]".r.findAllMatchIn(section("runs"))
        .map(m => m.group(1) -> m.group(2).split(",").toSeq.map(_.toDouble)).toMap
    val cacheMap: Map[String, Boolean] =
      "\"([A-Za-z0-9_]+)\":(true|false)".r.findAllMatchIn(section("cache_hit"))
        .map(m => m.group(1) -> m.group(2).toBoolean).toMap
    val compilesMap = numMap("compiles")
    val tbMap: Map[String, String] =
      "\"([A-Za-z0-9_]+)\":\"([a-z0-9_.+]+)\"".r.findAllMatchIn(section("tiebreak"))
        .map(m => m.group(1) -> m.group(2)).toMap
    group.map { name =>
      warmMap.get(name) match {
        case Some(warm) =>
          val t = Timing(name, coldMap.getOrElse(name, warm), warm,
            runs = runsMap.getOrElse(name, Nil), cacheHit = cacheMap.get(name),
            tiebreak = tbMap.get(name), compiles = compilesMap.get(name).map(_.toLong))
          System.err.println(
            f"[bench] $name%-24s ${t.warm}%9.3f s  (batch ${group.size}, wall ${wall}%.1f s)")
          t
        case None =>
          // The child excludes a failed query from its "queries" map and
          // sets n_failed; a missing entry (or dead child) is therefore a
          // FAILURE, not a wall-clock measurement. The caller retries batch
          // members in a private fork.
          System.err.println(
            s"[bench] $name MISSING from child output (rc=$rc, batch ${group.size})")
          Timing(name, wall, wall, failed = true)
      }
    }
  }

  /** Headroom telemetry captured by [[runForked]] for the detail header, so
    * the artifact records how much margin the run had left. */
  private final case class RunStats(wallS: Double, budgetS: Double,
                                    nIsolated: Int, nBatched: Int,
                                    nCensusShared: Int)
  private var runStats: Option[RunStats] = None

  /** Tiered forked execution (see the object doc): the census fork first,
    * then the private forks, then the shared batches; entries missing from
    * a batch child are retried once in a private fork. Logs cumulative wall
    * clock after every fork and switches the remaining forks to single-run
    * mode per [[singleRunFrom]]. */
  private def runForked(names: Seq[String],
                        prior: Map[String, Double]): Seq[Timing] = {
    val budgetS =
      sys.env.getOrElse("SPARK_GRAFT_BUDGET_S", "2100").toDouble
    val (private0, small) = names.partition(n =>
      streamEntries(n) || prior.get(n).exists(_ > IsolateCutoffS))
    val (census, solo) = private0.partition(censusFamily)
    // Descending committed prior: the most informative forks run on the
    // freshest machine state, and a budget squeeze lands on the cheap
    // fork-boot-dominated tail. Entries with no prior (new this round) sort
    // first.
    def byPrior(ns: Seq[String]) = ns.sortBy(n => -prior.getOrElse(n, Double.MaxValue))
    // second element: the census family's shared fork (members carry their
    // run position in it)
    val groups: Seq[(Seq[String], Boolean)] =
      (if (census.nonEmpty) Seq((census.sorted, true)) else Nil) ++
        byPrior(solo).map(n => (Seq(n), false)) ++
        byPrior(small).grouped(BatchSize).map((_, false)).toSeq
    System.err.println(f"[bench] plan: ${small.size} entries in " +
      f"${small.grouped(BatchSize).size} batches of <=$BatchSize + " +
      f"${solo.size} isolated forks + ${census.size} census-family shared; " +
      f"budget $budgetS%.0f s")
    val t0 = System.nanoTime()
    var singleRun = false
    val buf = scala.collection.mutable.ArrayBuffer.empty[Timing]
    var done = 0
    groups.zipWithIndex.foreach { case ((g, isCensus), gi) =>
      val first = forkGroup(g, singleRun)
      // the first member of the census fork pays the residual one-time
      // streaming cost (~0.3-1.0 s): adjudicate a census regression against
      // its position before suspecting the plan
      val (missing, ok) = first.map(t =>
        if (isCensus) t.copy(censusPos = Some(g.indexOf(t.name) + 1)) else t)
        .partition(_.failed)
      buf ++= ok
      // a batch-mate's crash or a transient failure must not condemn an
      // entry without giving it a clean private JVM once
      buf ++= (if (g.size > 1 && missing.nonEmpty) {
        System.err.println(s"[bench] retrying ${missing.size} missing " +
          s"entries individually: ${missing.map(_.name).mkString(",")}")
        missing.flatMap(t => forkGroup(Seq(t.name), singleRun))
      } else missing)
      done += g.size
      val wall = (System.nanoTime() - t0) / 1e9
      System.err.println(
        f"[bench] cumulative wall $wall%.1f s after $done/${names.size} entries")
      if (!singleRun) {
        val ratio = medianPriorRatio(buf.map(t => t.copy(prior = prior.get(t.name))).toSeq)
        val projected = projectedS(groups.drop(gi + 1).map(_._1), prior, ratio)
        if (singleRunFrom(wall, projected, budgetS)) {
          singleRun = true
          System.err.println(f"[bench] wall $wall%.1f s, projected " +
            f"$projected%.1f s (x1.25), budget $budgetS%.0f s - " +
            "remaining forks switch to single-run mode")
        }
      }
    }
    runStats = Some(RunStats((System.nanoTime() - t0) / 1e9, budgetS,
      solo.size, small.size, census.size))
    // restore the caller's name order so the artifact stays diff-stable
    val byName = buf.map(t => t.name -> t).toMap
    names.map(byName)
  }

  /** The one-line JSON result: the total first, then `body` (the full or
    * compact per-query sections), then the scale factor, the `local[N]`
    * width the board ran at, `n_drift_retries` (always 0 — the key stays
    * for readers of older boards) and the median per-entry warm/prior ratio
    * (`null` without priors). */
  private[graft] def resultLine(totalStr: String, body: String, sfDir: String,
                                cpus: Int, priorRatio: Option[Double]): String =
    s"""{"metric":"total","value":$totalStr,"unit":"sec",$body,"sf":"$sfDir","cpus":$cpus,""" +
      s""""n_drift_retries":0,"median_prior_ratio":${ratioJson(priorRatio)}}"""

  private def ratioJson(r: Option[Double]): String =
    r.map(v => f"$v%.3f").getOrElse("null")

  private def jsonMap(entries: Seq[(String, Double)]): String =
    entries.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")

  /** Full per-query record — the artifact the bounded tail cannot clip. */
  private[graft] def writeDetail(path: String, results: Seq[Timing],
                                 total: Double, sfDir: String): Unit = {
    val nStalled = results.count(stalled)
    val nSingleRun = results.count(_.tiebreak.contains("single_run"))
    val rows = results.map { t =>
      val runs = t.runs.map(v => f"$v%.3f").mkString("[", ", ", "]")
      val cache = t.cacheHit.map(h => s""", "cache_hit": $h""").getOrElse("")
      val prior = t.prior.map(p => f""", "prior_warm": $p%.3f""").getOrElse("")
      val taken = if (t.runs.isEmpty) ""
        else s""", "run_taken": ${t.runs.indexOf(t.runs.min) + 1}"""
      val tb = t.tiebreak.map(r => s""", "tiebreak": "$r"""").getOrElse("")
      val cp = t.censusPos.map(x => s""", "census_pos": $x""").getOrElse("")
      val st = if (stalled(t)) s""", "stall": true""" else ""
      val cg = t.compiles.map(c => s""", "compiles": $c""").getOrElse("")
      if (t.failed)
        f"""  "${t.name}": {"failed": true, "elapsed": ${t.warm}%.3f, "runs": $runs}"""
      else
        f"""  "${t.name}": {"cold": ${t.cold}%.3f, "warm": ${t.warm}%.3f, "runs": $runs$taken$tb$cp$st$cache$prior$cg}"""
    }
    val header = runStats.map(s =>
      f""" "wall_s": ${s.wallS}%.1f, "budget_s": ${s.budgetS}%.0f, "headroom_s": ${s.budgetS - s.wallS}%.1f, "n_isolated": ${s.nIsolated}, "n_batched": ${s.nBatched}, "n_census_shared": ${s.nCensusShared}, "n_single_run": $nSingleRun, "n_stalled": $nStalled,
         |""".stripMargin).getOrElse("")
    val json =
      f"""{"metric": "total", "value": $total%.3f, "unit": "sec",
         |$header "median_prior_ratio": ${ratioJson(medianPriorRatio(results))}, "hadoop_native": ${org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded},
         | "methodology": "forked JVMs: the four census stream entries share one fork, the other stream entries and entries whose prior_warm exceeds 4 s get a private fork, the rest run in shared forks of 24 in descending prior_warm order; every entry runs 3 times in its fork, cold = run 1, warm = min of the runs (run_taken = its 1-based index); when the wall clock plus the projected cost of the remaining forks (x1.25, priors scaled by the running median_prior_ratio) would overrun budget_s, or the wall clock passes 90%% of it, the remaining forks run each entry once (tiebreak: single_run, counted in n_single_run); an entry missing from a batch fork's output is retried once in a private fork before it counts as failed; stall: true marks warm runs (2..n) spanning >5x and >2 s; prior_warm = the committed board's warm, median_prior_ratio = the median of warm / prior_warm; cache_hit = every FixtureCache lookup was served from the persisted parquet; compiles = codegen compilations (CodegenMetrics) in the run warm adopted, 0 when that run found every generated class in the codegen cache, which is the steady state a repeated entry reaches; census_pos = the member's position in the census fork; hadoop_native = libhadoop is loaded, a fact about the host only: EngineSession's local file system forks no chmod/readlink either way, so no timing here depends on it, while code on Hadoop's own local file system would fork per file where it is false; raw per-run times in runs",
         | "sf": "$sfDir",
         | "queries": {
         |${rows.mkString(",\n")}
         |}}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      json.getBytes("UTF-8"))
    ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Optional comma-separated subset for local iteration, e.g.
    //   SPARK_GRAFT_ONLY=q4_join_shuffle,q8_outer_join
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val isChild = sys.env.get("SPARK_GRAFT_FORKED").contains("1")
    val inline = isChild || sys.env.get("SPARK_GRAFT_NO_FORK").contains("1")
    val detail = sys.env.getOrElse("SPARK_GRAFT_DETAIL", "BENCH_DETAIL.json")
    // Prior-round warm baseline, read by the parent from the committed
    // detail file BEFORE this run overwrites it; children never need it.
    val prior: Map[String, Double] =
      if (isChild) Map.empty
      else readPriorWarm(sys.env.getOrElse("SPARK_GRAFT_PRIOR_DETAIL", detail))
    // Queries whose children read the run-level fixture caches: the cdc
    // family, the apply/materialize (w*) entries, the snapshot roundtrip,
    // the incremental-LSH ingest, the consumers of the cached near-dup
    // pair graph, and the shingle-keyed x2 family (shared shingle table).
    // A filtered local run over other queries must not pay the
    // (deliberately expensive) builds it never reads.
    val touchesCdcFixtures =
      names.exists(n => n.startsWith("cdc_") || n.startsWith("w") ||
        n.startsWith("s5_"))
    val llmFixtureConsumers = Set("x9_dup_clusters", "x9_dup_clusters_star",
      "x9_triangles", "x9_kcore", "x9_keepers", "x10_pipeline",
      "x10_pipeline_incremental", "x10_state_reps", "x10_two_night_census",
      "x2_minhash_lsh", "x2_simhash", "x2_minhash_md5", "x2_ngram_jaccard",
      "x2_containment", "x2_tf_cosine", "x1_dup_ngram", "x1_novelty",
      "x1_dup_spans", "x1_span_removal",
      "x3_ann_lsh", "x3_ann_ivf", "x3_ann_pq",
      "x3_ann_ivf_trained", "x3_ann_ivf_trained_index", "x3_ann_pq_trained",
      "x2_winnow_long", "x4_long_quality", "x4_cms_shingles")
    val touchesLshIndex = names.contains("x2_lsh_incremental") ||
      names.contains("x2_lsh_ingest_cycle") ||
      names.exists(llmFixtureConsumers)
    val touchesMetricsFixtures =
      names.contains("p28_alert_stream") || names.contains("p29_stream_correlate")
    // the incremental curation pipeline's standing state (digests, reps,
    // kept attrs, census, band/shingle indexes) is persisted nightly
    // input, not timed work — both the census and the state-update entry
    // read it
    val touchesCurationState = names.contains("x10_pipeline_incremental") ||
      names.contains("x10_state_reps") || names.contains("x10_two_night_census")
    if (!inline && (touchesCdcFixtures || touchesLshIndex ||
        touchesMetricsFixtures || touchesCurationState)) {
      // Populate the run-level fixture caches BEFORE any timed child forks,
      // so the first cdc query measures the parse operator (not the one-time
      // generate→to_json→parquet cache build — round-8 verdict #3) and the
      // LSH ingest measures the classify (not the index build). Idempotent
      // and ~free when the cache is already warm.
      val pw = EngineSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
      pw.sparkContext.setLogLevel("WARN")
      try {
        if (touchesCdcFixtures) graft.queries.CdcQueries.prewarmFixtures(pw, sfDir)
        if (touchesLshIndex) graft.queries.LlmOps.prewarmFixtures(pw, sfDir)
        if (touchesMetricsFixtures) graft.queries.MetricsOps.prewarmFixtures(pw, sfDir)
        if (touchesCurationState)
          graft.queries.CurationQueries.prewarmFixtures(pw, sfDir)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] fixture prewarm failed: ${e.getMessage}")
      }
      pw.stop()
    }
    val measured =
      if (inline)
        runInline(names, sfDir, cpus, sys.env.get("SPARK_GRAFT_SINGLE_RUN").contains("1"))
      else runForked(names, prior)
    val results = measured.map(t => t.copy(prior = prior.get(t.name)))
    val (failedQ, okQ) = results.partition(_.failed)
    // Total covers only genuine measurements; failed queries are named on
    // stderr and counted in the JSON line so a broken query can never again
    // report as a fast success.
    val total = okQ.map(_.warm).sum
    val totalStr = f"$total%.3f"
    if (failedQ.nonEmpty)
      System.err.println(s"[bench] ${failedQ.size} FAILED queries (excluded " +
        s"from total): ${failedQ.map(_.name).mkString(",")}")
    if (!isChild) {
      try writeDetail(detail, results, total, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] detail write failed: ${e.getMessage}")
      }
    }
    val warm = jsonMap(okQ.map(t => t.name -> t.warm))
    val cold = jsonMap(okQ.map(t => t.name -> t.cold))
    val nFailed = s""","n_failed":${failedQ.size}"""
    // A child's line also carries the raw run times, cache hits, the
    // adopted runs' compiles and the single-run tag, which the parent
    // extracts into the detail artifact.
    val runsSection =
      if (isChild) {
        val runs = "," + "\"runs\":" + okQ.map(t =>
          "\"" + t.name + "\":" + t.runs.map(v => f"$v%.3f").mkString("[", ",", "]"))
          .mkString("{", ",", "}")
        val cache = okQ.filter(_.cacheHit.isDefined) match {
          case Nil => ""
          case hits => "," + "\"cache_hit\":" + hits.map(t =>
            "\"" + t.name + "\":" + t.cacheHit.get).mkString("{", ",", "}")
        }
        val cg = "," + "\"compiles\":" + okQ.filter(_.compiles.isDefined).map(t =>
          "\"" + t.name + "\":" + t.compiles.get).mkString("{", ",", "}")
        val tb = okQ.filter(_.tiebreak.isDefined) match {
          case Nil => ""
          case ts => "," + "\"tiebreak\":" + ts.map(t =>
            "\"" + t.name + "\":\"" + t.tiebreak.get + "\"").mkString("{", ",", "}")
        }
        runs + cache + cg + tb
      } else ""
    val priorRatio = medianPriorRatio(results)
    val full = resultLine(totalStr,
      s""""queries":$warm,"cold":$cold$runsSection$nFailed""", sfDir, cpus.toInt,
      priorRatio)
    // The driver parses the line from a bounded ~2 KB output tail; a line
    // that outgrows it gets clipped mid-JSON. sbt's forked-run logger must
    // not decorate it either (build.sbt: outputStrategy := StdoutOutput,
    // showSuccess := false), so this println reaches the driver verbatim as
    // the last stdout line. The compact fallback keeps the key name
    // "queries" and truncates it to the slowest entries that fit; full
    // detail always lands in BENCH_DETAIL.json. A child always prints the
    // full line: the PARENT reads its entire stdout and needs every batch
    // member's sections; only the parent's own final line is tail-bounded.
    val line =
      if (isChild || full.length <= 1400) full
      else {
        val slowest = jsonMap(okQ.sortBy(-_.warm).take(12).map(t => t.name -> t.warm))
        resultLine(totalStr,
          s""""n_queries":${results.size}$nFailed,"queries":$slowest,"detail":"BENCH_DETAIL.json"""",
          sfDir, cpus.toInt, priorRatio)
      }
    println(line)
    Console.out.flush()
  }
}
