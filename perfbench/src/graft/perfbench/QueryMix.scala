package graft.perfbench

import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.SparkEntry
import graft.queries.{CdcQueries, CurationQueries, FixtureCache, LlmOps, MetricsOps, Relational}

/** The analytics workload: one client running a fixed, named list of
  * `SparkEntry.queries` entries in a closed loop over seeded tables. */
final class QueryMix(ctx: Ctx) {
  import ctx._

  private val modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> Relational.queries.keySet, "MetricsOps" -> MetricsOps.queries.keySet,
    "LlmOps" -> LlmOps.queries.keySet, "CurationQueries" -> CurationQueries.queries.keySet,
    "CdcQueries" -> CdcQueries.queries.keySet)
  private def moduleOf(n: String): String = modules.find(_._2(n)).map(_._1).getOrElse("?")

  /** Ordered row hash: the result's row order is part of its contract. */
  private def hash(rows: Array[Row]): String = {
    val h = scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(_.toString))
    f"${rows.length}%d:$h%08x"
  }

  def run(): Unit = {
    val all = SparkEntry.queries
    val mix = QueryMix.names
    require(mix.forall(all.contains), s"unknown entries: ${mix.filterNot(all.contains)}")
    val resDir = Files.createDirectories(runDir.resolve("results"))
    // warm-up and correctness pass: JIT, codegen and the fixture cache fill;
    // each result is dumped for the DuckDB oracle and its hash becomes the
    // expectation for every timed execution
    val expected = mutable.LinkedHashMap.empty[String, String]
    val coldMs = mutable.LinkedHashMap.empty[String, Double]
    mix.foreach { n =>
      val t = System.nanoTime()
      val df = all(n)(spark, dataDir)
      val rows = df.collect()
      coldMs(n) = (System.nanoTime() - t) / 1e6
      expected(n) = hash(if (perturbed("stability") && n == mix.head) rows.dropRight(1) else rows)
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(resDir.resolve(n).toString)
    }
    Files.writeString(runDir.resolve("oracle_sql.json"),
      Json.value(mix.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    setupDone()
    FixtureCache.clearReport()

    final case class Exec(name: String, pass: Int, buildMs: Double, execMs: Double,
                          ok: Boolean, jobs: Long)
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passMs = mutable.ArrayBuffer.empty[Double]
    val sc = spark.sparkContext
    val c0 = if (trace) Seq(catalyst.analysisMs.sum, catalyst.optimizationMs.sum,
      catalyst.planningMs.sum, catalyst.checkpointScans.sum) else Nil
    window.open()
    val t0 = System.currentTimeMillis()
    var pass = 0
    while (pass == 0 || System.currentTimeMillis() - t0 < seconds * 1000L) {
      val ps = System.currentTimeMillis()
      val passSpan = if (trace) spans.nextId() else 0L
      mix.foreach { n =>
        val key = s"p$pass-$n"
        val (qSpan, bSpan, eSpan) =
          if (trace) (spans.nextId(), spans.nextId(), spans.nextId()) else (0L, 0L, 0L)
        if (trace) {
          sched.opSpan.put(s"$key-build", bSpan); sched.opSpan.put(s"$key-exec", eSpan)
        }
        val a = System.currentTimeMillis(); val an = System.nanoTime()
        var ok = false; var bn = an; var en = an
        try {
          sc.setLocalProperty("perfbench.op", s"$key-build")
          val df = all(n)(spark, dataDir)
          bn = System.nanoTime()
          sc.setLocalProperty("perfbench.op", s"$key-exec")
          val rows = df.collect()
          en = System.nanoTime()
          ok = hash(rows) == expected(n)
          if (!ok) System.err.println(s"[perfbench] $n pass $pass: result differs from pass 0")
        } catch {
          case e: Exception =>
            en = System.nanoTime()
            System.err.println(s"[perfbench] $n pass $pass failed: ${e.getMessage}")
        } finally sc.setLocalProperty("perfbench.op", null)
        val bMs = (bn - an) / 1e6; val eMs = (en - bn) / 1e6
        val jobs = if (!trace) 0L else Seq("build", "exec").map(s =>
          Option(sched.perOp.get(s"$key-$s")).map(_(0)).getOrElse(0L)).sum
        execs += Exec(n, pass, bMs, eMs, ok, jobs)
        if (trace) {
          val bEnd = a + math.round(bMs); val eEnd = bEnd + math.round(eMs)
          spans.add(qSpan, passSpan, n, "query", a, eEnd)
          spans.add(bSpan, qSpan, s"$n build", "build", a, bEnd)
          spans.add(eSpan, qSpan, s"$n exec", "exec", bEnd, eEnd)
        }
      }
      val pe = System.currentTimeMillis()
      if (trace) spans.add(passSpan, 0L, s"pass $pass", "pass", ps, pe)
      passMs += (pe - ps).toDouble
      pass += 1
    }
    window.close()

    // ---- end-to-end metrics ----
    attempted = execs.size
    failed = execs.count(!_.ok)
    reportLatency(execs.map(e => e.buildMs + e.execMs).toSeq)
    val wallS = (window.t1 - window.t0) / 1000.0
    reportThroughput(execs.size / wallS)
    header("mix") = mix
    header("mix_s") = Stats.median(passMs.toSeq)
    header("passes") = pass
    header("expected_hashes") = expected
    header("executions") = execs.groupBy(_.name).map { case (n, xs) => n -> xs.size }
    header("failed_executions") = execs.filterNot(_.ok).groupBy(_.name)
      .map { case (n, xs) => n -> xs.size }
    header("data_dir") = dataDir
    header("query_ms_cold") = coldMs
    header("query_ms_median") = execs.groupBy(_.name).map { case (n, xs) =>
      n -> Stats.median(xs.map(e => e.buildMs + e.execMs).toSeq) }

    if (trace) {
      val n = execs.size.max(1).toDouble
      val c1 = Seq(catalyst.analysisMs.sum, catalyst.optimizationMs.sum,
        catalyst.planningMs.sum, catalyst.checkpointScans.sum)
      layers.put("catalyst.analysis_ms", (c1(0) - c0(0)) / n, "ms/query")
      layers.put("catalyst.optimization_ms", (c1(1) - c0(1)) / n, "ms/query")
      layers.put("catalyst.planning_ms", (c1(2) - c0(2)) / n, "ms/query")
      modules.map(_._1).foreach { m =>
        val xs = execs.filter(e => moduleOf(e.name) == m)
        layers.put(s"$m.build_ms", Stats.mean(xs.map(_.buildMs).toSeq), "ms/query")
        layers.put(s"$m.exec_ms", Stats.mean(xs.map(_.execMs).toSeq), "ms/query")
        layers.put(s"$m.jobs_per_query", Stats.mean(xs.map(_.jobs.toDouble).toSeq), "jobs/query")
      }
      layers.put("materialize.checkpoints_per_query", (c1(3) - c0(3)) / n, "1/query")
      val lookups = FixtureCache.lookupReport
      layers.put("FixtureCache.hit_ratio",
        if (lookups.isEmpty) 1.0 else lookups.count(_._2).toDouble / lookups.size, "ratio")
      sparkMetrics(execs.size)
    }
  }
}

object QueryMix {
  /** The mix: dashboard-style entries of `Relational` and `MetricsOps`
    * (short, planning-bound) and batch-apply entries of `LlmOps`,
    * `CurationQueries` and `CdcQueries` (shuffle- and compute-bound). No
    * entry starts a Structured Streaming query. */
  val names: Seq[String] = Seq(
    "q1_agg", "q5_multi_join",
    "m1_count_by_label", "p1_rate",
    "x3_ann_pq_trained", "x4_text_quality",
    "x7_split_assign",
    "cdc_join_maintain")
}
