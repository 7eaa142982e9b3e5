package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.EngineSession

/** Shared state of one benchmark run: the session, the run directory, the
  * metric collectors and the correctness gates. */
final class Ctx(val spark: SparkSession, val runDir: Path, val dataDir: String,
                val seed: Long, val seconds: Int, val trace: Boolean, val cpus: Int,
                val startMs: Long, opts: Map[String, String]) {
  val header = mutable.LinkedHashMap.empty[String, Any]
  val e2e = new Metrics
  val layers = new Metrics
  val checks = mutable.ArrayBuffer.empty[(String, String, String)]
  var attempted = 0
  var failed = 0
  val spans = new Spans(s"${opts.getOrElse("workload", "?")}-$seed-${startMs}")
  val sched: SchedulerTrace = if (trace) new SchedulerTrace(spans) else null
  val catalyst: CatalystTrace = if (trace) new CatalystTrace else null

  /** Gate self-test: expectations named in `--perturb` are deliberately
    * made wrong, so the gate that checks them must trip. */
  private val perturb: Set[String] = opts.get("perturb").toSet.flatMap((p: String) => p.split(","))
  def perturbed(expectation: String): Boolean = perturb(expectation)

  /** A correctness gate: records it, and counts a failure when it trips. */
  def gate(name: String, got: Any, expected: Any): Unit = {
    checks += ((name, got.toString, expected.toString))
    if (got.toString != expected.toString)
      System.err.println(s"[perfbench] gate $name: got $got, expected $expected")
  }
  def gatesPass: Boolean = checks.forall(c => c._2 == c._3)

  private var setupMs = -1L
  /** Process start → first timed operation. */
  def setupDone(): Unit = if (setupMs < 0) {
    setupMs = System.currentTimeMillis() - startMs
    e2e.put("setup_s", setupMs / 1000.0, "s")
  }

  object window {
    var t0, t1, gc0, gc1 = 0L
    var c0, c1: Array[Long] = Array.empty
    private def counters: Array[Long] =
      if (sched == null) Array.fill(9)(0L)
      else Array(sched.jobs.sum, sched.stages.sum, sched.tasks.sum, sched.runTimeMs.sum,
        sched.shuffleWrite.sum, sched.shuffleRead.sum, sched.scanBytes.sum, sched.spill.sum, 0L)
    def open(): Unit = { t0 = System.currentTimeMillis(); gc0 = Gc.totalMs; c0 = counters }
    def close(): Unit = { t1 = System.currentTimeMillis(); gc1 = Gc.totalMs; c1 = counters }
    def delta(i: Int): Double = (c1(i) - c0(i)).toDouble
  }

  /** Scheduler, shuffle, scan, spill and GC counters of the timed window,
    * per operation (micro-batch or query execution). */
  def sparkMetrics(ops: Int): Unit = {
    val n = ops.max(1).toDouble
    val w = window
    layers.put("spark.jobs", w.delta(0) / n, "1/op")
    layers.put("spark.stages", w.delta(1) / n, "1/op")
    layers.put("spark.tasks", w.delta(2) / n, "1/op")
    layers.put("spark.busy_ratio", w.delta(3) / ((w.t1 - w.t0).max(1) * cpus.toDouble), "ratio")
    layers.put("spark.shuffle_write_mb", w.delta(4) / 1e6 / n, "MB/op")
    layers.put("spark.shuffle_read_mb", w.delta(5) / 1e6 / n, "MB/op")
    layers.put("spark.scan_mb", w.delta(6) / 1e6 / n, "MB/op")
    layers.put("spark.spill_mb", w.delta(7) / 1e6 / n, "MB/op")
    layers.put("jvm.gc_ms", (w.gc1 - w.gc0) / n, "ms/op")
  }

  def reportThroughput(perS: Double): Unit = {
    e2e.put("throughput_per_s", perS, "1/s")
    if (trace) layers.put("trace.throughput_per_s", perS, "1/s")
  }

  def reportLatency(xs: Seq[Double]): Unit = {
    val s = if (xs.isEmpty) Seq(Double.NaN) else xs
    e2e.put("latency_p50_ms", Stats.median(s), "ms")
    e2e.put("latency_p90_ms", Stats.pct(s, 90), "ms")
    // the traced run's own end-to-end numbers: traced minus untraced is the
    // tracing overhead
    if (trace) {
      layers.put("trace.latency_p50_ms", Stats.median(s), "ms")
      layers.put("trace.latency_p90_ms", Stats.pct(s, 90), "ms")
    }
    header("latency_samples") = xs.size
    if (xs.size <= 64) header("latency_ms") = xs
    header("latency_p90_samples_beyond") = if (xs.isEmpty) 0 else Stats.beyond(xs, 90)
  }
}

/** JVM side of the benchmark: runs one workload once and writes
  * `result.json` (and, traced, `spans.jsonl`) into the run directory. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    val runDir = Paths.get(kv("run-dir"))
    val cpus = Runtime.getRuntime.availableProcessors
    val trace = kv.getOrElse("trace", "0") == "1"
    val spark = EngineSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, runDir, kv.getOrElse("data-dir", ""), kv("seed").toLong,
      kv("seconds").toInt, trace, cpus, kv("t-start").toLong, kv)
    if (trace) {
      spark.sparkContext.addSparkListener(ctx.sched)
      spark.listenerManager.register(ctx.catalyst)
    }
    var error: Option[String] = None
    try workload match {
      case "cdc_bulk" => new Cdc(ctx, trickle = false).run()
      case "cdc_trickle" => new Cdc(ctx, trickle = true).run()
      case "query_mix" => new QueryMix(ctx).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    ctx.header ++= Seq("workload" -> workload, "seed" -> ctx.seed, "cpus" -> cpus,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm_flags" -> rt.getInputArguments.asScala.toSeq, "java" -> System.getProperty("java.version"),
      "spark" -> spark.version, "trace" -> trace, "seconds" -> ctx.seconds,
      "percentiles" -> "nearest-rank p50 (median) and p90")
    if (trace) {
      ctx.spans.write(runDir.resolve("spans.jsonl"))
      ctx.header("layer_self_ms") = ctx.spans.selfTimeByLayer.map { case (l, n, tot, self) =>
        Map("layer" -> l, "spans" -> n, "total_ms" -> tot, "self_ms" -> self) }
    }
    val out = Json.obj(Seq(
      "error" -> error,
      "header" -> ctx.header,
      "checks" -> ctx.checks.map { case (n, g, e) => Map("name" -> n, "got" -> g, "expected" -> e) },
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "e2e" -> ctx.e2e.toMap, "layers" -> ctx.layers.toMap))
    Files.writeString(runDir.resolve("result.json"), out)
    try spark.stop() catch { case _: Throwable => () }
    System.exit(if (error.isEmpty) 0 else 3)
  }
}
