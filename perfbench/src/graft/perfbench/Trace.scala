package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the id of the span that caused it (0 for
  * a root); all spans of one run share `run`. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      start: Long, end: Long, run: String) {
  def durMs: Long = end - start
}

/** In-memory span store: spans are appended while the run executes and
  * written once at the end, so tracing does no I/O on the measured path. */
final class Spans(val run: String) {
  private val ids = new AtomicLong(0)
  private val q = new ConcurrentLinkedQueue[Span]()
  def nextId(): Long = ids.incrementAndGet()
  def add(id: Long, parent: Long, name: String, layer: String,
          start: Long, end: Long): Unit =
    q.add(Span(id, parent, name, layer, start, end, run))
  def all: Seq[Span] = q.asScala.toSeq.sortBy(s => (s.start, s.id))

  /** Self time per layer: a span's duration minus the part of its interval
    * covered by the union of its children. */
  def selfTimeByLayer: Seq[(String, Long, Long, Long)] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    val rows = spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(t => t._2 > t._1).sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      (s.layer, s.durMs, s.durMs - covered)
    }
    rows.groupBy(_._1).toSeq.map { case (l, xs) =>
      (l, xs.size.toLong, xs.map(_._2).sum, xs.map(_._3).sum)
    }.sortBy(-_._4)
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb ++= Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start" -> s.start, "end" -> s.end, "run" -> s.run))
      sb += '\n'
    }
    java.nio.file.Files.writeString(path, sb.toString)
    ()
  }
}

/** Counters of the Spark scheduler, shuffle, scan and spill layers, plus job
  * and stage spans. Jobs are attributed to the benchmark operation that
  * started them through the `perfbench.op` local property (set by the
  * harness thread) or the micro-batch id Structured Streaming sets on its
  * own thread. */
final class SchedulerTrace(spans: Spans) extends SparkListener {
  val jobs, stages, tasks = new LongAdder
  val runTimeMs, shuffleWrite, shuffleRead, scanBytes, spill = new LongAdder
  /** op key → (jobs, recordsRead, recordsWritten, bytesWritten). */
  val perOp = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  /** parent span id for an op key (the harness registers query/batch spans). */
  val opSpan = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private def opOf(p: java.util.Properties): String =
    if (p == null) "" else Option(p.getProperty("perfbench.op"))
      .orElse(Option(p.getProperty("streaming.sql.batchId")).map("batch-" + _))
      .getOrElse("")

  private def bump(op: String, i: Int, n: Long): Unit =
    if (op.nonEmpty) perOp.computeIfAbsent(op, _ => new Array[Long](4)).synchronized {
      perOp.get(op)(i) += n
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    val op = opOf(e.properties)
    val id = spans.nextId()
    jobStart.put(e.jobId, (id, e.time, op))
    e.stageIds.foreach { s => stageJob.put(s, id); stageOp.put(s, op) }
    bump(op, 0, 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (id, t0, op) =>
      // a job started inside a micro-batch hangs off the batch span, which
      // is recorded later from the progress event (its id is reserved)
      val parent = if (op.isEmpty) 0L else opSpan.computeIfAbsent(op, _ => spans.nextId())
      spans.add(id, parent, s"job ${e.jobId}", "job", t0, e.time)
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.increment()
    val si = e.stageInfo
    val parent = Option(stageJob.remove(si.stageId)).getOrElse(0L)
    stageOp.remove(si.stageId)
    (si.submissionTime, si.completionTime) match {
      case (Some(a), Some(b)) =>
        spans.add(spans.nextId(), parent, s"stage ${si.stageId}", "stage", a, b)
      case _ => ()
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runTimeMs.add(m.executorRunTime)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      scanBytes.add(m.inputMetrics.bytesRead)
      spill.add(m.diskBytesSpilled)
      val op = Option(stageOp.get(e.stageId)).getOrElse("")
      bump(op, 1, m.inputMetrics.recordsRead)
      bump(op, 2, m.outputMetrics.recordsWritten)
      bump(op, 3, m.outputMetrics.bytesWritten)
    }
  }
}

/** Catalyst phase times of every action that completes (including the
  * eager jobs query builders run), read from `QueryExecution.tracker`. */
final class CatalystTrace extends QueryExecutionListener {
  val analysisMs, optimizationMs, planningMs, checkpointScans = new LongAdder
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    analysisMs.add(ms("analysis"))
    optimizationMs.add(ms("optimization"))
    planningMs.add(ms("planning"))
    // materialized frames (localCheckpoint / checkpoint) surface as scans of
    // an existing RDD in the physical plan
    checkpointScans.add(nodes(qe.executedPlan).count(_.nodeName.contains("ExistingRDD")).toLong)
  }
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** JVM garbage-collection time, summed over all collectors. */
object Gc {
  def totalMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

object Stats {
  /** Nearest-rank percentile of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Samples strictly above the nearest-rank p-th percentile. */
  def beyond(xs: Seq[Double], p: Double): Int = { val v = pct(xs, p); xs.count(_ > v) }
}

/** Minimal JSON writer for the result artifact (maps, sequences, scalars). */
object Json {
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'; sb.toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case xs: Array[_] => value(xs.toSeq)
    case p: Product if p.productArity == 2 => value(Seq(p.productElement(0), p.productElement(1)))
    case o => str(o.toString)
  }
}

/** Ordered metric collector: name → (value, unit). */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, v: Double, unit: String): Unit = m(name) = (v, unit)
  def toMap: collection.Map[String, Any] = m.map { case (k, (v, u)) =>
    k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) }
  def get(name: String): Option[Double] = m.get(name).map(_._1)
}
