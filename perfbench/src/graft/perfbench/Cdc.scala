package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.cdc.{CanalJson, CdcApply}
import graft.streaming.{CdcPipeline, PipelineHealth}

/** Every micro-batch progress event with the wall time it was received: the
  * benchmark's commit clock (Structured Streaming posts progress after the
  * batch's offsets are committed). */
final class ProgressLog extends StreamingQueryListener {
  val queue = new LinkedBlockingQueue[(StreamingQueryProgress, Long)]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    queue.put((e.progress, System.currentTimeMillis()))
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** A committed micro-batch as the harness saw it. */
final case class Batch(p: StreamingQueryProgress, commitMs: Long, files: Seq[String]) {
  def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
  def hasData: Boolean = p.numInputRows > 0
}

/** The two CDC workloads: canal-json files → `CdcPipeline.fileSource` →
  * `CdcPipeline.events` → `CdcPipeline.dedupDelivery` →
  * `CdcPipeline.materializeSink`, driven by dropping files into the source
  * directory with an atomic rename. */
final class Cdc(ctx: Ctx, trickle: Boolean) {
  import ctx._
  private val staging = Files.createDirectories(runDir.resolve("staging"))
  private val srcDir = Files.createDirectories(runDir.resolve("source"))
  private val statePath = runDir.resolve("state").toString
  private val ckpt = runDir.resolve("checkpoint")
  private val gen = new CdcGen(seed)
  private val progress = new ProgressLog
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private val fileInfo = mutable.LinkedHashMap.empty[String, WireFile]
  private val committedAt = mutable.HashMap.empty[String, Long]

  // bulk sizing: a half-size and a full-size warm-up file, then full-size
  // files, a backlog about four times what one 10 s run of the seed engine
  // consumes
  private val bulkEvents = 10000
  private val bulkWarm = 2
  private val bulkFiles = 2 + 3 * math.max(4, seconds / 2)
  // trickle sizing: one 10-event file every 150 ms (67 events/s and 6.7
  // files/s offered, well under the seed engine's capacity on 4 cores), open
  // loop; one cold file, then 5 s of the same schedule as warm-up, so the
  // window opens on a stream already in its steady state; 100 files per 15 s
  // leave ten latency samples beyond p90
  private val trickleMs = 150
  private val trickleEvents = 10
  private val trickleLeadIn = 5000 / trickleMs
  private val trickleFiles = math.max(1, seconds * 1000 / trickleMs)

  /** The file names a batch read: the file source's metadata-log entries
    * in the batch's (startOffset, endOffset] range of log offsets. */
  private def filesOf(p: StreamingQueryProgress): Seq[String] = {
    def logOffset(o: String): Long =
      Option(o).flatMap("\"logOffset\":(\\d+)".r.findFirstMatchIn(_)).map(_.group(1).toLong)
        .getOrElse(-1L)
    val src = p.sources.head
    val (lo, hi) = (logOffset(src.startOffset), logOffset(src.endOffset))
    val dir = ckpt.resolve("sources").resolve("0")
    (lo + 1 to hi).flatMap { id =>
      Seq(dir.resolve(id.toString), dir.resolve(s"$id.compact")).find(Files.exists(_)).toSeq
        .flatMap(f => Files.readAllLines(f).asScala)
        .filter(_.contains(s"\"batchId\":$id}"))
        .flatMap(l => "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1)))
        .map(x => x.substring(x.lastIndexOf('/') + 1))
    }
  }

  /** Take the next progress event, failing loudly if the stream died. */
  private def nextBatch(q: org.apache.spark.sql.streaming.StreamingQuery,
                        deadlineMs: Long): Batch = {
    while (true) {
      q.exception.foreach(e => throw e)
      if (System.currentTimeMillis() > deadlineMs)
        throw new IllegalStateException("no micro-batch progress before the deadline")
      val e = progress.queue.poll(200, TimeUnit.MILLISECONDS)
      if (e != null) {
        val (p, t) = e
        val b = Batch(p, t, if (p.numInputRows > 0) filesOf(p) else Nil)
        b.files.foreach(f => committedAt.getOrElseUpdate(f, t))
        batches += b
        if (trace) {
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli
          spans.add(sched.opSpan.computeIfAbsent(s"batch-${p.batchId}", _ => spans.nextId()),
            0L, s"batch ${p.batchId}", "microbatch", start, start + b.dur("triggerExecution"))
        }
        return b
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def drop(f: WireFile): Long = {
    Files.move(staging.resolve(f.name), srcDir.resolve(f.name),
      StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }

  def run(): Unit = {
    PipelineHealth.SinkCounters.reset()
    spark.streams.addListener(progress)
    val genStart = System.nanoTime()
    val files: Seq[WireFile] =
      if (!trickle) (0 until bulkFiles).map(i =>
        gen.bulkFile(staging, i, if (i == 0) bulkEvents / 2 else bulkEvents))
      else (0 until 1 + trickleLeadIn + trickleFiles).map { i =>
        // fixed counts of DDL, malformed and poison lines, spread over the
        // timed files
        val j = i - 1 - trickleLeadIn
        val special = j >= 0 && j % 20 == 10 && j / 20 < 3
        gen.trickleFile(staging, i, trickleEvents, if (special) 1 else 0,
          if (special) 1 else 0, if (special) 1 else 0)
      }
    files.foreach(f => fileInfo(f.name) = f)
    header("generate_s") = (System.nanoTime() - genStart) / 1e9
    val raw = CdcPipeline.fileSource(spark, srcDir.toString)
    val q = CdcPipeline.materializeSink(
      CdcPipeline.dedupDelivery(CdcPipeline.events(raw)), statePath, ckpt.toString).start()
    val warmN = if (trickle) 1 else bulkWarm
    val dropped = mutable.ArrayBuffer.empty[WireFile]
    val latencies = mutable.ArrayBuffer.empty[Double]
    val lagSamples = mutable.ArrayBuffer.empty[Double]
    var t0 = 0L; var tEnd = 0L; var firstTimedBatch = 0
    val lateness = mutable.ArrayBuffer.empty[Double]
    try {
      // warm-up: the first files pay one-time codegen, state-store and
      // listing set-up; they are applied but not timed, one at a time
      files.take(warmN).foreach { f =>
        drop(f); dropped += f
        val deadline = System.currentTimeMillis() + 120000
        while (!committedAt.contains(f.name)) nextBatch(q, deadline)
      }
      if (!trickle) {
        // let the no-data batch the warm-up's watermark move triggers
        // finish, so the first timed file does not queue behind it
        val idleBy = System.currentTimeMillis() + 10000
        var quietSince = System.currentTimeMillis()
        while (System.currentTimeMillis() < idleBy &&
               (q.status.isTriggerActive || System.currentTimeMillis() - quietSince < 500)) {
          if (!progress.queue.isEmpty) { nextBatch(q, idleBy); quietSince = System.currentTimeMillis() }
          Thread.sleep(20)
        }
        setupDone()
        firstTimedBatch = batches.size
        window.open()
        t0 = System.currentTimeMillis()
        // closed loop: the next file is dropped when the previous commits;
        // at least three files, so every run reports the same statistics
        var i = warmN
        while ((System.currentTimeMillis() - t0 < seconds * 1000L || i < warmN + 3) &&
               i < files.size) {
          val f = files(i); i += 1
          val visible = drop(f); dropped += f
          val deadline = visible + 90000
          while (!committedAt.contains(f.name)) nextBatch(q, deadline)
          latencies += (committedAt(f.name) - visible).toDouble
        }
        tEnd = System.currentTimeMillis()
        header("backlog_exhausted") = i >= files.size
      } else {
        // open loop: a generator thread renames each pre-written file into
        // the source directory at its due time, whatever the engine does;
        // the window opens when the first timed file is due
        val scheduled = files.drop(warmN)
        val start = System.currentTimeMillis() + 200
        val due = scheduled.indices.map(j => start + j.toLong * trickleMs)
        val timed = scheduled.drop(trickleLeadIn)
        val timedDue = due.drop(trickleLeadIn)
        t0 = timedDue.head
        val mover = new Thread(() => {
          scheduled.zip(due).foreach { case (f, d) =>
            val w = d - System.currentTimeMillis()
            if (w > 0) Thread.sleep(w)
            val at = drop(f)
            lateness.synchronized { lateness += (at - d).toDouble }
          }
        }, "perfbench-trickle-generator")
        mover.setDaemon(true)
        mover.start()
        val dueOf = timed.map(_.name).zip(timedDue).toMap
        val deadline = due.last + 90000
        var open = false
        while (!timed.forall(f => committedAt.contains(f.name))) {
          if (!open && System.currentTimeMillis() >= t0) {
            open = true
            setupDone()
            firstTimedBatch = batches.size
            window.open()
          }
          if (!progress.queue.isEmpty || open) {
            val b = nextBatch(q, deadline)
            // events due but not yet committed, sampled at each commit
            if (open) lagSamples += timed.zip(timedDue).collect {
              case (f, d) if d <= b.commitMs && !committedAt.contains(f.name) => f.events
            }.sum.toDouble
          } else Thread.sleep(10)
        }
        mover.join()
        dropped ++= scheduled
        tEnd = System.currentTimeMillis()
        timed.foreach(f => latencies += (committedAt(f.name) - dueOf(f.name)).toDouble)
      }
      window.close()
    } finally {
      q.stop()
      spark.streams.removeListener(progress)
    }
    // drain progress events posted before the stop
    Thread.sleep(200)
    var e = progress.queue.poll()
    while (e != null) {
      val (p, t) = e; batches += Batch(p, t, if (p.numInputRows > 0) filesOf(p) else Nil)
      e = progress.queue.poll()
    }

    // ---- correctness gates ----
    val model = new StateModel
    dropped.foreach(_.ops.foreach(model.apply))
    if (perturbed("state")) model.apply(Op("tpch", "products", "phantom", "INSERT", Map("id" -> "0")))
    val (expRows, expHash) = model.digest
    val state = spark.read.parquet(statePath).select("database", "table", "pk", "data")
      .collect()
    val gotHash = state.iterator.map { r =>
      StateModel.rowHash(r.getString(0), r.getString(1), r.getString(2),
        r.getMap[String, String](3))
    }.foldLeft(0L)(_ + _)
    gate("state_rows", state.length.toLong, expRows)
    gate("state_hash", java.lang.Long.toHexString(gotHash), java.lang.Long.toHexString(expHash))
    val injected = dropped.map(_.redeliveredRows).sum + (if (perturbed("dedup")) 1 else 0)
    val droppedDup = batches.flatMap(_.p.stateOperators.headOption)
      .map(s => Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum
    val droppedRatio = if (injected == 0) 1.0 else droppedDup.toDouble / injected
    gate("dedup.dropped_ratio", droppedRatio, 1.0)
    val rowErrors = PipelineHealth.SinkCounters.snapshot
      .collect { case ("materialize", "row_error", n) => n }.sum
    gate("sink.row_errors", rowErrors,
      dropped.map(_.poison).sum.toLong + (if (perturbed("row_errors")) 1 else 0))

    // ---- end-to-end metrics ----
    val timedFiles = dropped.drop(if (trickle) warmN + trickleLeadIn else warmN)
    val applied = timedFiles.map(f => f.events - f.poison).sum
    val wallS = (tEnd - t0) / 1000.0
    attempted = batches.drop(firstTimedBatch).count(_.hasData).max(1)
    // a wrong final state is the product of every batch: all count as wrong
    if (!gatesPass) failed = attempted
    reportLatency(latencies.toSeq)
    reportThroughput(applied / wallS)
    header("events_applied") = applied
    header("files_timed") = timedFiles.size
    header("timed_wall_s") = wallS
    if (trickle) {
      header("offered_events_per_s") = trickleEvents * 1000.0 / trickleMs
      header("generator_late_ms_max") = if (lateness.isEmpty) 0.0 else lateness.max
      header("generator_late_ms_mean") = Stats.mean(lateness.toSeq)
    }

    header("batches") = batches.map(b => Seq(b.p.batchId, b.p.numInputRows,
      b.dur("triggerExecution"), b.files.size))
    if (trace) layerMetrics(timedFiles.toSeq, batches.drop(firstTimedBatch).toSeq,
      lagSamples.toSeq)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else { val s = Files.walk(p); try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum finally s.close() }

  private def layerMetrics(timed: Seq[WireFile], bs: Seq[Batch], lag: Seq[Double]): Unit = {
    val m = layers
    val nFiles = timed.size.max(1).toDouble
    val data = bs.filter(_.hasData)
    val events = timed.map(_.events).sum.toDouble.max(1)
    m.put("fileSource.lag_events_p90", if (lag.isEmpty) 0.0 else Stats.pct(lag, 90), "events")
    m.put("fileSource.offset_ms", Stats.mean(bs.map(b => (b.dur("latestOffset") + b.dur("getBatch")).toDouble)), "ms/batch")
    m.put("microbatch.batches_per_file", bs.size / nFiles, "1/file")
    m.put("microbatch.nodata_ms_per_file", bs.filterNot(_.hasData).map(_.dur("triggerExecution")).sum / nFiles, "ms/file")
    m.put("microbatch.trigger_ms", Stats.mean(bs.map(_.dur("triggerExecution").toDouble)), "ms/batch")
    m.put("microbatch.planning_ms", Stats.mean(bs.map(_.dur("queryPlanning").toDouble)), "ms/batch")
    m.put("microbatch.wal_ms", Stats.mean(bs.map(b => (b.dur("walCommit") + b.dur("commitOffsets")).toDouble)), "ms/batch")
    // parse and rank, timed alone on the committed files (stream stopped):
    // the two first timed bulk files, or every timed trickle file at once
    val sample = if (trickle) timed else timed.take(2)
    val sampleEvents = sample.map(_.events).sum / 1000.0
    def perK(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Double = {
      val raw = spark.read.text(sample.map(w => srcDir.resolve(w.name).toString): _*)
        .select(col("value"), lit(0).as("partition"), xxhash64(col("value")).as("offset"))
      Stats.median((0 until 3).map { _ =>
        val t = System.nanoTime()
        f(raw).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e6 / sampleEvents
      }.drop(1))
    }
    m.put("CanalJson.events_ms_per_1k", perK(r => CanalJson.events(r)), "ms/1k_events")
    m.put("CanalJson.bytes_per_event", timed.map(_.bytes).sum / events, "B/event")
    val ops = data.flatMap(_.p.stateOperators.headOption)
    val last = bs.flatMap(_.p.stateOperators.headOption).lastOption
    m.put("dedup.state_rows", last.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows")
    m.put("dedup.state_mb", last.map(_.memoryUsedBytes / 1e6).getOrElse(0.0), "MB")
    m.put("dedup.update_ms", Stats.mean(ops.map(_.allUpdatesTimeMs.toDouble)), "ms/batch")
    m.put("dedup.commit_ms", Stats.mean(ops.map(_.commitTimeMs.toDouble)), "ms/batch")
    m.put("dedup.evicted_rows", bs.flatMap(_.p.stateOperators.headOption).map(_.numRowsRemoved).sum.toDouble, "rows")
    m.put("dedup.dropped_ratio", checks.collectFirst { case ("dedup.dropped_ratio", v, _) => v.toDouble }.getOrElse(0.0), "ratio")
    m.put("CdcApply.rank_ms_per_1k", perK(r => CdcApply.materializeEnvelopeKeyed(CanalJson.events(r))), "ms/1k_events")
    val per = data.map(b => Option(sched.perOp.get(s"batch-${b.p.batchId}")).getOrElse(new Array[Long](4)))
    val lines = data.map(_.files.flatMap(fileInfo.get).map(_.lines.toLong).sum)
    val batchEvents = data.map(_.files.flatMap(fileInfo.get).map(_.events).sum).sum.toDouble.max(1)
    m.put("sink.jobs_per_batch", Stats.mean(per.map(_(0).toDouble)), "jobs/batch")
    m.put("sink.add_batch_ms", Stats.mean(data.map(_.dur("addBatch").toDouble)), "ms/batch")
    m.put("sink.state_rows_read_per_event",
      per.zip(lines).map { case (a, l) => math.max(0L, a(1) - l) }.sum / batchEvents, "rows/event")
    m.put("sink.state_rows_written_per_event", per.map(_(2)).sum / batchEvents, "rows/event")
    m.put("sink.bytes_written_per_event", per.map(_(3)).sum / batchEvents, "B/event")
    m.put("sink.dirty_bucket_share", dirtyShare(data), "ratio")
    m.put("sink.row_errors", checks.collectFirst { case ("sink.row_errors", v, _) => v.toDouble }.getOrElse(0.0), "rows")
    m.put("store.mb", (dirBytes(java.nio.file.Paths.get(statePath)) + dirBytes(ckpt)) / 1e6, "MB")
    sparkMetrics(bs.size)
  }

  /** Share of the sink's 32 key-hash buckets each data batch rewrote, from
    * the keys the batch carried, bucketed with the sink's own expression. */
  private def dirtyShare(data: Seq[Batch]): Double = {
    import spark.implicits._
    val keys = data.flatMap(b => b.files.flatMap(fileInfo.get).flatMap(_.ops)
      .map(o => (b.p.batchId, o.db, o.table, o.pk)))
    if (keys.isEmpty) 0.0
    else {
      val shares = keys.toDF("b", "database", "table", "pk")
        .select(col("b"), pmod(xxhash64(col("database"), col("table"), col("pk")), lit(32)).as("bucket"))
        .groupBy("b").agg(countDistinct("bucket").as("n")).collect().map(_.getLong(1) / 32.0)
      Stats.mean(shares.toSeq)
    }
  }
}
