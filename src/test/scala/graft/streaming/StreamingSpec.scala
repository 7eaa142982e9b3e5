package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import graft.SparkSpec.withShufflePartitions
import graft.cdc.CanalJson
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import scala.jdk.CollectionConverters._

/** Structured Streaming assembly (SURVEY.md §3.1): the same canal-json plan
  * runs incrementally over a MemoryStream; windowed counts and routing match
  * the batch twin. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def runStream(lines: Seq[String], name: String,
                        plan: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                        mode: OutputMode = OutputMode.Append()) = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val raw = mem.toDF().withColumnRenamed("value", "value")
      .withColumn("partition", lit(0))
      .withColumn("offset", xxhash64($"value")) // stable content-derived offset (streaming bans monotonically_increasing_id)
    val q = plan(raw).writeStream.format("memory").queryName(name).outputMode(mode).start()
    mem.addData(lines: _*)
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("streaming parse+flatten matches the batch twin row-for-row") {
    val lines = CanalJson.fixtureLines.map(_._1)
    val streamed = runStream(lines, "stream_events", CdcPipeline.events)
    val batch = CanalJson.events(CanalJson.fixtureRaw(spark))
    // compare per-(table,op) counts (offsets differ between sources)
    val a = streamed.groupBy($"table", $"op").count().as[(String, String, Long)].collect().toSet
    val b = batch.groupBy($"table", $"op").count().as[(String, String, Long)].collect().toSet
    assert(a === b)
  }

  test("streaming update-mode operation counters (M1)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val raw = mem.toDF()
      .withColumn("partition", lit(0)).withColumn("offset", xxhash64($"value"))
    val q = CdcPipeline.operationCounts(CdcPipeline.events(raw))
      .writeStream.format("memory").queryName("op_counts").outputMode(OutputMode.Complete()).start()
    mem.addData(CanalJson.fixtureLines.map(_._1): _*)
    q.processAllAvailable()
    q.stop()
    val counts = spark.table("op_counts").as[(String, String, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(counts(("products", "insert")) === 3) // 3-row seed INSERT
    assert(counts(("unknown", "insert")) === 1)  // missing-table line defaults to 'unknown'
    assert(counts(("orders", "update")) === 2)   // incl. duplicate delivery
    assert(counts(("products", "delete")) === 1)
  }

  test("dedupDelivery: redelivered record dropped across micro-batches, state keyed by (partition, offset)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val raw = mem.toDF()
      .withColumn("partition", lit(0)).withColumn("offset", xxhash64($"value"))
    val q = CdcPipeline.dedupDelivery(CdcPipeline.events(raw))
      .writeStream.format("memory").queryName("dedup_out").outputMode(OutputMode.Append()).start()
    val lines = CanalJson.fixtureLines.map(_._1).distinct
    mem.addData(lines: _*)
    q.processAllAvailable()
    // redeliver an already-seen record in a LATER micro-batch — the dedup
    // state must remember it (identical content → identical derived offset)
    mem.addData(lines.find(_.contains("\"status\":\"completed\"")).get)
    q.processAllAvailable()
    q.stop()
    val counts = spark.table("dedup_out").groupBy($"table", $"op").count()
      .as[(String, String, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(counts(("orders", "update")) === 1) // redelivery suppressed
    assert(counts(("products", "insert")) === 3)
    assert(counts(("products", "delete")) === 1)
  }

  test("dedupDelivery: redelivery past the dedup delay is NOT suppressed (state-expiry boundary)") {
    // The negative space of the census entry `cdc_dedup_stream`: that entry
    // certifies suppression INSIDE the watermark; this pins the exact
    // boundary where effectively-once degrades back to at-least-once.
    // `dropDuplicatesWithinWatermark` guarantees dedup only for duplicates
    // arriving within `delay` of each other — once the watermark passes
    // firstSeen + delay, the key's state is EVICTED (that eviction is the
    // whole point: state stays bounded by delay × ingest rate at 100 TB),
    // and a later record with the SAME delivery identity sails through.
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1704067200000L // 2024-01-01T00:00:00Z
    def min(m: Long) = new Timestamp(t0 + m * 60000L)
    // (partition, offset, pos, eventTime)
    val mem = MemoryStream[(Int, Long, Int, Timestamp)]
    val envl = mem.toDF().toDF("partition", "offset", "pos", "timestamp")
    val q = CdcPipeline.dedupDelivery(envl, delay = "10 minutes")
      .writeStream.format("memory").queryName("dedup_expiry")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: first delivery of identity (0, 100, 0) at t=0
      mem.addData((0, 100L, 0, min(0)))
      q.processAllAvailable()
      // batch 2: unrelated traffic at t=30 advances the watermark to t=20,
      // past identity-100's expiry horizon (0 + 10) — its state is evicted
      mem.addData((0, 200L, 0, min(30)))
      q.processAllAvailable()
      // batch 3: the SAME identity (0, 100, 0) redelivered at t=25 — above
      // the t=20 watermark (not late-droppable), but its dedup state is
      // gone, so it is emitted AGAIN: at-least-once resurfaces
      mem.addData((0, 100L, 0, min(25)))
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("dedup_expiry")
      .groupBy($"offset").count().as[(Long, Long)].collect().toMap
    assert(emitted(100L) === 2L, // both deliveries of identity 100 visible
      s"expected the past-delay redelivery to escape dedup, got $emitted")
    assert(emitted(200L) === 1L)
    // and the complementary positive at the same choreography: a redelivery
    // INSIDE the delay stays suppressed (certified at scale by the
    // cdc_dedup_stream census; asserted here so the two contracts sit
    // side by side)
    val mem2 = MemoryStream[(Int, Long, Int, Timestamp)]
    val q2 = CdcPipeline.dedupDelivery(
        mem2.toDF().toDF("partition", "offset", "pos", "timestamp"),
        delay = "10 minutes")
      .writeStream.format("memory").queryName("dedup_inside")
      .outputMode(OutputMode.Append()).start()
    try {
      mem2.addData((0, 100L, 0, min(0)))
      q2.processAllAvailable()
      mem2.addData((0, 100L, 0, min(5))) // within delay: suppressed
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.table("dedup_inside").count() === 1L)
    spark.catalog.dropTempView("dedup_expiry")
    spark.catalog.dropTempView("dedup_inside")
  }

  test("W8 delta maintenance runs incrementally: update-mode counts match batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import graft.cdc.CdcApply
    val mem = MemoryStream[String]
    val raw = mem.toDF()
      .withColumn("partition", lit(0)).withColumn("offset", xxhash64($"value"))
    val q = CdcApply.maintainCounts(
        CdcPipeline.events(raw).filter($"table" === "orders"), "status")
      .writeStream.format("memory").queryName("w8_stream")
      .outputMode(OutputMode.Complete()).start()
    val lines = CanalJson.fixtureLines.map(_._1)
    mem.addData(lines.take(5): _*)     // includes the orders INSERT + UPDATE
    q.processAllAvailable()
    mem.addData(lines.drop(5): _*)     // includes the redelivered UPDATE
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("w8_stream").as[(String, Long)].collect().toMap
    val batch = CdcApply.maintainCounts(
        CanalJson.events(CanalJson.fixtureRaw(spark)).filter($"table" === "orders"),
        "status")
      .as[(String, Long)].collect().toMap
    assert(streamed === batch)
    assert(streamed === Map("completed" -> 1L))
  }

  test("W8''' sum/count maintenance runs incrementally: update-mode sums " +
      "match batch twin, whole-log redelivery is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import graft.cdc.CdcApply
    val mem = MemoryStream[String]
    val raw = mem.toDF()
      .withColumn("partition", lit(0)).withColumn("offset", xxhash64($"value"))
    // streaming consumption also guards the maintainSums localCheckpoint
    // seam: the shared-frame materialization must stay a no-op on a
    // streaming plan (df.isStreaming guard — a batch-only localCheckpoint
    // here once broke the maintainCounts streaming consumer)
    val q = CdcApply.maintainSums(
        CdcPipeline.events(raw).filter($"table" === "orders"),
        "status", "quantity")
      .writeStream.format("memory").queryName("w8s_stream")
      .outputMode(OutputMode.Complete()).start()
    val lines = CanalJson.fixtureLines.map(_._1)
    mem.addData(lines: _*)
    q.processAllAvailable()
    // whole-log redelivery batch (at-least-once replay of EVERYTHING): the
    // cross-batch logical-identity dedup state must swallow every delta,
    // leaving the maintained view byte-identical
    mem.addData(lines: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("w8s_stream").as[(String, Long, Long)]
      .collect().map { case (g, sm, n) => g -> ((sm, n)) }.toMap
    val batch = CdcApply.maintainSums(
        CanalJson.events(CanalJson.fixtureRaw(spark)).filter($"table" === "orders"),
        "status", "quantity")
      .as[(String, Long, Long)]
      .collect().map { case (g, sm, n) => g -> ((sm, n)) }.toMap
    assert(streamed === batch)
    // pending nets to zero (INSERT +2 then UPDATE moves the mass out) and
    // vanishes under COUNT-decides-existence; completed carries the mass
    assert(streamed === Map("completed" -> ((2L, 1L))))
  }

  test("W8' join-view maintenance runs incrementally in foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.cdc.CdcApply
    import org.apache.spark.sql.DataFrame
    // the CdcApplySpec two-table workload, streamed in event-time order as
    // (ms, op, offset, table, data) and maintained per micro-batch via the
    // production foreachBatch shape: view + three auxiliaries carried
    // across batches, each batch's work ∝ its own delta
    val rows = Seq(
      (1000L, "insert", 10L, "orders", Map("id" -> "1", "product_id" -> "1", "quantity" -> "5")),
      (1100L, "insert", 11L, "orders", Map("id" -> "2", "product_id" -> "1", "quantity" -> "3")),
      (1200L, "insert", 12L, "orders", Map("id" -> "3", "product_id" -> "2", "quantity" -> "7")),
      (900L, "insert", 50L, "products", Map("id" -> "1", "category" -> "a")),
      (950L, "insert", 51L, "products", Map("id" -> "2", "category" -> "b")),
      (2000L, "update", 20L, "orders", Map("id" -> "1", "product_id" -> "1", "quantity" -> "10")),
      (2100L, "update", 21L, "orders", Map("id" -> "2", "product_id" -> "2", "quantity" -> "3")),
      (2100L, "update", 91L, "orders", Map("id" -> "2", "product_id" -> "2", "quantity" -> "3")),
      (2200L, "delete", 22L, "orders", Map("id" -> "3")),
      (2300L, "insert", 23L, "orders", Map("id" -> "4", "product_id" -> "3", "quantity" -> "4")),
      (2500L, "update", 52L, "products", Map("id" -> "1", "category" -> "b")),
      (2600L, "delete", 53L, "products", Map("id" -> "2")),
      (2700L, "insert", 54L, "products", Map("id" -> "3", "category" -> "a")),
      (2800L, "insert", 55L, "products", Map("id" -> "2", "category" -> "c")))
    def toEvents(df: DataFrame): DataFrame = graft.cdc.CdcFrames.withPkNames(df.select(
      timestamp_millis($"_1").as("timestamp"), lit("db").as("database"),
      $"_4".as("table"), $"_2".as("op"), $"_3".as("offset"), $"_5".as("data"),
      lit(0).as("partition"), lit(0).as("pos")))
    def factOf(e: DataFrame) = CdcApply.materializeEnvelopeKeyed(e.filter($"table" === "orders"))
      .select($"pk".cast("bigint").as("pk"),
        element_at($"data", "product_id").cast("bigint").as("fk"),
        element_at($"data", "quantity").cast("bigint").as("m"))
    def dimOf(e: DataFrame) = CdcApply.materializeEnvelopeKeyed(e.filter($"table" === "products"))
      .select($"pk".cast("bigint").as("pk"),
        element_at($"data", "category").as("attr"))

    var view = Seq.empty[(String, Long, Long)].toDF("category", "sum_measure", "n_facts")
    var factSnap = Seq.empty[(Long, Long, Long)].toDF("pk", "fk", "m")
    var dimSnap = Seq.empty[(Long, String)].toDF("pk", "attr")
    var log = toEvents(Seq.empty[(Long, String, Long, String, Map[String, String])]
      .toDF("_1", "_2", "_3", "_4", "_5"))
    val mem = MemoryStream[(Long, String, Long, String, Map[String, String])]
    val q = mem.toDF().writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val e = toEvents(batch).localCheckpoint()
        val measureByFk = factSnap.groupBy($"fk")
          .agg(sum($"m").as("sum_m"), count(lit(1)).as("n"))
        view = CdcApply.maintainJoinAgg(view, measureByFk, factSnap, dimSnap,
          e.filter($"table" === "orders"), e.filter($"table" === "products"),
          "product_id", "quantity", "category").localCheckpoint()
        // auxiliary snapshots roll forward with the same log (test harness:
        // replays the union; production keeps them as keyed tables)
        log = log.unionByName(e).localCheckpoint()
        factSnap = factOf(log).localCheckpoint()
        dimSnap = dimOf(log).localCheckpoint()
      }.start()
    mem.addData(rows.filter(_._1 <= 1200L): _*); q.processAllAvailable()
    mem.addData(rows.filter(r => r._1 > 1200L && r._1 <= 2300L): _*); q.processAllAvailable()
    mem.addData(rows.filter(_._1 > 2300L): _*); q.processAllAvailable()
    q.stop()
    val expected = factOf(log).join(dimOf(log).select($"pk".as("fk"), $"attr"), Seq("fk"))
      .groupBy($"attr".as("category"))
      .agg(sum($"m").as("sum_measure"), count(lit(1)).as("n_facts"))
      .orderBy("category").as[(String, Long, Long)].collect().toSeq
    val got = view.orderBy("category").as[(String, Long, Long)].collect().toSeq
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("stateful dedup runs on the RocksDB state store provider") {
    implicit val sqlCtx = spark.sqlContext
    val before = graft.EngineSession.rocksDbStateConfigs.keys
      .map(k => k -> spark.conf.getOption(k)).toMap
    graft.EngineSession.rocksDbStateConfigs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val mem = MemoryStream[String]
      val raw = mem.toDF()
        .withColumn("partition", lit(0)).withColumn("offset", xxhash64($"value"))
      val q = CdcPipeline.dedupDelivery(CdcPipeline.events(raw))
        .writeStream.format("memory").queryName("rocksdb_dedup")
        .outputMode(OutputMode.Append()).start()
      val lines = CanalJson.fixtureLines.map(_._1).distinct
      mem.addData(lines: _*)
      q.processAllAvailable()
      mem.addData(lines.head) // redelivery against RocksDB-held state
      q.processAllAvailable()
      q.stop()
      // dedup semantics identical on the disk-backed provider
      val n = spark.table("rocksdb_dedup").count()
      assert(n > 0)
      assert(spark.table("rocksdb_dedup")
        .groupBy($"partition", $"offset", $"pos").count()
        .filter($"count" > 1).isEmpty)
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("P10 streaming sessionization: sessions emit only after the watermark passes their gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val q = mem.toDF().toDF("ts", "user")
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window($"ts", "5 minutes").as("sw"), $"user")
      .agg(count(lit(1)).as("n_events"))
      .select($"user", $"n_events")
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode(OutputMode.Append()).start()
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    mem.addData((ts(0), "a"), (ts(1), "a"), (ts(2), "b"))
    q.processAllAvailable()
    val early = spark.table("sessions_stream").count()
    // a much later event advances the watermark past both sessions' ends
    mem.addData((ts(20), "a"))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("sessions_stream")
      .as[(String, Long)].collect().toSet
    assert(early === 0, "no session may emit before the watermark passes its end")
    // a's 2-event session and b's singleton closed; a's 00:20 session still open
    assert(closed === Set(("a", 2L), ("b", 1L)))
  }

  test("P1' sliding rate: streaming result equals the batch twin window-for-window") {
    // the true 5m/30s overlapping-window rate (MetricsOps.p1_rate_sliding):
    // the identical groupBy(window(len, slide)) plan must produce the same
    // window set incrementally over micro-batches as in one batch pass
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Int) = new Timestamp(1704067200000L + sec * 1000L)
    val events = Seq(
      (t(0), "insert"), (t(15), "insert"), (t(30), "update"),
      (t(75), "insert"), (t(290), "delete"), (t(310), "update"))
    def slidingRate(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(window($"ts", "5 minutes", "30 seconds"), $"event_type")
        .agg(count(lit(1)).as("cnt"))
        .select($"window.start".as("bucket_start"), $"event_type", $"cnt",
                round($"cnt" / 300.0, 6).as("rate_per_sec"))
    val mem = MemoryStream[(Timestamp, String)]
    val q = slidingRate(mem.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("p1_sliding_stream")
      .outputMode(OutputMode.Complete()).start()
    mem.addData(events.take(3): _*)
    q.processAllAvailable()
    mem.addData(events.drop(3): _*)   // split across micro-batches
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("p1_sliding_stream")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val batch = slidingRate(events.toDF("ts", "event_type"))
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(streamed === batch)
    // every event belongs to exactly windowLen/slide = 10 sliding windows
    assert(streamed.toSeq.map(_._3).sum === events.size * 10L)
  }

  test("stateless curation ops (stratified/redact/entropy) run identically on a stream") {
    // the scrub/score/sample stages are narrow projections, so the SAME
    // plan must work on readStream with no watermark or state — batch ≡
    // stream row-for-row
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{Curation, TextOps}
    val rows = (0L until 50L).map(i => (i, if (i % 2 == 0) "en" else "es",
      s"doc $i contact user$i@mail.example.com body word$i"))
    def pipeline(df: org.apache.spark.sql.DataFrame) =
      Curation.stratifiedSample(df, $"lang", $"doc_id",
          Map("en" -> 6000, "es" -> 3000))
        .select($"doc_id", TextOps.redactPii($"text").as("clean"),
          TextOps.wordEntropy($"text").as("h"))
    val mem = MemoryStream[(Long, String, String)]
    val q = pipeline(mem.toDF().toDF("doc_id", "lang", "text"))
      .writeStream.format("memory").queryName("curation_stream")
      .outputMode(OutputMode.Append()).start()
    mem.addData(rows.take(20): _*); q.processAllAvailable()
    mem.addData(rows.drop(20): _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("curation_stream")
      .as[(Long, String, Double)].collect().toSet
    val batch = pipeline(rows.toDF("doc_id", "lang", "text"))
      .as[(Long, String, Double)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    assert(streamed.forall(_._2.contains("<EMAIL>")))
  }

  test("watermark drops late data: a closed window never re-emits") {
    // append-mode windowed counts with a 10-minute watermark: once the
    // watermark passes a window's end the window is final — an event
    // arriving later for it must be silently dropped, not re-opened
    // (exactly-once emission is what makes the P1/P9 streaming twins safe
    // to sink without upsert logic)
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    val mem = MemoryStream[(Timestamp, String)]
    val q = mem.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .select($"window.start".as("w"), $"event_type", $"cnt")
      .writeStream.format("memory").queryName("late_drop")
      .outputMode(OutputMode.Append()).start()
    mem.addData((ts(0), "a"), (ts(1), "a")); q.processAllAvailable()
    // advance the watermark far past the first window, closing it
    mem.addData((ts(40), "a")); q.processAllAvailable()
    val closed = spark.table("late_drop")
      .filter($"w" === ts(0)).as[(Timestamp, String, Long)].collect()
    assert(closed.map(_._3).toSeq === Seq(2L), "window [0,5) finalized at 2")
    // late arrival for the closed window: must be dropped
    mem.addData((ts(2), "a")); q.processAllAvailable()
    mem.addData((ts(60), "a")); q.processAllAvailable() // flush remaining
    q.stop()
    val after = spark.table("late_drop")
      .filter($"w" === ts(0)).as[(Timestamp, String, Long)].collect()
    assert(after.map(_._3).toSeq === Seq(2L),
      "late event neither re-emitted nor re-counted the closed window")
  }

  test("streaming corpus dedup: cross-batch duplicates dropped by digest") {
    // the streaming form of X1 ingest dedup: dropDuplicates state keyed by
    // the 32-byte digest (never the text), so a re-crawled document arriving
    // micro-batches later is dropped exactly as Dedup.exactIncremental
    // would route it (drop_vs_corpus, first-seen wins)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .withColumn("text_sha", sha2($"text", 256))
      .dropDuplicates("text_sha")
      .writeStream.format("memory").queryName("doc_dedup_stream")
      .outputMode(OutputMode.Append()).start()
    mem.addData((1L, "alpha"), (2L, "beta")); q.processAllAvailable()
    mem.addData((3L, "alpha"), (4L, "gamma")); q.processAllAvailable()
    mem.addData((5L, "beta"), (6L, "alpha")); q.processAllAvailable()
    q.stop()
    val kept = spark.table("doc_dedup_stream")
      .as[(Long, String, String)].collect().map(_._1).toSet
    assert(kept === Set(1L, 2L, 4L), "first-seen digest wins across batches")
  }

  test("content-defined chunking runs identically on a stream") {
    // the chunker is a pure projection + generator — no state, no watermark:
    // the SAME call works on readStream, so sub-document dedup keys can be
    // derived at ingest time rather than in a later batch pass
    implicit val sqlCtx = spark.sqlContext
    val rows = (0L until 30L).map(i =>
      (i, (1 to 120).map(j => s"w${(i * 131 + j * 7919) % 4096}").mkString(" ")))
    def chunk(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Dedup.contentDefinedChunks(df, "text", "doc_id")
    val mem = MemoryStream[(Long, String)]
    val q = chunk(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode(OutputMode.Append()).start()
    mem.addData(rows.take(10): _*); q.processAllAvailable()
    mem.addData(rows.drop(10): _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("chunk_stream")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val batch = chunk(rows.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(streamed === batch)
    assert(batch.exists(_._2 > 0), "fixture should produce multi-chunk docs")
  }

  test("P8' event-time staleness: quiesces, fires per key at its true " +
    "last-seen, and survives a behind-watermark arrival") {
    import Alerts._
    implicit val sqlCtx = spark.sqlContext
    def t(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    val mem = MemoryStream[MetricPoint]
    val q = Alerts.stalenessEventTime(
        mem.toDS().withWatermark("ts", "0 seconds"), staleAfterMs = 10 * 60000L)
      .writeStream.format("memory").queryName("stale_et")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: key a far ahead of key b — after this batch the watermark
      // is t(30), already past b's lastSeen + staleAfter (t(1) + 10m)
      mem.addData(MetricPoint("a", t(30), 1.0), MetricPoint("b", t(1), 1.0))
      q.processAllAvailable()
      // batch 2: b's refresh at t(5) is BEHIND the watermark — standard
      // streaming semantics DROP it before the stateful operator (the
      // max(deadline, wm+1) timeout guard stays as insurance, but a
      // surviving row always has ts >= watermark); a advances normally
      mem.addData(MetricPoint("a", t(40), 1.0), MetricPoint("b", t(5), 1.0))
      q.processAllAvailable()
      // horizon tick pushes the watermark past every deadline
      mem.addData(MetricPoint("__tick", t(600), 0.0))
      q.processAllAvailable()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def n() = spark.table("stale_et")
        .filter($"key" =!= "__tick").select($"key").distinct().count()
      while (n() < 2 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally q.stop()
    val byKey = spark.table("stale_et").as[Alert].collect()
      .filter(_.key != "__tick").groupBy(_.key)
      .view.mapValues(_.map(_.atMs).max).toMap
    // every key's final STALE carries its last SURVIVING event-time: a's
    // t(40); b's t(1), because the t(5) refresh was late and dropped —
    // exactly why the p28 census delivery keeps each key's max point in
    // the final data batch (a max point can never be late)
    assert(byKey === Map("a" -> t(40).getTime, "b" -> t(1).getTime))
  }

  test("P7 sustained threshold: fires only after the hold-down duration") {
    import Alerts._
    def t(min: Int) = new Timestamp(1704067200000L + min * 60000L)
    val pts = Seq(
      MetricPoint("tbl", t(0), 0.05),  // below
      MetricPoint("tbl", t(1), 0.2),   // breach starts
      MetricPoint("tbl", t(3), 0.3),   // 2 min in — not yet (for: 5m)
      MetricPoint("tbl", t(6), 0.4),   // 5 min in → FIRING
      MetricPoint("tbl", t(8), 0.01),  // recovery → RESOLVED
    )
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[MetricPoint]
    val q = sustainedThreshold(mem.toDS(), threshold = 0.1, forDurationMs = 5 * 60000L)
      .writeStream.format("memory").queryName("alerts").outputMode(OutputMode.Append()).start()
    mem.addData(pts: _*)
    q.processAllAvailable()
    q.stop()
    val alerts = spark.table("alerts").as[Alert].collect().sortBy(_.atMs)
    assert(alerts.map(_.alert).toSeq === Seq("FIRING", "RESOLVED"))
    assert(alerts.head.atMs === t(6).getTime)
  }

  test("P7 batch twin: consecutive-breach islands with run length") {
    val rates = Seq(
      ("tbl", Timestamp.valueOf("2024-01-01 00:00:00"), 0.05),
      ("tbl", Timestamp.valueOf("2024-01-01 00:01:00"), 0.2),
      ("tbl", Timestamp.valueOf("2024-01-01 00:02:00"), 0.2),
      ("tbl", Timestamp.valueOf("2024-01-01 00:03:00"), 0.2),
      ("tbl", Timestamp.valueOf("2024-01-01 00:04:00"), 0.05),
      ("tbl", Timestamp.valueOf("2024-01-01 00:05:00"), 0.2),
    ).toDF("key", "bucket_start", "rate")
    val out = Alerts.sustainedThresholdBatch(rates, 0.1, 3)
      .select($"run_len").as[Long].collect()
    assert(out.toSeq === Seq(3L)) // only the 3-bucket island qualifies
  }

  test("incremental materialize sink: correct state across 3 micro-batches, tombstones applied") {
    implicit val sqlCtx = spark.sqlContext
    import graft.cdc.CdcApply
    val tmp = java.nio.file.Files.createTempDirectory("graft_mat").toString
    graft.streaming.PipelineHealth.SinkCounters.reset()
    val health = new PipelineHealth.HealthListener
    spark.streams.addListener(health)
    val mem = MemoryStream[String]
    val raw = mem.toDF()
      .withColumn("partition", lit(0)).withColumn("offset", xxhash64($"value"))
    val q = CdcPipeline.materializeSink(CdcPipeline.events(raw),
      s"$tmp/state", s"$tmp/ckpt").start()
    val lines = CanalJson.fixtureLines.map(_._1)
    mem.addData(lines(0), lines(1)); q.processAllAvailable()          // seed inserts
    mem.addData(lines(2), lines(3), lines(4)); q.processAllAvailable() // updates
    mem.addData(lines(5), lines(8), lines(9)); q.processAllAvailable() // delete + dup
    q.stop()
    val state = spark.read.parquet(s"$tmp/state")
      .select($"table", $"pk", $"op", element_at($"data", "price").as("price"))
      .as[(String, String, String, Option[String])].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    // matches the batch-materialize result on the same workload
    assert(state(("products", "1")) === (("update", Some("165.00")))) // latest image won
    assert(state(("products", "2")) === (("update", Some("50.05"))))
    assert(!state.contains(("products", "3")))                        // tombstoned across batches
    assert(state(("orders", "10"))._1 === "update")                   // dup delivery collapsed
    assert(state(("unknown", "99"))._1 === "insert")
    assert(state.size === 5) // products{1,2} + users 1 + orders 10 + unknown 99; products 3 deleted
    // sink counters saw one success per micro-batch (M3)
    val ok = graft.streaming.PipelineHealth.SinkCounters.snapshot
      .collectFirst { case ("materialize", "success", n) => n }
    assert(ok.exists(_ >= 3))
    // the REAL batch-count invariant (the driver surface only exposes the
    // boolean ran_any_batch, because empty-batch counts vary with trigger
    // timing): three addData+processAllAvailable rounds → at least 3
    // completed batches. Listener bus is async — poll briefly.
    val deadline = System.currentTimeMillis() + 10000
    while (health.batchesCompleted.sum < 3 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    spark.streams.removeListener(health)
    assert(health.batchesCompleted.sum >= 3)
  }

  test("incremental materialize sink keys composite-pkNames streams per line") {
    // the streaming twin of cdc_wire_composite: two lines of one order
    // arrive in batch 1, an update to line 2 and a tombstone for line 1 in
    // batch 2 — bucketing and ranking must both use the envelope-declared
    // (order_id, line_no) key, or the lines collapse
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_mat_comp").toString
    val mem = MemoryStream[String]
    val raw = mem.toDF()
      .withColumn("partition", lit(0)).withColumn("offset", xxhash64($"value"))
    val q = CdcPipeline.materializeSink(CdcPipeline.events(raw),
      s"$tmp/state", s"$tmp/ckpt").start()
    def l(op: String, lno: Int, qty: Int, es: Long) =
      s"""{"data":[{"order_id":"1","line_no":"$lno","qty":"$qty"}],"old":null,"type":"$op","table":"t","database":"d","es":$es,"isDdl":false,"pkNames":["order_id","line_no"]}"""
    mem.addData(l("INSERT", 1, 5, 1704067200000L), l("INSERT", 2, 7, 1704067200001L))
    q.processAllAvailable()
    mem.addData(l("UPDATE", 2, 9, 1704067200002L), l("DELETE", 1, 5, 1704067200003L))
    q.processAllAvailable()
    q.stop()
    val state = spark.read.parquet(s"$tmp/state")
      .select(element_at($"data", "line_no"), element_at($"data", "qty"))
      .as[(String, String)].collect().toSet
    assert(state === Set(("2", "9")),
      s"line 1 tombstoned, line 2 updated — got $state")
  }

  test("Debezium streaming twin: the normalized feed drives the SAME " +
      "materialize sink incrementally, matching the batch apply") {
    // "Switch the source stage, keep the pipeline" (DebeziumJson.scala:8-14)
    // certified under micro-batches, not just batch (round-14 verdict #4):
    // DebeziumJson.events over a MemoryStream feeds the UNCHANGED
    // CdcPipeline.materializeSink — create + snapshot-read in batch 1 with
    // an update; batch 2 redelivers the SAME update (same content-derived
    // coordinate — delivery dedup must hold across the batch boundary),
    // deletes via the Debezium before-image tombstone, and ships a
    // malformed line the source stage must drop. The surviving store must
    // equal the batch materializeEnvelopeKeyed over the identical feed.
    implicit val sqlCtx = spark.sqlContext
    import graft.cdc.{CdcApply, DebeziumJson}
    val tmp = java.nio.file.Files.createTempDirectory("graft_dbz_mat").toString
    def dz(op: String, id: Int, before: String, after: String, es: Long) = {
      def img(st: String) =
        if (st == null) "null" else s"""{"id":"$id","status":"$st"}"""
      s"""{"before":${img(before)},"after":${img(after)},"source":{"db":"testdb","table":"orders","ts_ms":$es},"op":"$op","ts_ms":${es + 500}}"""
    }
    val b1 = Seq(
      dz("c", 1, null, "pending", 1704067201000L),
      dz("r", 2, null, "pending", 1704067202000L),
      dz("u", 1, "pending", "completed", 1704067203000L))
    val b2 = Seq(
      dz("u", 1, "pending", "completed", 1704067203000L), // redelivery
      dz("d", 2, "pending", null, 1704067204000L),        // before-image tombstone
      "not-json{{{")
    val mem = MemoryStream[String]
    val raw = mem.toDF()
      .withColumn("partition", lit(0)).withColumn("offset", xxhash64($"value"))
    val q = CdcPipeline.materializeSink(DebeziumJson.events(raw),
      s"$tmp/state", s"$tmp/ckpt").start()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$tmp/state")
      .select($"pk", element_at($"data", "status"), $"op",
        unix_millis($"timestamp"))
      .as[(String, String, String, Long)].collect().toSet
    val batchRaw = (b1 ++ b2).toDF("value")
      .withColumn("partition", lit(0)).withColumn("offset", xxhash64($"value"))
    val batch = CdcApply.materializeEnvelopeKeyed(DebeziumJson.events(batchRaw))
      .select($"pk", element_at($"data", "status"), $"op",
        unix_millis($"timestamp"))
      .as[(String, String, String, Long)].collect().toSet
    assert(streamed === batch)
    // id 2 tombstoned, id 1 survives with the update's image + commit time
    assert(streamed === Set(("1", "completed", "update", 1704067203000L)))
  }

  test("M4 error route: poison row is counted and skipped, the sink keeps running") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_poison").toString
    graft.streaming.PipelineHealth.SinkCounters.reset()
    val mem = MemoryStream[String]
    val raw = mem.toDF()
      .withColumn("partition", lit(0)).withColumn("offset", xxhash64($"value"))
    val q = CdcPipeline.materializeSink(CdcPipeline.events(raw),
      s"$tmp/state", s"$tmp/ckpt").start()
    val lines = CanalJson.fixtureLines.map(_._1)
    mem.addData(lines(0), CanalJson.poisonLine) // clean seed + poison in one batch
    q.processAllAvailable()                     // must NOT throw (skip-on-error)
    q.stop()
    val counters = graft.streaming.PipelineHealth.SinkCounters.snapshot
      .map { case (op, st, n) => (op, st) -> n }.toMap
    assert(counters(("materialize", "row_error")) === 1)
    assert(counters(("materialize", "success")) >= 1)
    val state = spark.read.parquet(s"$tmp/state")
    assert(state.filter($"pk" === "666").count() === 0) // poison never applied
    assert(state.count() === 3)                         // the 3 seed rows survive
  }

  /** Start `materializeSink` over a MemoryStream of canal-json lines; one
    * `addData` + `processAllAvailable` is one micro-batch. */
  private def startSink(statePath: String, ckpt: String,
                        dedup: Boolean = false)
      : (MemoryStream[String], org.apache.spark.sql.streaming.StreamingQuery) = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val raw = mem.toDF()
      .withColumn("partition", lit(0)).withColumn("offset", xxhash64($"value"))
    val events = CdcPipeline.events(raw)
    (mem, CdcPipeline.materializeSink(
      if (dedup) CdcPipeline.dedupDelivery(events) else events,
      statePath, ckpt).start())
  }

  private def feedSink(statePath: String, ckpt: String,
                       batches: Seq[Seq[String]], dedup: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (mem, q) = startSink(statePath, ckpt, dedup)
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    q
  }

  private def partFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    }.toSeq.sorted
    finally s.close()
  }

  private def bucketDirs(statePath: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(statePath))
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("bucket=")).toSeq.sorted
    finally s.close()
  }

  private val fixture = CanalJson.fixtureLines.map(_._1)

  test("materialize sink: a corrupt state file fails the batch loudly and drops no state") {
    // Only a MISSING bucket directory means "no prior state". A state file
    // whose footer is gone must fail the batch, count a sink error, and
    // leave the bucket exactly as it was — never merge the batch against
    // empty state and overwrite the bucket's untouched keys.
    val tmp = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    val state = s"$tmp/state"
    PipelineHealth.SinkCounters.reset()
    // one shuffle partition: the new store records one bucket, every key
    // lives in bucket=0, so the next batch touches it
    val (mem, q) = withShufflePartitions(1)(startSink(state, s"$tmp/ckpt"))
    try {
      mem.addData(fixture(0), fixture(1)) // products 1,2,3 + users 1
      q.processAllAvailable()
      val dir = java.nio.file.Paths.get(s"$state/bucket=0")
      // one file per bucket; truncating every part file keeps the check
      // independent of that layout
      val originals = partFiles(dir).map(p => p -> java.nio.file.Files.readAllBytes(p))
      assert(originals.nonEmpty)
      // drop the footer length and the trailing magic; the stale checksum
      // sidecar goes too, so the parquet reader itself meets the damage
      originals.foreach { case (p, bytes) =>
        java.nio.file.Files.deleteIfExists(dir.resolve(s".${p.getFileName}.crc"))
        java.nio.file.Files.write(p, bytes.dropRight(8))
      }
      mem.addData(fixture(2)) // updates products 1 and 2
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(!q.isActive)
      val counters = PipelineHealth.SinkCounters.snapshot
        .map { case (op, st, n) => (op, st) -> n }.toMap
      assert(counters.get(("materialize", "error")) === Some(1L))
      // the failed batch committed nothing: the same, still-truncated files
      assert(partFiles(dir) === originals.map(_._1))
      originals.foreach { case (p, bytes) =>
        assert(java.nio.file.Files.size(p) === bytes.length - 8L)
        java.nio.file.Files.write(p, bytes)
      }
      val kept = spark.read.parquet(state)
        .select($"table", $"pk", element_at($"data", "price"))
        .as[(String, String, Option[String])].collect().toSet
      assert(kept === Set(("products", "1", Some("150.00")),
        ("products", "2", Some("45.50")), ("products", "3", Some("5.99")),
        ("users", "1", None)))
    } finally q.stop()
  }

  test("materialize sink overwrites dynamically without mutating the session conf") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    val before = spark.conf.getOption(key)
    val tmp = java.nio.file.Files.createTempDirectory("graft_conf").toString
    feedSink(s"$tmp/state", s"$tmp/ckpt",
      Seq(Seq(fixture(0), fixture(1)), Seq(fixture(3))))
    assert(spark.conf.getOption(key) === before)
    // the writer option still scoped the overwrite to the dirty buckets:
    // batch 2 (orders 10 alone) kept every key of batch 1
    assert(bucketDirs(s"$tmp/state").size > 1)
    assert(spark.read.parquet(s"$tmp/state").count() === 5)
  }

  /** The sink bucket of a fixture key (database `testdb`) in an n-bucket store. */
  private def sinkBucket(table: String, pk: String, n: Int): Int =
    Seq((table, pk)).toDF("table", "pk")
      .select(pmod(hash(lit("testdb"), $"table", $"pk"), lit(n)))
      .as[Int].head()

  test("materialize sink deletes a bucket whose keys were all tombstoned") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tomb").toString
    val n = 64
    val gone = sinkBucket("products", "3", n)
    val others = Seq(("products", "1"), ("products", "2"), ("users", "1"))
    assert(!others.map { case (t, k) => sinkBucket(t, k, n) }.contains(gone),
      "fixture precondition: products 3 is alone in its bucket")
    // batch 2 deletes products 3 (fixture(5))
    withShufflePartitions(n)(feedSink(s"$tmp/state", s"$tmp/ckpt",
      Seq(Seq(fixture(0), fixture(1)), Seq(fixture(5)))))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/state/bucket=$gone")))
    val keys = spark.read.parquet(s"$tmp/state").select($"table", $"pk")
      .as[(String, String)].collect().toSet
    assert(keys === others.toSet)
  }

  test("materialize sink leaves exactly one parquet file per bucket") {
    // the ranking exchange puts each dirty bucket in a task of its own,
    // which writes it as one file, batch after batch
    val tmp = java.nio.file.Files.createTempDirectory("graft_files").toString
    feedSink(s"$tmp/state", s"$tmp/ckpt",
      Seq(Seq(fixture(0), fixture(1)), Seq(fixture(2), fixture(3), fixture(4)),
        Seq(fixture(5), fixture(8), fixture(9))))
    val dirs = bucketDirs(s"$tmp/state")
    assert(dirs.nonEmpty)
    dirs.foreach(d => assert(partFiles(d).size === 1, s"$d"))
  }

  test("materialize sink runs at most 2 Spark jobs per data batch") {
    // pinned at the measured count: the per-bucket error/dirty aggregate,
    // then one job that reads the prior state, ranks and writes — a
    // re-added action fails here. Measured on
    // the production assembly behind the stateful delivery dedup, where
    // Structured Streaming runs the batch without adaptive execution (with
    // it, every shuffle stage would count as a job of its own)
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.ConcurrentHashMap[(String, String), Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val qid = p.getProperty("sql.streaming.queryId")
          val batch = p.getProperty("streaming.sql.batchId")
          if (qid != null && batch != null) jobs.merge((qid, batch), 1, _ + _)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft_jobs").toString
      // fixture lines 0-5 carry their own `es`, so none falls behind the
      // dedup watermark
      val q = feedSink(s"$tmp/state", s"$tmp/ckpt",
        Seq(Seq(fixture(0), fixture(1)), Seq(fixture(2), fixture(3), fixture(4)),
          Seq(fixture(5))), dedup = true)
      val data = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId.toString).toSeq
      assert(data.size === 3)
      def counts = data.map(b => b -> jobs.getOrDefault((q.id.toString, b), 0)).toMap
      // the listener bus is asynchronous: wait until every batch is seen
      // and the counts hold still
      val deadline = System.currentTimeMillis() + 10000
      var last = Map.empty[String, Int]
      while ((counts.values.exists(_ == 0) || counts != last) &&
             System.currentTimeMillis() < deadline) {
        last = counts
        Thread.sleep(200)
      }
      assert(counts.values.forall(_ > 0), s"$counts")
      assert(counts.values.forall(_ <= 2), s"jobs per data batch: $counts")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("sink layout identity: repartition(n, database, table, pk) puts row " +
    "pmod(hash(database, table, pk), n) in shuffle partition of that number") {
    // the invariant behind one file per write task: the sink's bucket
    // expression is the one HashPartitioning assigns partitions with, so
    // the ranking exchange hands write task i exactly bucket i
    val rnd = new scala.util.Random(11)
    val lines = (0 until 400).map { i =>
      val (data, pkNames) =
        if (rnd.nextBoolean())
          (s"""{"order_id":"${rnd.nextInt(1000)}","line_no":"${rnd.nextInt(9)}"}""",
            """["order_id","line_no"]""")
        else (s"""{"id":"${rnd.nextInt(100000)}"}""", if (rnd.nextBoolean()) """["id"]""" else "null")
      s"""{"data":[$data],"old":null,"type":"INSERT","table":"t${rnd.nextInt(5)}",""" +
        s""""database":"db${rnd.nextInt(3)}","es":${1704067200000L + i},"isDdl":false,""" +
        s""""pkNames":$pkNames}"""
    }
    val keys = CanalJson.events(lines.toDF("value")
        .withColumn("partition", lit(0)).withColumn("offset", xxhash64($"value")))
      .select($"database", $"table", graft.cdc.CdcApply.envelopePk.as("pk"))
    assert(keys.filter($"pk".contains("\u0001")).count() > 0, "composite keys generated")
    Seq(1, 4, 7, 32).foreach { n =>
      val misplaced = keys.repartition(n, $"database", $"table", $"pk")
        .filter(spark_partition_id() =!= pmod(hash($"database", $"table", $"pk"), lit(n)))
        .count()
      assert(misplaced === 0, s"n = $n")
    }
    // the sink: every row sits in its key's bucket, and bucket i is one
    // file written by write task i
    val tmp = java.nio.file.Files.createTempDirectory("graft_identity").toString
    withShufflePartitions(7)(feedSink(s"$tmp/state", s"$tmp/ckpt",
      Seq(lines.take(200), lines.drop(200))))
    val dirs = bucketDirs(s"$tmp/state")
    assert(dirs.size === 7)
    dirs.foreach { d =>
      val b = d.getFileName.toString.stripPrefix("bucket=").toInt
      assert(partFiles(d).map(_.getFileName.toString.take(10)) === Seq(f"part-$b%05d"), s"$d")
    }
    val state = spark.read.parquet(s"$tmp/state")
    assert(state.schema("bucket").dataType === org.apache.spark.sql.types.IntegerType)
    assert(state.filter($"bucket" =!= pmod(hash($"database", $"table", $"pk"), lit(7)))
      .count() === 0)
  }

  private def bucketMarker(statePath: String): Option[(String, Int)] =
    graft.tables.BucketMeta.read(spark, statePath)

  test("materialize sink store keeps its recorded bucket count when restarted " +
    "under another parallelism, and equals the uninterrupted run") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val in = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
    def writeFile(name: String, ls: Seq[String]): Unit = {
      java.nio.file.Files.write(in.resolve(name), ls.mkString("\n").getBytes("UTF-8"))
      ()
    }
    def run(statePath: String, ckpt: String, n: Int): Unit = withShufflePartitions(n) {
      val q = CdcPipeline.materializeSink(
        CdcPipeline.events(CdcPipeline.fileSource(spark, in.toString)), statePath, ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    // `timestamp` is left out: the missing-es fixture line takes the
    // processing-time fallback, which differs per run by design
    def rows(path: String) = spark.read.parquet(path)
      .select($"database", $"table", $"pk", $"op", to_json($"data"), $"bucket")
      .as[(String, String, String, String, String, Int)].collect().toSet
    writeFile("f1.jsonl", fixture.take(5))
    run(s"$tmp/state", s"$tmp/ckpt", 4)
    writeFile("f2.jsonl", fixture.drop(5))
    run(s"$tmp/state", s"$tmp/ckpt", 7)      // restart from the same checkpoint
    run(s"$tmp/control", s"$tmp/ckptC", 4)   // uninterrupted control
    val got = rows(s"$tmp/state")
    assert(got === rows(s"$tmp/control"))
    assert(got.size === 5)
    assert(bucketMarker(s"$tmp/state") === Some(("bucket", 4)))
    // a full replay under 7 partitions with a fresh checkpoint: the marker
    // still keeps the store at 4 buckets
    run(s"$tmp/state", s"$tmp/ckptR", 7)
    assert(rows(s"$tmp/state") === got)
    assert(bucketMarker(s"$tmp/state") === Some(("bucket", 4)))
    assert(bucketDirs(s"$tmp/state").forall(
      _.getFileName.toString.stripPrefix("bucket=").toInt < 4))
  }

  test("materialize sink fails a store of the old layout or with a bad marker " +
    "on its first batch, writes nothing and counts the error") {
    def tree(root: String): Seq[(String, Long)] = {
      val p = java.nio.file.Paths.get(root)
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.map(f => (p.relativize(f).toString,
        if (java.nio.file.Files.isRegularFile(f)) java.nio.file.Files.size(f) else -1L))
        .toSeq.sorted
      finally s.close()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    def marker(text: String)(st: String): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(st))
      java.nio.file.Files.write(java.nio.file.Paths.get(st, graft.tables.BucketMeta.File),
        text.getBytes("UTF-8"))
      ()
    }
    val cases: Seq[(String, String => Unit)] = Seq(
      // bucket= directories of the old xxhash64 layout, no marker
      "old layout" -> { st =>
        Seq(("testdb", "products", "1")).toDF("database", "table", "pk")
          .write.parquet(s"$st/bucket=5") },
      "non-numeric marker" -> marker("bucket=four"),
      "zero buckets" -> marker("bucket=0"),
      "another partition column" -> marker("shab=4"))
    cases.foreach { case (what, setUp) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_layout").toString
      val state = s"$tmp/state"
      setUp(state)
      val before = tree(state)
      PipelineHealth.SinkCounters.reset()
      val (mem, q) = startSink(state, s"$tmp/ckpt")
      try {
        mem.addData(fixture(0), fixture(1))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        assert(msgs(e).exists(_.contains(graft.tables.BucketMeta.File)),
          s"$what: ${msgs(e).take(2)}")
      } finally q.stop()
      val counters = PipelineHealth.SinkCounters.snapshot
        .map { case (op, st, n) => (op, st) -> n }.toMap
      assert(counters.get(("materialize", "error")) === Some(1L), what)
      assert(counters.get(("materialize", "success")) === None, what)
      assert(tree(state) === before, s"$what: the store must be untouched")
    }
  }

  test("materialize sink: re-applying the same input with a fresh checkpoint " +
    "leaves the store unchanged, a tombstone-only bucket included") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_reapply").toString
    val state = s"$tmp/state"
    val n = 64
    val gone = sinkBucket("products", "3", n)
    val goneDir = java.nio.file.Paths.get(s"$state/bucket=$gone")
    val saved = java.nio.file.Paths.get(s"$tmp/saved")
    def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      java.nio.file.Files.createDirectories(to)
      partFiles(from).foreach(f => java.nio.file.Files.copy(f, to.resolve(f.getFileName)))
    }
    def snapshot() = (
      spark.read.parquet(state)
        .select($"database", $"table", $"pk", $"op", to_json($"data"),
          unix_micros($"timestamp"), $"offset", $"bucket")
        .as[(String, String, String, String, String, Long, Long, Int)].collect().toSet,
      bucketDirs(state).map(_.getFileName.toString),
      bucketMarker(state))
    // fixture lines 0, 1 and 5 carry their own `es`: the re-applied rows
    // are identical to the first ones; batch 2 deletes products 3, alone
    // in its bucket
    val batches = Seq(Seq(fixture(0), fixture(1)), Seq(fixture(5)))
    withShufflePartitions(n) {
      val (mem, q) = startSink(state, s"$tmp/ckpt1")
      try {
        mem.addData(batches(0): _*); q.processAllAvailable()
        copyDir(goneDir, saved)
        mem.addData(batches(1): _*); q.processAllAvailable()
      } finally q.stop()
    }
    val first = snapshot()
    assert(!java.nio.file.Files.exists(goneDir))
    assert(first._1.size === 3)
    // full re-apply (at-least-once worst case) under the session default
    feedSink(state, s"$tmp/ckpt2", batches)
    assert(snapshot() === first)
    // the crash window: batch 2's overwrite committed, the delete of its
    // tombstone-only bucket did not; the replayed batch deletes it
    copyDir(saved, goneDir)
    assert(spark.read.parquet(state).count() === 4)
    feedSink(state, s"$tmp/ckpt3", batches.drop(1))
    assert(snapshot() === first)
  }

  test("M5: terminal query exception is counted by error type") {
    implicit val sqlCtx = spark.sqlContext
    val l = new PipelineHealth.HealthListener
    spark.streams.addListener(l)
    try {
      val mem = MemoryStream[String]
      val q = mem.toDF().writeStream
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new RuntimeException("boom")
        }.start()
      mem.addData("x")
      intercept[Exception] { q.processAllAvailable() }
      intercept[Exception] { q.awaitTermination() }
      // listener bus is async — poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (l.errorCounts.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(l.errorCounts.nonEmpty)
      assert(l.queriesTerminated.sum >= 1)
    } finally spark.streams.removeListener(l)
  }

  test("event-store sink: parquet partitioned by (table, event_date), exactly the valid events") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_store").toString
    val mem = MemoryStream[String]
    val raw = mem.toDF()
      .withColumn("partition", lit(0)).withColumn("offset", xxhash64($"value"))
    val q = CdcPipeline.eventStoreSink(CdcPipeline.events(raw),
        s"$tmp/store", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    mem.addData(CanalJson.fixtureLines.map(_._1): _*)
    q.awaitTermination(60000)
    val stored = spark.read.parquet(s"$tmp/store")
    assert(stored.count() === 11) // all valid flattened events
    // partition layout prunes by table + day
    val dirs = new java.io.File(s"$tmp/store").listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("table=products")), dirs.mkString(","))
    val tableDirs = new java.io.File(s"$tmp/store/table=products").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(tableDirs.exists(_.startsWith("event_date=")), tableDirs.mkString(","))
    // a table+date predicate prunes to a partition subset (scan, not full read)
    val pruned = spark.read.parquet(s"$tmp/store")
      .filter($"table" === "products" && $"event_date" === "2024-01-01")
    assert(pruned.count() === 6) // 3 seed + 2 update + 1 delete
  }

  test("expireStorePartitions: drops only pre-cutoff days, data scan untouched") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_expire").toString
    val ev = CanalJson.events(CanalJson.fixtureRaw(spark))
      .withColumn("event_date", to_date($"timestamp"))
      .select($"table", $"event_date", $"op", $"offset")
      // drop the missing-es row: its fallback date is the wall clock, which
      // would add a nondeterministic partition to the layout under test
      .filter($"event_date" === "2024-01-01")
    ev.write.partitionBy("table", "event_date").mode("append").parquet(s"$tmp/store")
    ev.withColumn("event_date", lit("2024-02-01").cast("date"))
      .write.partitionBy("table", "event_date").mode("append").parquet(s"$tmp/store")
    val total = spark.read.parquet(s"$tmp/store").count()
    val dropped = CdcPipeline.expireStorePartitions(spark, s"$tmp/store",
      java.time.LocalDate.parse("2024-02-01"))
    assert(dropped.nonEmpty && dropped.forall(_.endsWith("event_date=2024-01-01")))
    val rest = spark.read.parquet(s"$tmp/store")
    assert(rest.count() === total / 2)
    assert(rest.select($"event_date").distinct().as[java.sql.Date].collect().toSeq
      === Seq(java.sql.Date.valueOf("2024-02-01")))
    // idempotent: nothing left to expire
    assert(CdcPipeline.expireStorePartitions(spark, s"$tmp/store",
      java.time.LocalDate.parse("2024-02-01")).isEmpty)
  }

  test("dead-letter stream: malformed + DDL routed, valid not") {
    val streamed = runStream(CanalJson.fixtureLines.map(_._1), "dead_letter",
      raw => CdcPipeline.deadLetter(raw).groupBy($"reason").count(),
      OutputMode.Complete())
    val m = streamed.as[(String, Long)].collect().toMap
    assert(m.getOrElse("ddl", 0L) === 1L)
    assert(m.getOrElse("parse_error", 0L) === 1L)
    assert(m.values.sum === 2L)
  }

  test("stream-stream interval join: errors correlate with prior ops of the same key, state bounded by watermarks") {
    implicit val sqlCtx = spark.sqlContext
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val ops = MemoryStream[(String, Timestamp)]
    val errs = MemoryStream[(String, Timestamp)]
    val opsDf = ops.toDF().toDF("op_key", "op_ts").withWatermark("op_ts", "30 minutes")
    val errsDf = errs.toDF().toDF("err_key", "err_ts").withWatermark("err_ts", "30 minutes")
    val q = CdcPipeline.intervalCorrelate(errsDf, opsDf,
        leftKey = "err_key", rightKey = "op_key",
        leftTs = "err_ts", rightTs = "op_ts", lookback = "10 minutes")
      .select($"err_key", $"err_ts", $"op_ts")
      .writeStream.format("memory").queryName("correlated").start()
    ops.addData(("a", t(0)), ("a", t(5)), ("a", t(20)), ("b", t(5)))
    errs.addData(("a", t(12)), ("a", t(40)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("correlated").as[(String, Timestamp, Timestamp)]
      .collect().map(r => (r._1, r._2.toString.substring(11, 16), r._3.toString.substring(11, 16)))
      .sorted.toSeq
    // err@12 sees a@5 only (a@0 is outside the 10 min lookback; b@5 wrong key;
    // a@20 is after the error); err@40 sees nothing
    assert(rows === Seq(("a", "00:12", "00:05")))
  }

  test("interval-join state is EVICTED once the watermark passes the lookback horizon") {
    // the 100 TB claim behind p29_stream_correlate, asserted from the state
    // store's own metrics rather than inferred: op rows are joinable by
    // errors up to op_ts + lookback, so once the watermark passes that
    // horizon the rows must leave the store — unbounded streams, bounded
    // state. (The results-side twin above pins WHICH pairs emit; this pins
    // that the buffer actually shrinks.)
    implicit val sqlCtx = spark.sqlContext
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    val ops = MemoryStream[(String, Timestamp)]
    val errs = MemoryStream[(String, Timestamp)]
    val opsDf = ops.toDF().toDF("op_key", "op_ts").withWatermark("op_ts", "0 seconds")
    val errsDf = errs.toDF().toDF("err_key", "err_ts").withWatermark("err_ts", "0 seconds")
    val q = CdcPipeline.intervalCorrelate(errsDf, opsDf,
        leftKey = "err_key", rightKey = "op_key",
        leftTs = "err_ts", rightTs = "op_ts", lookback = "10 minutes")
      .select($"err_key")
      .writeStream.format("memory").queryName("evict_probe").start()
    try {
      // buffer 5 ops + 1 err at the epoch
      ops.addData(("a", t(0)), ("a", t(1)), ("a", t(2)), ("a", t(3)), ("a", t(4)))
      errs.addData(("a", t(4)))
      q.processAllAvailable()
      val peak = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal)).max
      // both watermarks jump 2 h — far past t(4) + lookback — then one more
      // tick so the eviction lands in an observable commit
      ops.addData(("a", t(120)))
      errs.addData(("a", t(120)))
      q.processAllAvailable()
      ops.addData(("a", t(121)))
      errs.addData(("a", t(121)))
      q.processAllAvailable()
      val fin = Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.map(_.numRowsTotal)).sum
      assert(peak >= 6L, s"expected the epoch rows buffered in state, got $peak")
      assert(fin < peak && fin <= 4L,
        s"state not evicted past the lookback horizon: peak=$peak final=$fin")
    } finally q.stop()
  }

  test("left-outer interval join: null extension waits for the GLOBAL watermark, then emits") {
    // the p32_stream_outer timing contract, isolated: (1) matched rows emit
    // on arrival; (2) an unmatched left row is NOT null-extended while any
    // input's watermark lags its err_ts — the global watermark is the MIN
    // across inputs, so a one-sided advance must emit nothing (a join keyed
    // to one input's watermark would leak premature nulls that a late op on
    // the lagging stream could still have matched); (3) once BOTH inputs
    // advance, the engine emits exactly the null-extended row.
    implicit val sqlCtx = spark.sqlContext
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    val ops = MemoryStream[(String, Timestamp)]
    val errs = MemoryStream[(String, Timestamp)]
    val opsDf = ops.toDF().toDF("op_key", "op_ts").withWatermark("op_ts", "0 seconds")
    val errsDf = errs.toDF().toDF("err_key", "err_ts").withWatermark("err_ts", "0 seconds")
    val q = CdcPipeline.intervalCorrelate(errsDf, opsDf,
        leftKey = "err_key", rightKey = "op_key",
        leftTs = "err_ts", rightTs = "op_ts", lookback = "10 minutes",
        joinType = "left_outer")
      .select($"err_key", $"err_ts", $"op_ts")
      .writeStream.format("memory").queryName("outer_probe").start()
    try {
      def rows() = spark.table("outer_probe")
        .as[(String, Timestamp, Option[Timestamp])].collect().toSet
      ops.addData(("a", t(5)))
      errs.addData(("a", t(8)), ("b", t(8)))
      q.processAllAvailable()
      assert(rows() === Set(("a", t(8), Some(t(5)))),
        "matched row must emit on arrival, with no premature null extension")
      // one-sided advance: op watermark jumps 2 h, err watermark stays at
      // t(8) — the global minimum has NOT passed b's err_ts
      ops.addData(("a", t(120)))
      q.processAllAvailable()
      assert(!rows().exists(_._1 == "b"),
        "null row emitted before the GLOBAL watermark passed err_ts")
      // both sides advanced: b's null-extended row must now emit (eviction
      // can commit in a trailing no-data batch — drain with a deadline)
      errs.addData(("c", t(120)))
      q.processAllAvailable()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!rows().exists(_._1 == "b") && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(rows().contains(("b", t(8), None)),
        "engine did not emit the null-extended row after both watermarks passed")
    } finally q.stop()
  }

  test("q39' funnel: streaming state op equals the batch chained-min funnel") {
    // same fixture through FunnelStream (mapGroupsWithState, Update mode,
    // split across micro-batches WITH out-of-order delivery) and through the
    // q39-shaped batch plan — final per-user rows must be identical. User 1
    // is the out-of-order certificate: batch 2 delivers an EARLIER view and
    // click, which must re-open eligibility and pull every chained min down,
    // exactly as a batch recompute would.
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.FunnelStream
    import graft.streaming.FunnelStream.FunnelEvent
    val base = 1704067200000000L
    def e(u: Long, t: String, us: Long) = FunnelEvent(u, t, base + us)
    val batch1 = Seq(
      e(1, "view", 100), e(1, "click", 150), e(1, "purchase", 200),
      e(2, "click", 10),                       // click with no view: step 0
      e(3, "view", 100), e(3, "click", 50),    // click BEFORE view: step 1
      e(4, "view", 0))
    val batch2 = Seq(
      e(1, "view", 10), e(1, "click", 40), e(1, "purchase", 45), // late, earlier
      e(4, "purchase", 10))                    // purchase without click: step 1
    val mem = MemoryStream[FunnelEvent]
    val q = FunnelStream.funnelUpdates(mem.toDS())
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode(OutputMode.Update()).start()
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    // latest Update-mode row per user = the one with the max update_seq
    val streamed = spark.table("funnel_stream")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).values.map(_.maxBy(_._6)).map(r => (r._1, r._2, r._3, r._4, r._5))
      .toSet
    // batch twin: the q39 chained-min plan over the full fixture
    val ev = (batch1 ++ batch2).toDS().toDF("user_id", "event_type", "ts_us")
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts_us").as("t_view"))
    val c = ev.filter($"event_type" === "click")
      .join(v, "user_id").filter($"ts_us" > $"t_view")
      .groupBy($"user_id").agg(min($"ts_us").as("t_click"))
    val p = ev.filter($"event_type" === "purchase")
      .join(c, "user_id").filter($"ts_us" > $"t_click")
      .groupBy($"user_id").agg(min($"ts_us").as("t_purchase"))
    val expected = ev.select($"user_id").distinct()
      .join(v, Seq("user_id"), "left")
      .join(c.select($"user_id", $"t_click"), Seq("user_id"), "left")
      .join(p.select($"user_id", $"t_purchase"), Seq("user_id"), "left")
      .select($"user_id",
        (when($"t_purchase".isNotNull, 3).when($"t_click".isNotNull, 2)
          .when($"t_view".isNotNull, 1).otherwise(0)).cast("bigint"),
        coalesce($"t_view", lit(-1L)), coalesce($"t_click", lit(-1L)),
        coalesce($"t_purchase", lit(-1L)))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed === expected)
    // and the hand oracle for the out-of-order user: everything pulled down
    assert(streamed.contains((1L, 3L, base + 10, base + 40, base + 45)))
  }

  test("q39'' ordered funnel: O(1) frontier state equals the exact refold " +
    "under in-order delivery, cannot re-open on a late earlier view") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.FunnelStream
    import graft.streaming.FunnelStream.FunnelEvent
    val base = 1704067200000000L
    def e(u: Long, t: String, us: Long) = FunnelEvent(u, t, base + us)
    def run(table: String,
            op: org.apache.spark.sql.Dataset[FunnelEvent] =>
              org.apache.spark.sql.Dataset[FunnelStream.FunnelRow],
            batches: Seq[Seq[FunnelEvent]]): Set[(Long, Long, Long, Long, Long)] = {
      val mem = MemoryStream[FunnelEvent]
      val q = op(mem.toDS())
        .writeStream.format("memory").queryName(table)
        .outputMode(OutputMode.Update()).start()
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      spark.table(table)
        .as[(Long, Long, Long, Long, Long, Long)].collect()
        .groupBy(_._1).values.map(_.maxBy(_._6))
        .map(r => (r._1, r._2, r._3, r._4, r._5)).toSet
    }
    // IN-ORDER across batches (intra-batch shuffle absorbed by the sort):
    // bounded frontier == exact refold, including the same-ts no-advance rule
    val inOrder = Seq(
      Seq(e(1, "click", 5), e(1, "view", 10)),   // pre-view click ignored
      Seq(e(1, "click", 10), e(1, "click", 40)), // same-ts click doesn't chain
      Seq(e(1, "purchase", 45), e(2, "view", 10)))
    val exact1 = run("fo_exact_in", FunnelStream.funnelUpdates, inOrder)
    val bounded1 = run("fo_bounded_in", FunnelStream.funnelUpdatesOrdered, inOrder)
    assert(bounded1 === exact1)
    assert(bounded1.contains((1L, 3L, base + 10, base + 40, base + 45)))
    // ORDERING VIOLATED: an earlier view arrives late. The exact twin
    // re-opens eligibility and pulls the chain down; the frontier variant
    // keeps its committed mins.
    val outOfOrder = Seq(
      Seq(e(1, "view", 100), e(1, "click", 150)),
      Seq(e(1, "view", 10), e(1, "click", 40)))
    val exact2 = run("fo_exact_ooo", FunnelStream.funnelUpdates, outOfOrder)
    val bounded2 = run("fo_bounded_ooo", FunnelStream.funnelUpdatesOrdered, outOfOrder)
    assert(exact2 === Set((1L, 2L, base + 10, base + 40, -1L)))
    assert(bounded2 === Set((1L, 2L, base + 100, base + 150, -1L)))
  }

  test("q40' retention: streaming state op equals the batch cohort plan, " +
    "late earlier event shifts the cohort week") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.JourneyStream
    import graft.streaming.JourneyStream.JourneyEvent
    val monday = 1704067200000000L // 2024-01-01, a Monday
    val day = 86400000000L
    def e(u: Long, id: Long, us: Long) = JourneyEvent(u, id, us, "view")
    val batch1 = Seq(
      e(1, 1, monday + 2 * day),       // week 0 (Wed)
      e(1, 2, monday + 15 * day),      // week 2
      e(2, 3, monday + 8 * day))       // user 2: cohort = week 1
    val batch2 = Seq(
      e(1, 4, monday - 3 * day))       // LATE, week -1: shifts user 1's cohort
    val mem = MemoryStream[JourneyEvent]
    val q = JourneyStream.retentionUpdates(mem.toDS())
      .writeStream.format("memory").queryName("retention_stream")
      .outputMode(OutputMode.Update()).start()
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val byUser = spark.table("retention_stream")
      .as[(Long, Long, Long, Long)].collect().groupBy(_._1)
    val streamed = byUser.values.flatMap { rows =>
      val latest = rows.map(_._4).max
      rows.filter(_._4 == latest).map(r => (r._1, r._2, r._3))
    }.toSet
    // batch twin: the q40-shaped cohort plan over the full fixture
    val ev = (batch1 ++ batch2).toDS()
      .withColumn("ts", timestamp_micros($"ts_us"))
    val cohort = ev.groupBy($"user_id")
      .agg(date_trunc("week", min($"ts")).as("cohort_week"))
    val active = ev
      .select($"user_id", date_trunc("week", $"ts").as("active_week")).distinct()
    val expected = cohort.join(active, "user_id")
      .select($"user_id",
        datediff($"cohort_week", lit("1970-01-01").cast("date")).cast("bigint"),
        expr("CAST(datediff(active_week, cohort_week) DIV 7 AS BIGINT)"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === expected)
    // the late-event certificate: user 1's cohort moved to week -1, so the
    // original weeks re-indexed to k = 1 and k = 3 and week -1 became k = 0
    val u1 = streamed.filter(_._1 == 1L).map(r => (r._2, r._3))
    val cohortDay = JourneyStream.weekStartDay(monday - 3 * day)
    assert(u1 === Set((cohortDay, 0L), (cohortDay, 1L), (cohortDay, 3L)))
  }

  test("q41' transitions: streaming state op equals the batch lead-window " +
    "pairs, late event rewires both adjacent transitions") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.JourneyStream
    import graft.streaming.JourneyStream.JourneyEvent
    val base = 1704067200000000L
    def e(u: Long, id: Long, us: Long, t: String) = JourneyEvent(u, id, base + us, t)
    val batch1 = Seq(
      e(1, 1, 10, "view"), e(1, 2, 30, "purchase"), // view→purchase, for now
      e(2, 4, 10, "view"), e(2, 5, 10, "click"))    // ts tie: order by event_id
    val batch2 = Seq(
      e(1, 3, 20, "click"))  // lands BETWEEN: view→click, click→purchase
    val mem = MemoryStream[JourneyEvent]
    val q = JourneyStream.transitionUpdates(mem.toDS())
      .writeStream.format("memory").queryName("transition_stream")
      .outputMode(OutputMode.Update()).start()
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val byUser = spark.table("transition_stream")
      .as[(Long, String, String, Long, Long)].collect().groupBy(_._1)
    val streamed = byUser.values.flatMap { rows =>
      val latest = rows.map(_._5).max
      rows.filter(_._5 == latest).map(r => (r._1, r._2, r._3, r._4))
    }.toSet
    // batch twin: the q41-shaped lead window over the full fixture
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val expected = (batch1 ++ batch2).toDS()
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy($"user_id", $"event_type", $"next_type")
      .agg(count(lit(1)).as("n"))
      .as[(Long, String, String, Long)].collect().toSet
    assert(streamed === expected)
    // the rewiring certificate: view→purchase is GONE after the late click
    assert(!streamed.exists(r => r._1 == 1L && r._2 == "view" && r._3 == "purchase"))
    assert(streamed.contains((1L, "view", "click", 1L)))
    assert(streamed.contains((1L, "click", "purchase", 1L)))
    assert(streamed.contains((2L, "view", "click", 1L))) // id tie-break order
  }

  test("q41'' ordered transitions: bounded state equals the exact refold " +
    "under in-order delivery, diverges exactly as documented when violated") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.JourneyStream
    import graft.streaming.JourneyStream.JourneyEvent
    val base = 1704067200000000L
    def e(u: Long, id: Long, us: Long, t: String) = JourneyEvent(u, id, base + us, t)
    def latestRows(table: String): Set[(Long, String, String, Long)] = {
      val byUser = spark.table(table)
        .as[(Long, String, String, Long, Long)].collect().groupBy(_._1)
      byUser.values.flatMap { rows =>
        val latest = rows.map(_._5).max
        rows.filter(_._5 == latest).map(r => (r._1, r._2, r._3, r._4))
      }.toSet
    }
    def run(table: String,
            op: org.apache.spark.sql.Dataset[JourneyEvent] =>
              org.apache.spark.sql.Dataset[JourneyStream.TransitionRow],
            batches: Seq[Seq[JourneyEvent]]): Set[(Long, String, String, Long)] = {
      val mem = MemoryStream[JourneyEvent]
      val q = op(mem.toDS())
        .writeStream.format("memory").queryName(table)
        .outputMode(OutputMode.Update()).start()
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      latestRows(table)
    }
    // IN-ORDER delivery across batches (and an intra-batch shuffle, which
    // the batch-local sort must absorb): bounded state == exact refold
    val inOrder = Seq(
      Seq(e(1, 2, 20, "click"), e(1, 1, 10, "view")), // shuffled WITHIN batch
      Seq(e(1, 3, 30, "purchase"), e(2, 4, 10, "view")),
      Seq(e(2, 5, 20, "click")))
    val exact1 = run("jt_exact_inorder", JourneyStream.transitionUpdates, inOrder)
    val bounded1 = run("jt_bounded_inorder", JourneyStream.transitionUpdatesOrdered, inOrder)
    assert(bounded1 === exact1)
    assert(bounded1.contains((1L, "view", "click", 1L)))
    assert(bounded1.contains((1L, "click", "purchase", 1L)))
    // ORDERING VIOLATED: a click with ts BETWEEN view and purchase arrives
    // a batch late. The exact twin rewires (view->click, click->purchase);
    // the bounded variant folds it at ARRIVAL position (purchase->click).
    val outOfOrder = Seq(
      Seq(e(1, 1, 10, "view"), e(1, 3, 30, "purchase")),
      Seq(e(1, 2, 20, "click")))
    val exact2 = run("jt_exact_ooo", JourneyStream.transitionUpdates, outOfOrder)
    val bounded2 = run("jt_bounded_ooo", JourneyStream.transitionUpdatesOrdered, outOfOrder)
    assert(exact2 === Set((1L, "view", "click", 1L), (1L, "click", "purchase", 1L)))
    assert(bounded2 === Set((1L, "view", "purchase", 1L), (1L, "purchase", "click", 1L)))
  }

  test("S5 soak: stop mid-stream, restart from checkpoint, materialized store " +
    "equals the uninterrupted run; replay and snapshot restore are faithful") {
    // The reference's crash-recovery claim is at-least-once (index.js:351-352,
    // autoCommit 5 s); this engine's is exactly-once via checkpoint +
    // idempotent foreachBatch. The S5 pieces are certified separately
    // (snapshot diff, RocksDB redelivery) — this test COMPOSES them: run the
    // full wire pipeline, stop between micro-batches (the WAL commit
    // boundary, Structured Streaming's recovery unit), deliver more data,
    // restart from the SAME checkpoint, and require the store to equal an
    // uninterrupted control run. Then re-apply the whole input with a fresh
    // checkpoint into the same store (a crash-induced full replay, the
    // at-least-once worst case) and require the store unchanged, and round-
    // trip the store through Snapshot export/restore/diff.
    val tmp = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val in = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$tmp/in"))
    val lines = CanalJson.fixtureLines.map(_._1)
    def writeFile(name: String, ls: Seq[String]): Unit = {
      java.nio.file.Files.write(in.resolve(name),
        ls.mkString("\n").getBytes("UTF-8"))
      ()
    }
    def runPipeline(statePath: String, ckpt: String): Unit = {
      val q = CdcPipeline.materializeSink(
        CdcPipeline.events(CdcPipeline.fileSource(spark, in.toString)),
        statePath, ckpt).start()
      q.processAllAvailable()
      q.stop()
    }
    // the `timestamp` column is excluded from parity: the missing-es fixture
    // line takes the processing-time fallback, which differs per run by
    // design (LogShipping has the same contract)
    def stateSet(path: String): Set[(String, String, String, String, String)] =
      spark.read.parquet(path)
        .select($"database", $"table", $"pk", $"op", to_json($"data").as("d"))
        .as[(String, String, String, String, String)].collect().toSet

    writeFile("f1.jsonl", lines.take(5))       // inserts + updates
    runPipeline(s"$tmp/stateA", s"$tmp/ckptA") // run 1, then "crash" (stop)
    writeFile("f2.jsonl", lines.drop(5))       // delete, DDL, poison tail, dup
    runPipeline(s"$tmp/stateA", s"$tmp/ckptA") // restart from SAME checkpoint
    // uninterrupted control over the identical input
    runPipeline(s"$tmp/stateB", s"$tmp/ckptB")
    val a = stateSet(s"$tmp/stateA")
    assert(a === stateSet(s"$tmp/stateB"),
      "restarted store must equal the uninterrupted run")
    assert(a.size === 5) // products{1,2} + users 1 + orders 10 + unknown 99
    assert(!a.exists(r => r._2 == "products" && r._3 == "3")) // tombstone held
    // at-least-once worst case: full replay with a fresh checkpoint into the
    // SAME store — idempotent apply must leave it unchanged
    runPipeline(s"$tmp/stateA", s"$tmp/ckptC")
    assert(stateSet(s"$tmp/stateA") === a, "full replay must be idempotent")
    // snapshot restore point round-trip: export, restore (manifest-checked),
    // diff against the control store — every key unchanged
    val live = spark.read.parquet(s"$tmp/stateA")
    Snapshot.export(live, s"$tmp/snap", Map("source" -> "soak-test"))
    val restored = Snapshot.restore(spark, s"$tmp/snap")
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("k", concat_ws("|", $"database", $"table", $"pk"))
      .withColumn("dataj", to_json($"data"))
    val changes = Snapshot.diff(keyed(restored),
        keyed(spark.read.parquet(s"$tmp/stateB")), "k", Seq("op", "dataj"))
      .groupBy($"change").count().as[(String, Long)].collect().toMap
    assert(changes === Map("unchanged" -> 5L),
      s"snapshot diff vs control must be all-unchanged, got $changes")
  }

  test("S1 Kafka source contract: options mirror the reference consumer config") {
    // No broker (or connector jar) in the sandbox, so the assertable surface
    // is the options map the reader is built from (index.js:26-33 +
    // docker-compose.yml:102). Pin every key so a refactor can't silently
    // drop the replay/backpressure/fetch-size behavior.
    val opts = CdcPipeline.kafkaSourceOptions("kafka:9092")
    assert(opts("kafka.bootstrap.servers") === "kafka:9092")
    assert(opts("subscribe") === "tidb-cdc-events")        // index.js:28
    assert(opts("startingOffsets") === "earliest")         // fromBeginning: true
    assert(opts("maxOffsetsPerTrigger") === "100000")      // bounded recovery batches
    assert(opts("kafka.fetch.message.max.bytes") === "1048576") // 1 MB fetch
    assert(opts.size === 5)
    // overrides flow through
    val o2 = CdcPipeline.kafkaSourceOptions("b:1", topic = "t2", maxOffsetsPerTrigger = 7)
    assert(o2("subscribe") === "t2" && o2("maxOffsetsPerTrigger") === "7")
  }

  test("x10 incremental curation: the new-batch slice through a REAL " +
    "foreachBatch micro-batch lands the batch pipeline's merged census") {
    // the composed dedup -> cluster -> quality -> split pipeline driven as
    // one streaming increment against the persisted standing state (round-15
    // verdict #7): the ingest protocol is a foreachBatch round, the census
    // it emits must equal the batch x10_pipeline on the merged corpus
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val thr = docs.agg(expr("((max(doc_id) + 1) * 4) div 5"))
      .as[Long].head()
    val delta = docs.filter($"doc_id" >= thr)
      .select($"doc_id", $"lang", $"text")
      .as[(Long, String, String)].collect().toSeq
    assert(delta.nonEmpty)
    val mem = MemoryStream[(Long, String, String)]
    val out = scala.collection.mutable.Set.empty[(String, String, Long, Long)]
    val q = mem.toDF().toDF("doc_id", "lang", "text").writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          out ++= graft.queries.CurationQueries
            .incrementalCensus(spark, dir, batch.localCheckpoint())
            .as[(String, String, Long, Long)].collect()
        }
        ()
      }.start()
    mem.addData(delta: _*)
    q.processAllAvailable()
    q.stop()
    val batchCensus = graft.SparkEntry.queries("x10_pipeline")(spark, dir)
      .as[(String, String, Long, Long)].collect().toSet
    assert(out.toSet === batchCensus)
  }

  test("x10 TWO-NIGHT chain through REAL foreachBatch rounds: night 2's " +
    "standing state is EXACTLY night 1's emitted output, every state " +
    "component equals a from-scratch rebuild over the full corpus, and " +
    "the final census equals the batch pipeline (round-17 verdict #3)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    import graft.queries.CurationQueries
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val Seq(thr3, thr4) = Seq(3, 4).map(n =>
      docs.agg(expr(s"((max(doc_id) + 1) * $n) div 5")).as[Long].head())
    def slice(lo: Long, hi: Long) = docs
      .filter($"doc_id" >= lo && $"doc_id" < hi)
      .select($"doc_id", $"lang", $"text")
      .as[(Long, String, String)].collect().toSeq
    val night1 = slice(thr3, thr4)
    val night2 = slice(thr4, Long.MaxValue)
    assert(night1.nonEmpty && night2.nonEmpty)
    // night-0 base: the 3/5 standing state; each foreachBatch round
    // REPLACES the state var with the increment's emitted components —
    // night 2 reads night 1's outputs and nothing else
    var state = CurationQueries.x10StandingStateAt(spark, dir, num = 3)
    var nBatches = 0
    val mem = MemoryStream[(Long, String, String)]
    val q = mem.toDF().toDF("doc_id", "lang", "text").writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          nBatches += 1
          state = CurationQueries.incrementalStateUpdate(state,
            batch.localCheckpoint())
        }
        ()
      }.start()
    mem.addData(night1: _*)
    q.processAllAvailable()
    mem.addData(night2: _*)
    q.processAllAvailable()
    q.stop()
    assert(nBatches === 2, s"expected two nightly micro-batches, got $nBatches")
    // from-scratch rebuild over the FULL corpus (the 5/5 cut): every
    // emitted component must be row-identical — the fixed-point property
    // that makes the nightly loop actually incremental
    val full = CurationQueries.x10StandingStateAt(spark, dir, num = 5)
    def rows(df: DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(rows(state.digests, "sha") === rows(full.digests, "sha"))
    assert(rows(state.reps, "doc_id", "rep") === rows(full.reps, "doc_id", "rep"))
    assert(rows(state.kept, "doc_id", "lang", "split", "n_words") ===
      rows(full.kept, "doc_id", "lang", "split", "n_words"))
    assert(rows(state.census, "lang", "split", "n_docs", "total_words") ===
      rows(full.census, "lang", "split", "n_docs", "total_words"))
    assert(rows(state.shingleIdx.rows, "id", "shingle") ===
      rows(full.shingleIdx.rows, "id", "shingle"))
    assert(rows(state.bandIdx.rows, "id", "band", "band_key") ===
      rows(full.bandIdx.rows, "id", "band", "band_key"))
    // and the chained census equals the batch pipeline entry
    val batchCensus = graft.SparkEntry.queries("x10_pipeline")(spark, dir)
      .as[(String, String, Long, Long)].collect().toSet
    assert(state.census.as[(String, String, Long, Long)].collect().toSet
      === batchCensus)
  }

  test("streaming exact-dedup ingest: batches route against the persisted " +
    "digest index through a REAL foreachBatch, keepers append, per-batch " +
    "compaction bounds the file counts, routing matches the frame-form " +
    "replay, and the final index equals a rebuild") {
    // the exact-dedup twin of the streaming vector-ingest protocol: the
    // nightly classify -> appendDigestIndex -> digestIndex compact loop
    // driven as foreachBatch rounds against the sha-bucketed index
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    import graft.ops.Dedup
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    val idxDir = java.nio.file.Files.createTempDirectory("sha_stream").toString
    val fullDir = java.nio.file.Files.createTempDirectory("sha_stream_full").toString
    try {
      val corpus = docs.filter($"doc_id" % 5 =!= 0)
      Dedup.buildDigestIndex(corpus, "text", idxDir)
      val rows = docs.filter($"doc_id" % 5 === 0)
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      assert(rows.nonEmpty)
      val routed = scala.collection.mutable.Map.empty[Long, String]
      val maxFiles = 2
      val mem = MemoryStream[(Long, String)]
      val q = mem.toDF().toDF("doc_id", "text").writeStream
        .outputMode(OutputMode.Append())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            // the documented startup discipline: every night opens with the
            // crash-recovery sweep, a no-op (0 repaired, no staging
            // residue) whenever the previous night's compaction committed
            assert(Dedup.digestIndex(idxDir).repair(spark) === 0)
            val b = batch.localCheckpoint()
            val c = Dedup.exactIncrementalBucketed(
              Dedup.digestIndex(idxDir).read(spark), b, "text", "doc_id")
              .localCheckpoint()
            routed ++= c.select($"doc_id", $"action")
              .as[(Long, String)].collect()
            Dedup.appendDigestIndex(
              b.join(c.filter($"action" === "keep").select($"doc_id"),
                Seq("doc_id")), "text", idxDir)
            Dedup.digestIndex(idxDir).compact(spark,
              maxFilesPerPartition = maxFiles)
            ()
          }
          ()
        }.start()
      val (b1, b2) = rows.splitAt(rows.size / 2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      q.stop()
      // frame-form replay of the same two nights, no files involved
      def frame(s: Seq[(Long, String)]) = s.toDF("doc_id", "text")
      val r1 = Dedup.exactIncremental(frame(b1), corpus, "text", "doc_id")
        .select($"doc_id", $"action").as[(Long, String)].collect().toMap
      val keepers1 = frame(b1).join(
        r1.filter(_._2 == "keep").keys.toSeq.toDF("doc_id"), Seq("doc_id"))
      val r2 = Dedup.exactIncremental(frame(b2),
          corpus.unionByName(keepers1.select($"doc_id", $"text")),
          "text", "doc_id")
        .select($"doc_id", $"action").as[(Long, String)].collect().toMap
      assert(routed.toMap === (r1 ++ r2))
      // per-bucket file counts stayed bounded by the in-loop compaction
      val perBucket = {
        val st = java.nio.file.Files.walk(java.nio.file.Paths.get(idxDir))
        try st.filter(java.nio.file.Files.isRegularFile(_))
          .filter(p => p.getFileName.toString.startsWith("part-"))
          .toArray.map(_.asInstanceOf[java.nio.file.Path])
          .groupBy(p =>
            java.nio.file.Paths.get(idxDir).relativize(p).getName(0).toString)
          .view.mapValues(_.length).toMap
        finally st.close()
      }
      assert(perBucket.values.forall(_ <= maxFiles),
        s"compaction left over-threshold buckets: $perBucket")
      // final index == rebuild over corpus + all keepers
      val allKeepers = rows.filter(r => routed(r._1) == "keep")
      Dedup.buildDigestIndex(
        corpus.unionByName(frame(allKeepers)), "text", fullDir)
      def shas(d: String) = spark.read.parquet(d)
        .select($"text_sha").as[String].collect().toSet
      assert(shas(idxDir) === shas(fullDir))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(fullDir))
    }
  }

  test("streaming vector ingest: batches append into the persisted IVF " +
    "index through a REAL foreachBatch, per-batch compaction bounds the " +
    "file counts, and the final serve equals a full rebuild") {
    // the vector-side twin of the x10 incremental-ingest protocol: the
    // nightly appendIvfIndexInt + ivfIndex compact maintenance loop
    // driven as foreachBatch rounds against fixed centroids
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    import graft.ops.Similarity
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val idxDir = java.nio.file.Files.createTempDirectory("ivf_stream").toString
    val fullDir = java.nio.file.Files.createTempDirectory("ivf_stream_full").toString
    try {
      val cents = Similarity.writeIvfIndexInt(emb.filter($"vec_id" < 400),
        nLists = 16, path = idxDir)
      val rows = emb.filter($"vec_id" >= 400)
        .select($"vec_id", $"embedding")
        .as[(Long, Seq[Float])].collect().toSeq
      assert(rows.nonEmpty)
      val mem = MemoryStream[(Long, Seq[Float])]
      val maxFiles = 4
      val q = mem.toDF().toDF("vec_id", "embedding").writeStream
        .outputMode(OutputMode.Append())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val b = batch.localCheckpoint()
            Similarity.appendIvfIndexInt(spark, b, cents, idxDir)
            Similarity.ivfIndex(idxDir).compact(spark,
              maxFilesPerPartition = maxFiles)
            ()
          }
          ()
        }.start()
      val (b1, b2) = rows.splitAt(rows.size / 2)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      q.stop()
      // per-batch compaction held the small-file pathology down
      val perList = {
        val st = java.nio.file.Files.walk(java.nio.file.Paths.get(idxDir))
        try st.filter(java.nio.file.Files.isRegularFile(_))
          .filter(p => p.getFileName.toString.startsWith("part-"))
          .toArray.map(_.asInstanceOf[java.nio.file.Path])
          .groupBy(p =>
            java.nio.file.Paths.get(idxDir).relativize(p).getName(0).toString)
          .view.mapValues(_.length).toMap
        finally st.close()
      }
      assert(perList.values.forall(_ <= maxFiles),
        s"compaction left over-threshold lists: $perList")
      // ingest-then-maintain serves bit-identically to a full rebuild
      val centsFull = Similarity.writeIvfIndexInt(emb, nLists = 16,
        path = fullDir)
      def serve(d: String, c: Array[(Long, Array[Long])]) =
        Similarity.ivfTopKFromIndexInt(spark, emb.filter($"vec_id" < 20),
            d, c, k = 5, nProbe = 4)
          .select($"query_id", $"rank", $"neighbor_id", $"list_id", $"d2m")
          .as[(Long, Int, Long, Long, Long)].collect().toSet
      assert(serve(idxDir, cents) === serve(fullDir, centsFull))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(fullDir))
    }
  }
}
