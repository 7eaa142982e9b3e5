package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import org.apache.hadoop.fs.Path
import graft.cdc.{CanalJson, CdcApply}

/** The streaming assembly of the CDC engine (SURVEY.md §3.1):
  * source → canal-json parse → validity route → flatten → {event sink,
  * windowed metrics, dead-letter}.
  *
  * The reference runs this as a single-threaded Node consumer with
  * at-least-once delivery (autoCommit 5 s, index.js:351-352) and one ES HTTP
  * call per row (index.js:278-281). Here the same dataflow is one incremental
  * Spark plan: exactly-once to file sinks via checkpoint + batch-id-idempotent
  * writes, batched I/O per micro-batch, N-partition parallelism.
  *
  * All transforms are shared with the batch path ([[CanalJson]]) — the
  * DataFrames returned here work for both `readStream` and `read` inputs.
  */
object CdcPipeline {

  /** Kafka source options mirroring the reference consumer
    * (index.js:26-33: topic tidb-cdc-events, fromBeginning, 1 MB fetch).
    * Exposed as a pure map so the contract is assertable without a broker
    * (no Kafka in the sandbox): StreamingSpec pins every key/value here. */
  def kafkaSourceOptions(bootstrap: String,
                         topic: String = "tidb-cdc-events",
                         maxOffsetsPerTrigger: Long = 100000): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> topic,
    // fromBeginning: true (index.js:30) — replay the full topic on first start
    "startingOffsets" -> "earliest",
    // lag-bounded backpressure: cap rows per micro-batch so recovery after
    // downtime is incremental, not one giant batch
    "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString,
    // fetch.message.max.bytes 1 MB (index.js:32)
    "kafka.fetch.message.max.bytes" -> "1048576")

  /** Kafka source stream built from [[kafkaSourceOptions]]. Offsets live in
    * the checkpoint, not consumer-group commits — this is what upgrades
    * at-least-once to exactly-once. */
  def kafkaSource(spark: SparkSession, bootstrap: String,
                  topic: String = "tidb-cdc-events",
                  maxOffsetsPerTrigger: Long = 100000): DataFrame =
    spark.readStream
      .format("kafka")
      .options(kafkaSourceOptions(bootstrap, topic, maxOffsetsPerTrigger))
      .load()
      .select(col("value").cast("string").as("value"),
              col("partition"), col("offset"))

  /** File-based source of canal-json lines (the test/replay path — S2's
    * stand-in; same wire format, no TiCDC dependency).
    *
    * The offset must be STABLE across task retries and restarts — it feeds
    * the (partition, offset, pos) idempotency key in CdcApply.dedupDelivery.
    * `monotonically_increasing_id()` is not (and is rejected outright in
    * streaming plans), so the offset is derived from the message content:
    * identical redelivered lines collapse to the same key, which is exactly
    * the at-least-once dedup semantics the key exists for. */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.format("text").load(dir)
      .select(col("value"),
        lit(0).as("partition"),
        xxhash64(col("value")).as("offset"))

  /** Valid-branch event stream: parse → filter valid → flatten to the
    * per-row envelope. Works on any (value, partition, offset) frame. */
  def events(raw: DataFrame): DataFrame = CanalJson.events(raw)

  /** Dead-letter branch (T2/T6): parse failures + DDL, classified. */
  def deadLetter(raw: DataFrame): DataFrame = CanalJson.invalid(CanalJson.parse(raw))

  /** M1 streaming twin: running per-(table,op) counts — update-mode
    * aggregation (tidb_cdc_operations_total). */
  def operationCounts(events: DataFrame): DataFrame =
    events.groupBy(col("table"), col("op")).count()

  /** P1 streaming twin: sliding 5-minute windowed rate per (table, op) with
    * a 10-minute watermark bounding state. */
  def windowedRates(events: DataFrame,
                    windowLen: String = "5 minutes",
                    slide: String = "1 minute",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), windowLen, slide), col("table"), col("op"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("table"), col("op"), col("cnt"),
        round(col("cnt") / 300.0, 6).as("rate_per_sec"))

  /** MemoryStream feed row for the keyed-event streams the census entries
    * drive through [[intervalCorrelate]] (p29): key, event identity, exact
    * microsecond event time. */
  case class KeyedEvent(k: Long, id: Long, ts: java.sql.Timestamp)

  /** Stream-stream interval correlation: each left event joined to right
    * events of the same key whose timestamp falls in the trailing
    * `lookback` window (`rightTs ∈ (leftTs - lookback, leftTs]`) — e.g.
    * every apply error correlated with the operations that preceded it.
    * Both sides MUST be watermarked by the caller: the interval condition
    * plus the two watermarks is what lets Spark expire join state, keeping
    * memory bounded on unbounded streams. Inner join by default, so rows
    * emit as soon as both sides arrive — the watermark only bounds state
    * and lateness. With `joinType = "left_outer"` an unmatched left row is
    * null-extended and emitted by the ENGINE once the watermark proves no
    * future right row can match it (rightTs ≤ leftTs, so eviction at
    * watermark > leftTs) — "errors with no preceding operation" as a
    * first-class streaming result instead of a batch subtraction. */
  def intervalCorrelate(left: DataFrame, right: DataFrame,
                        leftKey: String, rightKey: String,
                        leftTs: String, rightTs: String,
                        lookback: String = "10 minutes",
                        joinType: String = "inner"): DataFrame =
    // columns resolve against their own side: self-correlating one stream
    // (both sides keyed 'id', timestamped 'timestamp') would otherwise throw
    // AMBIGUOUS_REFERENCE from the bare col() lookups
    left.join(right,
      left(leftKey) === right(rightKey) &&
        right(rightTs) > left(leftTs) - expr(s"INTERVAL $lookback") &&
        right(rightTs) <= left(leftTs),
      joinType)

  /** At-least-once → effectively-once: drop redelivered wire records by
    * their delivery identity (source partition, offset) with
    * `dropDuplicatesWithinWatermark` — dedup state is keyed by the 16-byte
    * identity (not event payloads) and EXPIRES at the watermark horizon, so
    * state size is bounded by (delay window × ingest rate) regardless of how
    * long the stream runs. The streaming twin of the batch apply's
    * idempotence: upstream Kafka redelivery disappears before any counter
    * or sink sees the row. Place BEFORE metric operators — latest-by-key
    * apply is naturally idempotent, but counters double-count redelivery.
    * `pos` (row index within a multi-row wire envelope) is part of the
    * identity: one redelivered record flattens to N rows that share
    * (partition, offset) and must all survive exactly once. */
  def dedupDelivery(events: DataFrame, eventTime: String = "timestamp",
                    delay: String = "10 minutes"): DataFrame =
    events.withWatermark(eventTime, delay)
      .dropDuplicatesWithinWatermark("partition", "offset", "pos")

  /** Event-store sink (the ES-index analog, S3): parquet partitioned by
    * (table, day) — the partition layout that prunes at 100 TB. */
  def eventStoreSink(events: DataFrame, path: String, checkpoint: String): DataStreamWriter[Row] =
    events
      .withColumn("event_date", to_date(col("timestamp")))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("table", "event_date")
      .trigger(Trigger.ProcessingTime("5 seconds")) // ES refresh_interval analog

  /** Event-store retention (the ES index-lifecycle analog): drop leaf
    * partitions whose `event_date` is strictly before `keepFrom`. Pure
    * partition-directory surgery over bounded metadata (#tables × #days)
    * through the Hadoop FileSystem API — no data scan, no rewrite; expired
    * days disappear the same way partition pruning skips them. Returns the
    * dropped partition paths for the caller's audit log. */
  def expireStorePartitions(spark: SparkSession, path: String,
                            keepFrom: java.time.LocalDate): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Seq.empty
    for {
      tableDir <- fs.listStatus(root).toSeq
      if tableDir.isDirectory && tableDir.getPath.getName.startsWith("table=")
      dayDir <- fs.listStatus(tableDir.getPath).toSeq
      if dayDir.isDirectory && dayDir.getPath.getName.startsWith("event_date=")
      day = java.time.LocalDate.parse(
        dayDir.getPath.getName.stripPrefix("event_date="))
      if day.isBefore(keepFrom)
    } yield {
      fs.delete(dayDir.getPath, true)
      s"${tableDir.getPath.getName}/${dayDir.getPath.getName}"
    }
  }

  /** Small-file compaction for a partitioned parquet store — the standing
    * maintenance job every streaming sink needs: a micro-batch trigger
    * writes one file per partition PER BATCH, so a (table, day) leaf
    * accumulates thousands of files and listing/open cost starts to
    * dominate scans long before data size does. Rewrites the store to
    * `dest` with `filesPerPartition` files per leaf (deterministic salt
    * from `saltCol`, so re-runs produce identical layout), preserving the
    * partition columns and therefore the pruning behavior. One shuffle,
    * keyed on (partition cols, salt); no driver-side data. Writing to a
    * fresh dest + atomic swap is the caller's orchestration — in-place
    * rewrite of a live store is not defined here on purpose. */
  def compactStore(spark: SparkSession, src: String, dest: String,
                   partitionCols: Seq[String], saltCol: String,
                   filesPerPartition: Int = 1): Unit = {
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    val df = spark.read.parquet(src)
    val keys = partitionCols.map(col) :+
      pmod(xxhash64(col(saltCol)), lit(filesPerPartition.toLong))
    df.repartition(keys: _*)
      .write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(dest)
  }

  /** Materialized-state sink (CDC apply, §2.5): per micro-batch, upsert the
    * latest image per key into a parquet state dir. The apply is idempotent
    * (latest-by-key is deterministic under duplicate delivery).
    *
    * Incremental by key-hash bucket: state is partitioned by
    * `bucket = pmod(xxhash64(database, table, pk), nBuckets)` on the
    * envelope-declared key ([[CdcApply.envelopePk]]); each batch reads ONLY
    * the buckets its keys touch and a writer-scoped dynamic partition
    * overwrite rewrites only those directories (the session conf is left
    * alone). Per-batch I/O is O(touched state), not O(total state).
    *
    * One pass, three Spark jobs per data batch on the persisted batch:
    *   1. one grouped aggregate yields both the poison-row count (skip-on-
    *      error, T6 / M4 'error') and the dirty buckets — the only driver-
    *      side collect, ≤ nBuckets rows of metadata;
    *   2. the ranking: prior state of the dirty buckets unioned with the
    *      clean rows, ONE exchange on `bucket`, then the latest-image window
    *      partitioned by (bucket, database, table, pk), persisted; the job
    *      collects the surviving buckets. The bucket is a function of the
    *      key, so the ranking is the batch
    *      [[CdcApply.materializeEnvelopeKeyed]] ranking;
    *   3. the write, from the cached ranking. Each task owns whole buckets:
    *      ONE file per dirty bucket per batch. Dynamic overwrite never
    *      touches a partition with no output rows, so a dirty bucket whose
    *      keys were ALL tombstoned (dirty, not surviving) is deleted
    *      explicitly.
    * That count holds for the stateful pipeline (behind [[dedupDelivery]]),
    * where Structured Streaming turns adaptive execution off; with it on,
    * each shuffle stage runs as a job of its own.
    * A batch with no clean rows (a no-data batch, or poison only) runs job 1
    * alone.
    *
    * No batch-side delivery dedup (the `distinct` of
    * [[CdcApply.dedupDelivery]]): byte-identical rows are interchangeable
    * under `row_number`, so the ranking already collapses them; the
    * streaming [[dedupDelivery]] upstream is what keeps counters exact.
    *
    * Missing vs corrupt state: only a bucket directory that does not exist
    * means "no prior state". Prior state is read with the known schema (no
    * footer is sampled up front), so an unreadable or corrupt state file
    * fails the ranking job: the batch fails loudly
    * (`("materialize", "error")`) before anything is written, and the
    * untouched keys of that bucket stay in the store. */
  def materializeSink(events: DataFrame, statePath: String, checkpoint: String,
                      nBuckets: Int = 32): DataStreamWriter[Row] =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // persist the micro-batch ONCE: an unpersisted batch re-scans the
        // source for each action, and inflates the input-rows health metric
        // by the same factor
        batch.persist()
        try {
          val spark = batch.sparkSession
          val isError = CanalJson.processErrorRow(col("data"))
          val keyed = batch
            .withColumn("pk", CdcApply.envelopePk)
            .withColumn("bucket",
              pmod(xxhash64(col("database"), col("table"), col("pk")), lit(nBuckets)))
          val perBucket = keyed.groupBy(col("bucket"))
            .agg(count(when(isError, 1)).as("errors"), count(when(!isError, 1)).as("clean"))
            .collect()
          val nErr = perBucket.map(_.getLong(1)).sum
          if (nErr > 0) PipelineHealth.SinkCounters.inc("materialize", "row_error", nErr)
          val dirty = perBucket.filter(_.getLong(2) > 0).map(_.getLong(0)).toSet
          if (dirty.nonEmpty) {
            val root = new Path(statePath)
            val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
            def bucketDir(b: Long) = new Path(root, s"bucket=$b")
            val clean = keyed.filter(!isError)
            val prevDirs = dirty.toSeq.sorted.map(bucketDir).filter(fs.exists)
            val merged =
              if (prevDirs.isEmpty) clean
              else clean.unionByName(spark.read.schema(clean.schema)
                .option("basePath", statePath).parquet(prevDirs.map(_.toString): _*))
            val materialized = CdcApply.latestByPk(
              merged.repartition(col("bucket")), Seq(col("bucket"))).persist()
            try {
              // ranks once and fills the cache the write then reads; the
              // write invalidates cached plans over statePath, so this must
              // come first or it would re-rank from the new files
              val remaining = materialized.select("bucket").distinct()
                .collect().map(_.getLong(0)).toSet
              materialized.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket").parquet(statePath)
              (dirty -- remaining).foreach(b => fs.delete(bucketDir(b), true))
            } finally materialized.unpersist()
          }
          PipelineHealth.SinkCounters.inc("materialize", "success")
        } catch {
          case e: Throwable =>
            PipelineHealth.SinkCounters.inc("materialize", "error")
            throw e
        } finally batch.unpersist()
        ()
      }
}
