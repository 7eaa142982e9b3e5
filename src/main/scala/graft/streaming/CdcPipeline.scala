package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import org.apache.hadoop.fs.Path
import graft.cdc.{CanalJson, CdcApply}
import graft.tables.BucketedStore

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

  /** Materialized-state sink (CDC apply, §2.5): per micro-batch, upsert the
    * latest image per key into a parquet state dir. The apply is idempotent
    * (latest-by-key is deterministic under duplicate delivery).
    *
    * Incremental by key-hash bucket: state is partitioned by the int
    * `bucket = pmod(hash(database, table, pk), n)` on the envelope-declared
    * key ([[CdcApply.envelopePk]]); each batch reads ONLY the buckets its
    * keys touch and a writer-scoped dynamic partition overwrite rewrites
    * only those directories (the session conf is left alone). Per-batch I/O
    * is the size of the touched buckets, so with few buckets a batch of
    * more than a few keys rewrites the whole store.
    *
    * Layout identity: `hash` is the Murmur3 expression `HashPartitioning`
    * assigns shuffle partitions with, so the ranking exchange
    * `repartition(n, database, table, pk)` sends bucket i to shuffle
    * partition i. Each write task holds exactly one bucket and writes it as
    * ONE file, and the window ranks on that partitioning with no second
    * exchange.
    *
    * Two Spark jobs per data batch on the persisted batch:
    *   1. one grouped aggregate yields both the poison-row count (skip-on-
    *      error, T6 / M4 'error') and the dirty buckets — the only driver-
    *      side collect, ≤ n rows of metadata;
    *   2. read the dirty buckets' prior state, union the clean rows, rank
    *      with [[CdcApply.latestByPk]] (the batch
    *      [[CdcApply.materializeEnvelopeKeyed]] ranking: the bucket is a
    *      function of the key) and write.
    * That count holds for the stateful pipeline (behind [[dedupDelivery]]),
    * where Structured Streaming turns adaptive execution off; with it on,
    * the shuffle stage runs as a job of its own. A batch with no clean rows
    * (a no-data batch, or poison only) runs job 1 alone.
    *
    * Tombstone-only buckets: a dirty bucket whose keys were all deleted
    * gets no output rows and is deleted by the store's
    * [[BucketedStore.overwriteBuckets]], which also defines the replay of a
    * crash between the overwrite commit and that delete.
    *
    * The bucket count `n` is a property of the store, recorded once as
    * `bucket=n` in its `_nbuckets` sidecar and decided before anything is
    * written ([[BucketedStore.open]]); a new store takes the batch
    * session's `spark.sql.shuffle.partitions`, written to the sidecar first.
    * Why the session's parallelism and not a fixed, finer count: a micro-
    * batch of k keys dirties about n·(1 − (1 − 1/n)^k) buckets, and a live
    * feed's batches grow until they absorb the feed's rate over one batch
    * duration (30–110 rows per data batch on `cdc_trickle`), so most of
    * 32 buckets are dirty too (~60 % at 30 keys) and they only add files
    * and tasks. Measured on 4 vCPU with perfbench, median p50 latency:
    * 4 buckets 917 ms vs 32 buckets 1574 ms on `cdc_trickle`; with the
    * store pre-seeded to 134 k keys (9–10 MB), 2303 ms vs 3325 ms.
    *
    * Missing vs corrupt vs old-layout state: only a bucket directory that
    * does not exist means "no prior state". Prior state is read with the
    * known schema (no footer is sampled up front), so an unreadable or
    * corrupt state file fails the write job before its commit and the
    * untouched keys of that bucket stay in the store. An old-layout store
    * fails before any job runs. Every failure is loud and counted
    * (`("materialize", "error")`).
    *
    * No batch-side delivery dedup (the `distinct` of
    * [[CdcApply.dedupDelivery]]): byte-identical rows are interchangeable
    * under `row_number`, so the ranking already collapses them; the
    * streaming [[dedupDelivery]] upstream is what keeps counters exact. */
  def materializeSink(events: DataFrame, statePath: String,
                      checkpoint: String): DataStreamWriter[Row] =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // persist the micro-batch ONCE: an unpersisted batch re-scans the
        // source for each action, and inflates the input-rows health metric
        // by the same factor
        batch.persist()
        try {
          val spark = batch.sparkSession
          val store = stateStore(statePath)
          val n = store.open(spark, spark.conf.get("spark.sql.shuffle.partitions").toInt)
          val isError = CanalJson.processErrorRow(col("data"))
          val keyed = store.withBuckets(batch.withColumn("pk", CdcApply.envelopePk), n)
          val perBucket = keyed.groupBy(col("bucket"))
            .agg(count(when(isError, 1)).as("errors"), count(when(!isError, 1)).as("clean"))
            .collect()
          val nErr = perBucket.map(_.getLong(1)).sum
          if (nErr > 0) PipelineHealth.SinkCounters.inc("materialize", "row_error", nErr)
          val dirty = perBucket.filter(_.getLong(2) > 0).map(_.getInt(0)).sorted
          if (dirty.nonEmpty) {
            val clean = keyed.filter(!isError)
            store.overwriteBuckets(spark, dirty.toSeq, clean.schema) { prior =>
              CdcApply.latestByPk(prior.fold(clean)(clean.unionByName(_))
                .repartition(n, StateKey: _*))
            }
          }
          PipelineHealth.SinkCounters.inc("materialize", "success")
        } catch {
          case e: Throwable =>
            PipelineHealth.SinkCounters.inc("materialize", "error")
            throw e
        } finally batch.unpersist()
        ()
      }

  /** The envelope-declared key the state store buckets and ranks on. */
  private val StateKey = Seq(col("database"), col("table"), col("pk"))

  /** The materialize sink's state store at `dir`: latest images bucketed
    * by `pmod(hash(database, table, pk), n)`, the Murmur3 expression
    * `HashPartitioning` assigns shuffle partitions with. */
  def stateStore(dir: String): BucketedStore =
    BucketedStore(dir, "bucket", n => pmod(hash(StateKey: _*), lit(n)))
}
