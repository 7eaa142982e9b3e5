package graft.streaming

import graft.functions.BatchTime
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Log-shipping source (SURVEY.md S6 — docker/filebeat.yml:1-18): the
  * reference ships docker JSON container logs to the search store; here the
  * same dataflow is a text stream → JSON parse → level/component extraction
  * → the shared event-store sink.
  *
  * Docker's json-file driver writes one JSON object per line:
  * `{"log":"...\n","stream":"stdout","time":"2024-01-01T00:00:00.0Z"}`.
  * The level/component extraction mirrors what filebeat processors would
  * tag; malformed lines survive as `level = UNKNOWN` (T6 skip-on-error).
  */
object LogShipping {

  val dockerLogSchema: StructType = StructType(Seq(
    StructField("log", StringType, nullable = true),
    StructField("stream", StringType, nullable = true),
    StructField("time", StringType, nullable = true)))

  /** Streaming source: a directory of docker json-file logs. */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.format("text").load(dir)

  /** Parse + enrich: works identically on batch and streaming frames
    * (same contract as [[graft.cdc.CanalJson]]). */
  def parse(raw: DataFrame): DataFrame =
    raw
      .withColumn("j", from_json(col("value"), dockerLogSchema))
      .select(
        coalesce(to_timestamp(col("j.time")), BatchTime.now).as("ts"),
        coalesce(col("j.stream"), lit("unknown")).as("stream"),
        coalesce(col("j.log"), col("value")).as("log"))
      .withColumn("level",
        when(regexp_extract(col("log"), "\\b(ERROR|WARN|INFO|DEBUG)\\b", 1) === "",
          "UNKNOWN")
          .otherwise(regexp_extract(col("log"), "\\b(ERROR|WARN|INFO|DEBUG)\\b", 1)))
      .withColumn("component",
        when(regexp_extract(col("log"), "\\[([a-z-]+)\\]", 1) === "", "unknown")
          .otherwise(regexp_extract(col("log"), "\\[([a-z-]+)\\]", 1)))

  /** Embedded fixture: the reference consumer's own log shapes
    * (node-consumer/index.js logging: startup, per-event, error paths). */
  val fixtureLines: Seq[String] = Seq(
    """{"log":"INFO [consumer] connected to kafka brokers\n","stream":"stdout","time":"2024-01-01T00:00:00.000Z"}""",
    """{"log":"INFO [consumer] processed event table=products op=insert\n","stream":"stdout","time":"2024-01-01T00:00:01.000Z"}""",
    """{"log":"INFO [consumer] processed event table=orders op=update\n","stream":"stdout","time":"2024-01-01T00:00:02.000Z"}""",
    """{"log":"WARN [elasticsearch] index latency above 500ms\n","stream":"stderr","time":"2024-01-01T00:00:03.000Z"}""",
    """{"log":"ERROR [elasticsearch] index failed: connection reset\n","stream":"stderr","time":"2024-01-01T00:00:04.000Z"}""",
    """{"log":"DEBUG [metrics] scrape served in 2ms\n","stream":"stdout","time":"2024-01-01T00:00:05.000Z"}""",
    """plain non-json line from a misconfigured container""",
  )

  def fixtureRaw(s: SparkSession): DataFrame = {
    import s.implicits._
    fixtureLines.toDF("value")
  }

  /** S6' — MULTILINE log reassembly (filebeat `multiline.negate/match:
    * after` semantics): a continuation line (one that does NOT match the
    * event-start predicate — stack-trace frames, wrapped messages) folds
    * into the preceding start line's event. Without this, every Java/Node
    * stack frame indexes as its own "event" and error counting is garbage —
    * the single most common log-pipeline bug.
    *
    * Input contract: (container, ts, line_no, log) where `line_no` is the
    * within-container physical order (a file offset / Kafka coordinate in
    * production). Event id = running count of start lines per container
    * (one prefix-sum window), then one grouped fold rebuilds each event:
    * first_ts, line count, and the message joined in line order
    * (`array_sort` over (line_no, log) structs — deterministic on any
    * engine). Orphan continuations before the first start line are dropped,
    * as filebeat does. Scale: one shuffle on the container key; real
    * deployments key by (host, file) so the prefix sum never sees a global
    * order — the fixture's 5 containers are the worst-case skew, not the
    * design point. */
  def reassembleMultiline(lines: DataFrame, isStart: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("container")).orderBy(col("line_no"))
    lines
      .withColumn("evt", sum(when(isStart, 1L).otherwise(0L)).over(w))
      .filter(col("evt") > 0)
      .groupBy(col("container"), col("evt"))
      .agg(min(col("ts")).as("first_ts"),
        count(lit(1)).as("n_lines"),
        array_join(transform(
          array_sort(collect_list(struct(col("line_no"), col("log")))),
          s => s.getField("log")), "\n").as("message"))
  }
}
