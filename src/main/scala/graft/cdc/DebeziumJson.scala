package graft.cdc

import graft.functions.BatchTime
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium-JSON wire-format source — the OTHER major open CDC envelope
  * (Kafka Connect's `io.debezium` connectors with
  * `value.converter.schemas.enable=false`), normalized to the SAME event
  * schema [[CanalJson.flatten]] produces, so every downstream apply /
  * maintenance / routing operator ([[CdcApply]], the W-family) composes
  * unchanged. A user of the reference whose upstream ships Debezium instead
  * of canal-json switches the source stage and keeps the pipeline.
  *
  * Envelope mapping (Debezium's documented semantics → the normalized
  * contract):
  *   - `op`: `c` (create) and `r` (snapshot read) → `insert`; `u` →
  *     `update`; `d` → `delete`. The raw op char is kept in `operation`
  *     for provenance.
  *   - row image: `after` for c/u/r; for `d` the image rides `before`
  *     (Debezium deletes have `after = null`) — normalized into `data`
  *     either way, which is exactly what the apply primitives expect of a
  *     tombstone (the key + last image in `data`).
  *   - `old_data`: `before` on updates. Debezium ships the FULL before
  *     image where canal-json ships changed cells only — strictly more
  *     information, and the maintenance operators' coalesce contract
  *     ([[CdcApply.maintainSums]]) is unaffected.
  *   - `timestamp`: `source.ts_ms` (the upstream commit time) over the
  *     envelope's own `ts_ms` (connector processing time) over
  *     processing-time fallback — same precedence idea as canal's `es`.
  *   - one envelope = ONE row change (no `data` array), so `pos = 0` and
  *     (partition, offset) alone are the physical delivery coordinate for
  *     [[CdcApply.dedupDelivery]].
  *   - `pk_names` is null: Debezium declares the key on the Kafka KEY
  *     struct, not the value envelope, so envelope-keyed materialization
  *     falls back to the `id` payload cell ([[CdcApply.envelopePk]]).
  *
  * Plan shape: the parsed struct crosses an `explode(array(...))` generator
  * barrier before any predicate touches its fields — the [[CanalJson]]
  * lesson: a filter directly over `from_json` gets the parse substituted
  * into the predicate and re-parses every message per referenced field
  * (engine sessions also exclude `InferFiltersFromGenerate`, which would
  * plant such a filter under the generate). */
object DebeziumJson {

  val parseSchema: StructType = StructType(Seq(
    StructField("before", MapType(StringType, StringType)),
    StructField("after", MapType(StringType, StringType)),
    StructField("source", StructType(Seq(
      StructField("db", StringType),
      StructField("table", StringType),
      StructField("ts_ms", LongType)))),
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("_corrupt_record", StringType)))

  /** Stage 1 — parse raw message text; `partition`/`offset` provenance
    * passed through if present, else nulled (the [[CanalJson.parse]]
    * contract). The generator barrier materializes each message's parse
    * exactly once. */
  def parse(raw: DataFrame): DataFrame = {
    val withProv = Seq("partition" -> "int", "offset" -> "bigint")
      .foldLeft(raw) { case (df, (c, t)) =>
        if (df.columns.contains(c)) df else df.withColumn(c, lit(null).cast(t))
      }
    withProv
      .withColumn("parsed",
        from_json(col("value").cast("string"), parseSchema,
          Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt_record")))
      .select(col("value"), col("partition"), col("offset"),
        explode(array(col("parsed"))).as("p"))
  }

  private val knownOps = Seq("c", "u", "d", "r")

  /** Validity: a known op char and a row image on the side that op uses. */
  def isValid: org.apache.spark.sql.Column =
    col("p").isNotNull && col("p._corrupt_record").isNull &&
      col("p.op").isin(knownOps: _*) &&
      when(col("p.op") === "d", col("p.before").isNotNull)
        .otherwise(col("p.after").isNotNull)

  /** Dead-letter branch: Kafka log-compaction tombstones (null value after
    * a delete — a CONTRACT message, not an error) classified apart from
    * parse errors and unknown/schema-change envelopes. */
  def invalid(parsed: DataFrame): DataFrame =
    parsed.filter(!isValid)
      .select(col("value"), col("partition"), col("offset"),
        when(col("value").isNull, "compaction_tombstone")
          .when(col("p").isNull || col("p._corrupt_record").isNotNull,
            "parse_error")
          .otherwise("invalid_format").as("reason"))

  /** Stage 2 — normalize valid envelopes to the [[CanalJson.eventColumns]]
    * schema (+ `pk_names`), one row per envelope. */
  def flatten(parsed: DataFrame): DataFrame =
    parsed.filter(isValid)
      .select(
        coalesce(timestamp_millis(col("p.source.ts_ms")),
          timestamp_millis(col("p.ts_ms")), BatchTime.now).as("timestamp"),
        coalesce(col("p.source.db"), lit("testdb")).as("database"),
        coalesce(col("p.source.table"), lit("unknown")).as("table"),
        col("p.op").as("operation"),
        when(col("p.op") === "u", "update")
          .when(col("p.op") === "d", "delete")
          .otherwise("insert").as("op"),
        when(col("p.op") === "d", col("p.before")).otherwise(col("p.after"))
          .as("data"),
        when(col("p.op") === "u", col("p.before"))
          .otherwise(lit(null).cast(MapType(StringType, StringType)))
          .as("old_data"),
        lit(null).cast(StringType).as("sql"),
        lit(null).cast(ArrayType(StringType)).as("pk_names"),
        col("partition"), col("offset"),
        lit(0).as("pos"))

  /** parse + flatten in one call (the valid branch of the pipeline). */
  def events(raw: DataFrame): DataFrame = flatten(parse(raw))
}
