package graft.cdc

import graft.functions.BatchTime
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canal-json CDC envelope parsing — the reference consumer's per-event
  * dataflow (node-consumer/index.js:235-333) re-expressed as one declarative
  * Spark plan that works identically on batch DataFrames and streaming
  * micro-batches.
  *
  * Reference semantics reproduced exactly:
  *   - parse: `JSON.parse(message.value)` (index.js:241) → `from_json` in
  *     PERMISSIVE mode; malformed JSON yields a null struct instead of an
  *     exception (the reference's per-message try/catch, index.js:316-332).
  *   - validate/route: valid iff `data` is a JSON array (index.js:244). DDL
  *     events carry no `data` array and land in the invalid branch ("DDL
  *     events ignored by consumer, counted as invalid_format", README).
  *   - flatten: one output event per element of `data` (index.js:245) —
  *     `posexplode`, because the old-image zip below needs the position.
  *   - old-image zip: `old[i]` pairs with `data[i]` positionally
  *     (index.js:255 — JS `indexOf` on an object reference is positional
  *     identity; a value-based join would corrupt duplicate rows).
  *   - envelope: epoch-ms `es` → timestamp with processing-time fallback,
  *     database/table defaults 'testdb'/'unknown', lowercased op, kafka
  *     partition/offset provenance, sql passthrough (index.js:246-259).
  *
  * Scale posture: everything here is per-row narrow work (no shuffle); at
  * 100 TB it pipelines inside whole-stage codegen behind whatever source
  * (Kafka, files) feeds it.
  */
object CanalJson {

  /** Canal-json envelope schema (SURVEY.md §1.4). Cell values arrive as
    * strings (canal-json convention), so `data`/`old` are arrays of
    * string→string maps. */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("data", ArrayType(MapType(StringType, StringType)), nullable = true),
    StructField("old", ArrayType(MapType(StringType, StringType)), nullable = true),
    StructField("type", StringType, nullable = true),
    StructField("table", StringType, nullable = true),
    StructField("database", StringType, nullable = true),
    StructField("es", LongType, nullable = true),
    StructField("ts", LongType, nullable = true),
    StructField("isDdl", BooleanType, nullable = true),
    StructField("sql", StringType, nullable = true),
    StructField("pkNames", ArrayType(StringType), nullable = true),
    StructField("mysqlType", MapType(StringType, StringType), nullable = true),
  ))

  /** Parse-time schema: envelope + corrupt-record capture. PERMISSIVE
    * `from_json` yields an all-null struct (not a null struct) for malformed
    * input, so parse failures are only detectable via
    * `columnNameOfCorruptRecord` — `_corrupt_record` holds the raw text of
    * any line that failed to parse. */
  val parseSchema: StructType = envelopeSchema.add("_corrupt_record", StringType)

  /** Flattened per-row event schema produced by [[flatten]] (FIXTURES.md
    * §A.3; ES mapping index.js:200-211). */
  val eventColumns: Seq[String] = Seq(
    "timestamp", "database", "table", "operation", "op",
    "data", "old_data", "sql", "partition", "offset", "pos")

  /** Stage 1 — parse raw message text into the envelope struct. Input needs a
    * `value` string column (Kafka value or file line); `partition`/`offset`
    * provenance columns are passed through if present, else nulled. */
  def parse(raw: DataFrame): DataFrame = {
    val withProv = Seq("partition" -> "int", "offset" -> "bigint")
      .foldLeft(raw) { case (df, (c, t)) =>
        if (df.columns.contains(c)) df else df.withColumn(c, lit(null).cast(t))
      }
    withProv.withColumn("parsed",
      from_json(col("value").cast("string"), parseSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")))
  }

  /** Validity predicate: the reference accepts a message iff `data` is an
    * array (index.js:244). Malformed JSON parses to a struct whose only
    * non-null field is `_corrupt_record` — its `data` is null, so one null
    * check covers the parse-error and DDL/format branches. */
  def isValid: Column = col("parsed").isNotNull && col("parsed.data").isNotNull

  /** Dead-letter branch (T2/T6): messages that failed parse or carry no
    * `data` array, classified for the M4/M5 counters. */
  def invalid(parsed: DataFrame): DataFrame =
    parsed.filter(!isValid)
      .select(
        col("value"),
        col("partition"), col("offset"),
        when(col("parsed").isNull || col("parsed._corrupt_record").isNotNull, "parse_error")
          .when(col("parsed.isDdl") === true || col("parsed.sql").isNotNull, "ddl")
          .otherwise("invalid_format").as("reason"))

  /** Stage 2 — flatten valid envelopes into one row per changed row, with the
    * positional old-image zip and the full output envelope.
    *
    * No explicit `filter(isValid)`: posexplode (outer = false) emits zero
    * rows for a null `data` — exactly the validity predicate — and an
    * explicit filter is actively harmful, because predicate pushdown
    * substitutes the `parsed` alias into the Filter and the (non-codegen)
    * from_json then re-parses every message 2 extra times per row. The
    * optimizer's InferFiltersFromGenerate re-creates that same filter, so
    * engine sessions exclude it (see Bench/Verify builders); the parse then
    * runs exactly once per message. */
  def flatten(parsed: DataFrame): DataFrame =
    parsed
      .select(col("parsed"), col("partition"), col("offset"),
              posexplode(col("parsed.data")).as(Seq("pos", "row_data")))
      .select(
        // es is epoch ms (index.js:250); fallback = processing time, kept
        // out of the generated source so a batch compiles no new class
        coalesce(timestamp_millis(col("parsed.es")), BatchTime.now).as("timestamp"),
        coalesce(col("parsed.database"), lit("testdb")).as("database"),
        coalesce(col("parsed.table"), lit("unknown")).as("table"),
        col("parsed.type").as("operation"),
        lower(col("parsed.type")).as("op"),
        col("row_data").as("data"),
        // old[i] for data[i]; element_at is 1-based
        when(col("parsed.old").isNotNull, element_at(col("parsed.old"), col("pos") + 1))
          .otherwise(lit(null)).as("old_data"),
        col("parsed.sql").as("sql"),
        // the envelope's own key declaration (canal-json pkNames) — what
        // CdcApply.envelopePk keys every row on, incl. composite keys
        col("parsed.pkNames").as("pk_names"),
        col("partition"), col("offset"),
        // row index within the message: with (partition, offset) it is the
        // unique physical coordinate of this flattened event — the
        // idempotency key for at-least-once dedup (CdcApply.dedupDelivery)
        col("pos"))

  /** parse + flatten in one call (the valid branch of the pipeline). */
  def events(raw: DataFrame): DataFrame = flatten(parse(raw))

  /** M4/M5 'error' — per-row runtime-error predicate: a payload cell that is
    * present but not a well-formed number where the upstream DDL declares
    * DECIMAL (products.price, schema.sql:8). This is the deterministic batch
    * analog of the reference's per-message runtime failure (index.js:327
    * counts `status='error'` when indexing throws; the consumer skips the
    * message and continues). A regex, not a cast: Spark 4's ANSI mode makes
    * a failing cast throw instead of yielding null. */
  def processErrorRow(data: Column): Column =
    element_at(data, "price").isNotNull &&
      !element_at(data, "price").rlike("^-?[0-9]+(\\.[0-9]+)?$")

  /** [[processErrorRow]] lifted to the parsed (pre-flatten) message: the
    * reference classifies status per kafka message, so one bad row poisons
    * its whole envelope. */
  def processError: Column =
    exists(col("parsed.data"), m => processErrorRow(m))

  /** A valid-envelope message whose payload fails processing — parses and
    * validates, then errors downstream (the M4 'error' branch that the clean
    * fixture never takes). Kept OUT of [[fixtureLines]] so the parse/apply
    * queries keep their shapes; the M4 and health-surface queries append it
    * explicitly. */
  val poisonLine: String =
    """{"data":[{"id":"666","name":"Poison","price":"not-a-number","stock":"1"}],"old":null,"type":"INSERT","table":"products","database":"testdb","es":1704067400000,"isDdl":false,"sql":null,"pkNames":["id"]}"""

  /** Per-table typed view: project map-typed `data` into typed columns per an
    * upstream DDL schema (T7 payload typing; DECIMAL stays DecimalType —
    * money never silently becomes double). */
  def typedView(events: DataFrame, table: String, schema: StructType): DataFrame = {
    val cols = schema.fields.map { f =>
      element_at(col("data"), f.name).cast(f.dataType).as(f.name)
    }
    events.filter(col("table") === table)
      .select(col("timestamp") +: col("op") +: col("offset") +: cols.toSeq: _*)
  }

  /** Upstream table schemas (sql/schema.sql:4-32). */
  val productsSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("price", DecimalType(10, 2)),
    StructField("stock", IntegerType),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType)))

  val ordersSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("user_id", LongType),
    StructField("product_id", LongType),
    StructField("quantity", IntegerType),
    StructField("total_price", DecimalType(10, 2)),
    StructField("status", StringType),
    StructField("created_at", TimestampType)))

  /** Embedded canal-json fixture replaying the reference's test workload
    * (run_test.sh:30-84 + sql/seed.sql) — multi-row INSERT, UPDATE with old
    * images, status transition, DELETE, DDL, malformed line, missing-es,
    * missing-table, duplicate delivery. Self-contained so driver queries need
    * no external fixture file. */
  val fixtureLines: Seq[(String, Int, Long)] = {
    val lines = Seq(
      // seed multi-row INSERT (seed.sql:3-7)
      """{"data":[{"id":"1","name":"Laptop Stand","description":"Adjustable aluminum","price":"150.00","stock":"30"},{"id":"2","name":"USB Hub","description":"7-port","price":"45.50","stock":"50"},{"id":"3","name":"Webcam Cover","description":"Slider","price":"5.99","stock":"8"}],"old":null,"type":"INSERT","table":"products","database":"testdb","es":1704067200000,"ts":1704067200100,"isDdl":false,"sql":null,"pkNames":["id"]}""",
      // users INSERT with sha2'd password (run_test.sh:48-52)
      """{"data":[{"id":"1","username":"user1","password":"0b14d501a594442a01c6859541bcb3e8164d183d32937b851835442f69d5c94e","email":"user1@example.com"}],"old":null,"type":"INSERT","table":"users","database":"testdb","es":1704067210000,"isDdl":false,"sql":null,"pkNames":["id"]}""",
      // UPDATE with positional old images (run_test.sh:41-43: price*1.10 where stock>20)
      """{"data":[{"id":"1","name":"Laptop Stand","price":"165.00","stock":"30"},{"id":"2","name":"USB Hub","price":"50.05","stock":"50"}],"old":[{"price":"150.00"},{"price":"45.50"}],"type":"UPDATE","table":"products","database":"testdb","es":1704067260000,"isDdl":false,"sql":null,"pkNames":["id"]}""",
      // orders INSERT then status transition (run_test.sh:66-68)
      """{"data":[{"id":"10","user_id":"1","product_id":"2","quantity":"2","total_price":"91.00","status":"pending"}],"old":null,"type":"INSERT","table":"orders","database":"testdb","es":1704067300000,"isDdl":false,"sql":null,"pkNames":["id"]}""",
      """{"data":[{"id":"10","user_id":"1","product_id":"2","quantity":"2","total_price":"91.00","status":"completed"}],"old":[{"status":"pending"}],"type":"UPDATE","table":"orders","database":"testdb","es":1704067320000,"isDdl":false,"sql":null,"pkNames":["id"]}""",
      // predicate DELETE (run_test.sh:73-75: stock < 10)
      """{"data":[{"id":"3","name":"Webcam Cover","price":"5.99","stock":"8"}],"old":null,"type":"DELETE","table":"products","database":"testdb","es":1704067380000,"isDdl":false,"sql":null,"pkNames":["id"]}""",
      // DDL — no data array → invalid_format branch
      """{"data":null,"old":null,"type":"CREATE","table":"products","database":"testdb","es":1704067000000,"isDdl":true,"sql":"CREATE TABLE products (id BIGINT PRIMARY KEY)","pkNames":null}""",
      // malformed JSON → parse_error branch
      """not-json{{{""",
      // missing es → processing-time fallback; missing table/database → defaults
      """{"data":[{"id":"99","name":"Mystery","price":"1.00","stock":"1"}],"old":null,"type":"INSERT","isDdl":false,"sql":null}""",
      // duplicate delivery of the completed-order UPDATE (at-least-once replay)
      """{"data":[{"id":"10","user_id":"1","product_id":"2","quantity":"2","total_price":"91.00","status":"completed"}],"old":[{"status":"pending"}],"type":"UPDATE","table":"orders","database":"testdb","es":1704067320000,"isDdl":false,"sql":null,"pkNames":["id"]}""",
    )
    lines.zipWithIndex.map { case (l, i) => (l, 0, i.toLong) }
  }

  /** The embedded fixture as a raw (value, partition, offset) DataFrame —
    * stands in for the Kafka source in batch tests and driver queries. */
  def fixtureRaw(s: SparkSession): DataFrame = {
    import s.implicits._
    fixtureLines.toDF("value", "partition", "offset")
  }
}
