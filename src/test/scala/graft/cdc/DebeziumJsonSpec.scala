package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Envelope-mapping contract of [[DebeziumJson]] against hand-written wire
  * lines — the Debezium-documented semantics the normalizer must preserve
  * so the downstream apply primitives see canal-equivalent events. */
class DebeziumJsonSpec extends SparkSpec {
  import spark.implicits._

  private val lines: Seq[(String, Int, Long)] = Seq(
    // create: image on `after`, no before
    ("""{"before":null,"after":{"id":"1","status":"pending"},"source":{"db":"testdb","table":"orders","ts_ms":1704067200000},"op":"c","ts_ms":1704067200500}""", 0, 0L),
    // snapshot read: must normalize to insert like `c`
    ("""{"before":null,"after":{"id":"2","status":"pending"},"source":{"db":"testdb","table":"orders","ts_ms":1704067200001},"op":"r","ts_ms":1704067200501}""", 0, 1L),
    // update: FULL before image
    ("""{"before":{"id":"1","status":"pending"},"after":{"id":"1","status":"done"},"source":{"db":"testdb","table":"orders","ts_ms":1704067200010},"op":"u","ts_ms":1704067200510}""", 0, 2L),
    // delete: image rides `before`, after is null
    ("""{"before":{"id":"2","status":"pending"},"after":null,"source":{"db":"testdb","table":"orders","ts_ms":1704067200020},"op":"d","ts_ms":1704067200520}""", 0, 3L),
    // no source block: db/table default, envelope ts_ms is the time fallback
    ("""{"before":null,"after":{"id":"3","status":"x"},"op":"c","ts_ms":1704067200600}""", 0, 4L),
    // unknown op -> invalid_format
    ("""{"before":null,"after":{"id":"9"},"source":{"db":"d","table":"t","ts_ms":1},"op":"z","ts_ms":2}""", 0, 5L),
    // malformed -> parse_error
    ("not-json{{{", 0, 6L),
    // Kafka log-compaction tombstone -> its own dead-letter class
    (null.asInstanceOf[String], 0, 7L))

  private lazy val raw = lines.toDF("value", "partition", "offset")
  private lazy val parsed = DebeziumJson.parse(raw)
  private lazy val events = DebeziumJson.events(raw).cache()

  test("op mapping: c and r both normalize to insert; u/d map to update/delete") {
    val ops = events.select($"offset", $"operation", $"op")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(ops === Seq((0L, "c", "insert"), (1L, "r", "insert"),
      (2L, "u", "update"), (3L, "d", "delete"), (4L, "c", "insert")))
  }

  test("row image: after for c/u/r, BEFORE for d; old_data only on update") {
    val del = events.filter($"op" === "delete")
      .select(element_at($"data", "id"), element_at($"data", "status"),
        $"old_data".isNull)
      .as[(String, String, Boolean)].head()
    assert(del === (("2", "pending", true)))
    val upd = events.filter($"op" === "update")
      .select(element_at($"data", "status"), element_at($"old_data", "status"))
      .as[(String, String)].head()
    assert(upd === (("done", "pending")))
    assert(events.filter($"op" === "insert" && $"old_data".isNotNull).count() === 0)
  }

  test("timestamp precedence: source.ts_ms over envelope ts_ms; envelope " +
      "fallback when source is absent; defaults for db/table") {
    val t = events.select($"offset", unix_millis($"timestamp"))
      .as[(Long, Long)].collect().toMap
    assert(t(0L) === 1704067200000L) // source commit time, not 1704067200500
    assert(t(4L) === 1704067200600L) // no source block -> envelope ts_ms
    val row = events.filter($"offset" === 4)
      .select($"database", $"table").as[(String, String)].head()
    assert(row === (("testdb", "unknown")))
  }

  test("dead-letter routing: tombstone / parse error / unknown op classified") {
    val bad = DebeziumJson.invalid(parsed)
      .select($"offset", $"reason").as[(Long, String)].collect().toMap
    assert(bad === Map(5L -> "invalid_format", 6L -> "parse_error",
      7L -> "compaction_tombstone"))
  }

  test("the apply primitive runs unchanged on the normalized feed") {
    val state = CdcApply.materializeEnvelopeKeyed(events)
      .select(element_at($"data", "id"), element_at($"data", "status"))
      .as[(String, String)].collect().toSet
    // id 1 updated to done, id 2 tombstoned, id 3 inserted
    assert(state === Set(("1", "done"), ("3", "x")))
  }
}
