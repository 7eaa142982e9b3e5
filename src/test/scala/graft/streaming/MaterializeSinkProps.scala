package graft.streaming

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.cdc.{CanalJson, CdcApply}

/** Property test: the incremental [[CdcPipeline.materializeSink]] store after
  * K micro-batches equals the batch [[CdcApply.materializeEnvelopeKeyed]]
  * over the concatenated feed (poison rows skipped, as the sink does). The
  * feed carries byte-identical redeliveries within and across batches,
  * composite `pkNames`, the `id` fallback, deletes and poison rows — the
  * sink ranks without a delivery `distinct`, and this pins that it needs
  * none. */
object MaterializeSinkProps extends Properties("MaterializeSink") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6) // each trial runs a 3-batch stream

  private lazy val spark = graft.SparkSpec.session

  case class Msg(table: String, id: Int, line: Int, op: String, es: Long,
                 price: String, declared: Boolean)

  private val genMsg: Gen[Msg] = for {
    table <- Gen.oneOf("products", "lineitem")
    id <- Gen.choose(1, 4)
    line <- Gen.choose(1, 2)
    op <- Gen.frequency(5 -> "INSERT", 3 -> "UPDATE", 2 -> "DELETE")
    es <- Gen.choose(0L, 30L)
    price <- Gen.frequency(9 -> Gen.choose(1, 999).map(c => s"$c.00"),
      1 -> Gen.const("n/a")) // poison: fails processErrorRow
    declared <- Gen.oneOf(true, false)
  } yield Msg(table, id, line, op, es, price, declared)

  /** One single-row canal-json envelope. `lineitem` declares the composite
    * (order_id, line_no) key; `products` declares `id` or leaves the key to
    * the `id` fallback. */
  private def wire(m: Msg): String = {
    val (data, pkNames) =
      if (m.table == "lineitem")
        (s"""{"order_id":"${m.id}","line_no":"${m.line}","price":"${m.price}"}""",
          """["order_id","line_no"]""")
      else (s"""{"id":"${m.id}","price":"${m.price}"}""",
        if (m.declared) """["id"]""" else "null")
    s"""{"data":[$data],"old":null,"type":"${m.op}","table":"${m.table}",""" +
      s""""database":"testdb","es":${1704067200000L + m.es},"isDdl":false,""" +
      s""""sql":null,"pkNames":$pkNames}"""
  }

  private def key(m: Msg): (String, Int, Int) =
    (m.table, m.id, if (m.table == "lineitem") m.line else 0)

  /** K = 3 batches of fresh messages, each followed by redeliveries of its
    * own lines and of lines from earlier batches. Each batch's `es` values
    * lie above every earlier batch's (in-order across batches, any order
    * within one), and a non-delete line is redelivered across batches only
    * while its key has no earlier DELETE: the store keeps no tombstones, so
    * an image older than an applied delete would come back — the stateful
    * [[CdcPipeline.dedupDelivery]] in front of the sink is what drops such
    * redeliveries. */
  private val genFeed: Gen[Seq[Seq[String]]] = for {
    fresh <- Gen.listOfN(3, Gen.listOfN(8, genMsg))
    within <- Gen.listOfN(3, Gen.choose(0, 3))
    across <- Gen.listOfN(3, Gen.choose(0, 4))
  } yield {
    val msgs = fresh.zipWithIndex.map { case (ms, i) => ms.map(m => m.copy(es = m.es + 100L * i)) }
    msgs.indices.map { i =>
      val earlier = msgs.take(i).flatten
      val deleted = earlier.filter(_.op == "DELETE").map(key).toSet
      val replay = earlier.filter(m => m.op == "DELETE" || !deleted(key(m))).takeRight(across(i))
      (msgs(i) ++ msgs(i).take(within(i)) ++ replay).map(wire)
    }
  }

  private def rows(df: DataFrame): Seq[(String, String, String, String, String, Long, Long)] =
    df.select(col("database"), col("table"), col("pk"), col("op"),
        to_json(col("data")), unix_micros(col("timestamp")), col("offset"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getLong(5), r.getLong(6)))
      .sorted

  property("sink store after K micro-batches == materializeEnvelopeKeyed over the feed") =
    // no shrinking: every trial is a streaming run of its own
    // the parallelism is the new store's bucket count
    forAllNoShrink(genFeed, Gen.oneOf(1, 4)) { (feed, parallelism) =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val tmp = java.nio.file.Files.createTempDirectory("graft_sink_prop").toString
      val mem = MemoryStream[String]
      val raw = mem.toDF()
        .withColumn("partition", lit(0)).withColumn("offset", xxhash64(col("value")))
      graft.SparkSpec.withShufflePartitions(parallelism) {
        val q = CdcPipeline.materializeSink(CdcPipeline.events(raw),
          s"$tmp/state", s"$tmp/ckpt").start()
        try feed.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        finally q.stop()
      }
      val batchRaw = feed.flatten.toDF("value")
        .withColumn("partition", lit(0)).withColumn("offset", xxhash64(col("value")))
      val expected = CdcApply.materializeEnvelopeKeyed(
        CanalJson.events(batchRaw).filter(!CanalJson.processErrorRow(col("data"))))
      val got = rows(spark.read.parquet(s"$tmp/state"))
      val want = rows(expected)
      (got == want) :| (s"parallelism=$parallelism, feed:\n" +
        feed.map(_.mkString("\n")).mkString("\n--\n") +
        s"\nonly in the sink: ${got.diff(want)}\nonly in the batch: ${want.diff(got)}")
    }
}
