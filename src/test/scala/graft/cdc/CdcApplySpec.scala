package graft.cdc

import graft.SparkSpec
import graft.cdc.CdcFrames.withPkNames
import org.apache.spark.sql.functions._

/** CDC apply/materialization semantics (SURVEY.md §2.5 W1-W7): the
  * materialized state after replaying the fixture must equal what the SQL
  * workload leaves in TiDB. */
class CdcApplySpec extends SparkSpec {
  import spark.implicits._

  lazy val events = CanalJson.events(CanalJson.fixtureRaw(spark)).cache()
  lazy val state = CdcApply.materializeEnvelopeKeyed(events).cache()

  test("W2 latest-image-wins: product 1 shows the updated price") {
    val p1 = state.filter($"table" === "products" && $"pk" === "1")
      .select(element_at($"data", "price")).as[String].collect()
    assert(p1.toSeq === Seq("165.00"))
  }

  test("W5 tombstone: deleted product 3 absent from state") {
    assert(state.filter($"table" === "products" && $"pk" === "3").count() === 0)
  }

  test("W4 state transition: order 10 ends completed") {
    val o = state.filter($"table" === "orders" && $"pk" === "10")
      .select(element_at($"data", "status")).as[String].collect()
    assert(o.toSeq === Seq("completed"))
  }

  test("W2'' envelope-keyed materialize: composite pkNames keys rank per " +
    "(order_id, line_no); missing pkNames falls back to id") {
    // two lines of one order + an update to line 2 only; keying on
    // order_id alone would collapse the lines to one survivor
    def line(json: String, off: Long) = (json, 0, off)
    val rows = Seq(
      line("""{"data":[{"order_id":"1","line_no":"1","qty":"5"}],"old":null,"type":"INSERT","table":"t","database":"d","es":1704067200000,"isDdl":false,"pkNames":["order_id","line_no"]}""", 1L),
      line("""{"data":[{"order_id":"1","line_no":"2","qty":"7"}],"old":null,"type":"INSERT","table":"t","database":"d","es":1704067200001,"isDdl":false,"pkNames":["order_id","line_no"]}""", 2L),
      line("""{"data":[{"order_id":"1","line_no":"2","qty":"9"}],"old":[{"qty":"7"}],"type":"UPDATE","table":"t","database":"d","es":1704067200002,"isDdl":false,"pkNames":["order_id","line_no"]}""", 3L),
      // fixture-style single-key envelope WITHOUT pkNames: falls back to id
      line("""{"data":[{"id":"42","v":"a"}],"old":null,"type":"INSERT","table":"u","database":"d","es":1704067200003,"isDdl":false}""", 4L))
    val raw = rows.toDF("value", "partition", "offset")
    val st = CdcApply.materializeEnvelopeKeyed(CanalJson.events(raw))
    val t = st.filter($"table" === "t")
      .select(element_at($"data", "line_no"), element_at($"data", "qty"))
      .as[(String, String)].collect().toSet
    assert(t === Set(("1", "5"), ("2", "9")),
      s"composite keys must keep both lines with line 2 updated, got $t")
    val u = st.filter($"table" === "u").select($"pk").as[String].collect()
    assert(u.toSeq === Seq("42"), "pkNames-less envelope must key on id")
  }

  test("composite pkNames with no id cell: every operator keys per " +
    "(order_id, line_no); the bigint-keyed maintainers fail loudly") {
    import org.apache.spark.sql.DataFrame
    // 3 keys inserted at ONE commit, two of them in one multi-row envelope:
    // an operator that keys on the absent `id` cell sees one null key
    val es = 1704067200000L
    def line(o: Int, l: Int) =
      s"""{"order_id":"$o","line_no":"$l","qty":"${10 * o + l}","status":"open"}"""
    def envelope(rows: Seq[String], off: Long) = (s"""{"data":[${rows.mkString(",")}],""" +
      s""""old":null,"type":"INSERT","table":"lines","database":"d","es":$es,""" +
      s""""isDdl":false,"pkNames":["order_id","line_no"]}""", 0, off)
    val ev = CanalJson.events(Seq(envelope(Seq(line(1, 1), line(1, 2)), 1L),
      envelope(Seq(line(2, 1)), 2L)).toDF("value", "partition", "offset")).cache()
    val keys = Seq("1\u00011", "1\u00012", "2\u00011")
    def pks(df: DataFrame) = df.select($"pk").as[String].collect().toSeq.sorted
    val perKey = Seq(
      "materializeEnvelopeKeyed" -> CdcApply.materializeEnvelopeKeyed(ev),
      "stateAsOf" -> CdcApply.stateAsOf(ev, es),
      "compactLog" -> CdcApply.compactLog(ev),
      "backfillMerge" -> CdcApply.backfillMerge(CdcApply.stateAsOf(ev, es), ev),
      "scd2" -> CdcApply.scd2(ev, "status"))
    perKey.foreach { case (op, df) =>
      assert(pks(df) === keys, s"$op must return one row per key")
    }
    assert(CdcApply.maintainCounts(ev, "status").as[(String, Long)].collect().toSeq ===
      Seq("open" -> 3L), "maintainCounts must count every key's insert")
    val noRows = Seq.empty[(Long, Long, Long)].toDF("pk", "fk", "m")
    val failing = Seq[(String, () => DataFrame)](
      "maintainJoinAgg" -> (() => CdcApply.maintainJoinAgg(
        Seq.empty[(String, Long, Long)].toDF("status", "sum_measure", "n_facts"),
        Seq.empty[(Long, Long, Long)].toDF("fk", "sum_m", "n"), noRows,
        Seq.empty[(Long, String)].toDF("pk", "attr"), ev, ev.limit(0),
        "qty", "qty", "status")),
      "maintainMax" -> (() => CdcApply.maintainMax(
        Seq.empty[(String, Long)].toDF("status", "max_measure"),
        noRows.withColumnRenamed("fk", "g").withColumn("g", $"g".cast("string")),
        ev, "status", "qty")))
    failing.foreach { case (op, run) =>
      val e = intercept[Exception](run().collect())
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(messages.exists(_.contains("CAST_INVALID_INPUT")),
        s"$op must fail the bigint key cast, got $e")
    }
    ev.unpersist()
    ()
  }

  test("W8''' maintainSums: group-move UPDATE shifts mass, DELETE needs no " +
    "rescan, count-0 group vanishes") {
    // key 1: INSERT g=a,m=5 then UPDATE moves it to g=b with m=7 (old
    // carries BOTH changed cells — the full-delta path: −5@a, +7@b);
    // key 2: INSERT g=a,m=3 then UPDATE changes ONLY m to 4 (old carries
    // just m — the coalesce path must charge −3 and +4 to the SAME group);
    // key 3: INSERT g=c,m=9 then DELETE (−9@c) — group c nets count 0 and
    // must vanish even though other groups survive.
    def line(json: String, off: Long) = (json, 0, off)
    val rows = Seq(
      line("""{"data":[{"id":"1","g":"a","m":"5"}],"old":null,"type":"INSERT","table":"t","database":"d","es":1704067200000,"isDdl":false}""", 1L),
      line("""{"data":[{"id":"1","g":"b","m":"7"}],"old":[{"g":"a","m":"5"}],"type":"UPDATE","table":"t","database":"d","es":1704067200001,"isDdl":false}""", 2L),
      line("""{"data":[{"id":"2","g":"a","m":"3"}],"old":null,"type":"INSERT","table":"t","database":"d","es":1704067200002,"isDdl":false}""", 3L),
      line("""{"data":[{"id":"2","g":"a","m":"4"}],"old":[{"m":"3"}],"type":"UPDATE","table":"t","database":"d","es":1704067200003,"isDdl":false}""", 4L),
      line("""{"data":[{"id":"3","g":"c","m":"9"}],"old":null,"type":"INSERT","table":"t","database":"d","es":1704067200004,"isDdl":false}""", 5L),
      line("""{"data":[{"id":"3","g":"c","m":"9"}],"old":null,"type":"DELETE","table":"t","database":"d","es":1704067200005,"isDdl":false}""", 6L),
      // redelivery of key 1's UPDATE at a NEW coordinate: logical-identity
      // dedup must keep the deltas single-applied
      line("""{"data":[{"id":"1","g":"b","m":"7"}],"old":[{"g":"a","m":"5"}],"type":"UPDATE","table":"t","database":"d","es":1704067200001,"isDdl":false}""", 7L))
    val v = CdcApply.maintainSums(
        CanalJson.events(rows.toDF("value", "partition", "offset")), "g", "m")
      .as[(String, Long, Long)].collect()
      .map { case (g, s, n) => g -> (s, n) }.toMap
    assert(v === Map("a" -> (4L, 1L), "b" -> (7L, 1L)),
      s"expected a=(4,1) b=(7,1) and c vanished, got $v")
  }

  test("idempotent under at-least-once duplicate delivery") {
    // fixture contains the same UPDATE twice (offsets 4-dup); replaying the
    // whole log twice must give identical state
    val doubled = CdcApply.materializeEnvelopeKeyed(events.unionAll(events))
    val a = state.select($"table", $"pk", to_json($"data").as("d")).orderBy("table", "pk")
      .as[(String, String, String)].collect().toSeq
    val b = doubled.select($"table", $"pk", to_json($"data").as("d")).orderBy("table", "pk")
      .as[(String, String, String)].collect().toSeq
    assert(a === b)
  }

  test("out-of-order arrival: materialized state independent of input order") {
    // a real log consumer sees events in offset order per partition, but a
    // backfill/repartition can arrive in ANY order — materialize ranks by
    // (event time, offset), so arrival order must not matter. Scramble the
    // arrival order (hash sort + repartition) and require identical state.
    val scrambled = CdcApply.materializeEnvelopeKeyed(
      events.repartition(7).sortWithinPartitions(xxhash64($"offset", $"pos")))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"table", $"pk", $"op", to_json($"data").as("d"))
        .orderBy("table", "pk").as[(String, String, String, String)]
        .collect().toSeq
    assert(canon(scrambled) === canon(state))
  }

  test("W4 transitions audit: pending→completed captured with old image") {
    val tr = CdcApply.transitions(events, "status")
      .select($"pk", $"old_status", $"new_status")
      .distinct().as[(String, String, String)].collect()
    assert(tr.toSeq === Seq(("10", "pending", "completed")))
  }

  test("users row intact with sha2 password (W3 replay)") {
    val u = state.filter($"table" === "users" && $"pk" === "1")
      .select(element_at($"data", "password")).as[String].head()
    assert(u.length === 64 && u.matches("[0-9a-f]+"))
  }

  test("W9 scd2: change compression, tombstone close, post-delete re-open") {
    // minimal flattened-event frame (scd2 touches only these 7 columns):
    // insert a → no-change update (compressed) → update b → delete →
    // re-insert b, plus a redelivered copy of the b-update at a new offset
    val rows = Seq(
      (1000L, "insert", 10L, "a"),
      (2000L, "update", 20L, "a"), // same value — must NOT open a version
      (3000L, "update", 30L, "b"),
      (3000L, "update", 99L, "b"), // redelivery at a new kafka offset
      (4000L, "delete", 40L, "b"),
      (5000L, "insert", 50L, "b")) // same value as before the delete
    val e = withPkNames(rows.toDF("ms", "op", "offset", "v").select(
      timestamp_millis($"ms").as("timestamp"), lit("db").as("database"),
      lit("t").as("table"), $"op", $"offset",
      map(lit("id"), lit("1"), lit("status"), $"v").as("data")))
    val out = CdcApply.scd2(e, "status")
      .select($"version", $"status", $"valid_from_ms", $"valid_to_ms",
        $"is_current")
      .orderBy($"version").as[(Long, String, Long, Long, Long)].collect()
    assert(out.toSeq === Seq(
      (1L, "a", 1000L, 3000L, 0L),  // closed by the value change, not the
                                    // compressed no-change update
      (2L, "b", 3000L, 4000L, 0L),  // closed by the tombstone
      (3L, "b", 5000L, -1L, 1L)))   // re-opened after the delete, current
  }

  test("W9' scd2Merge: incremental == full rebuild at every cutover") {
    val rows = Seq(
      (1000L, "insert", 10L, "a"),
      (2000L, "update", 20L, "a"),
      (3000L, "update", 30L, "b"),
      (4000L, "delete", 40L, "b"),
      (5000L, "insert", 50L, "b"))
    val e = withPkNames(rows.toDF("ms", "op", "offset", "v").select(
      timestamp_millis($"ms").as("timestamp"), lit("db").as("database"),
      lit("t").as("table"), $"op", $"offset",
      map(lit("id"), lit("1"), lit("status"), $"v").as("data")))
    val full = CdcApply.scd2(e, "status")
      .orderBy("pk", "version")
      .as[(String, String, String, Long, String, Long, Long, Long)]
      .collect().toSeq
    // every cutover position: before anything, between each event, after all
    for (cut <- Seq(500L, 1500L, 2500L, 3500L, 4500L, 5500L)) {
      val merged = CdcApply.scd2Merge(
          CdcApply.scd2(e.filter(unix_millis($"timestamp") <= cut), "status"),
          e.filter(unix_millis($"timestamp") > cut), "status")
        .orderBy("pk", "version")
        .as[(String, String, String, Long, String, Long, Long, Long)]
        .collect().toSeq
      assert(merged === full, s"cutover at $cut diverged from full rebuild")
    }
  }

  test("W10 backfill merge: overlapping replay lands on plain materialize") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"table", $"pk", $"op", to_json($"data").as("d"))
        .orderBy("table", "pk").as[(String, String, String, String)]
        .collect().toSeq
    // cutover mid-fixture: snapshot = state as of T, then merge with the
    // FULL stream (pre-T events overlap the snapshot)
    val cutover = events.agg(min(unix_millis($"timestamp"))).as[Long].head() + 1
    val snap = CdcApply.stateAsOf(events, cutover)
    val merged = CdcApply.backfillMerge(snap, events)
    assert(canon(merged) === canon(state))
    // resurrection check: product 3 is tombstoned — replaying its INSERT
    // over the snapshot must not bring it back
    assert(merged.filter($"table" === "products" && $"pk" === "3").count() === 0)
  }

  test("W8 delta maintenance == recompute from materialized state") {
    val orders = events.filter($"table" === "orders")
    val maintained = CdcApply.maintainCounts(orders, "status")
      .as[(String, Long)].collect().toMap
    val recomputed = CdcApply.materializeEnvelopeKeyed(orders)
      .select(element_at($"data", "status")).as[String].collect()
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(maintained === recomputed) // pending nets to 0; completed survives
    assert(maintained === Map("completed" -> 1L))
  }

  test("W8'' maintainMax: dirty-group recompute == full recompute at every cutover") {
    import org.apache.spark.sql.DataFrame
    // the non-invertible horror cases: delete of a group's max (k1), group
    // move of a max (k2), max decrease in place (k3), group emptied (all of
    // g=a leaves), late insert into a fresh group, redelivery
    val rows = Seq(
      (1000L, "insert", 10L, 1L, "a", 10L),
      (1100L, "insert", 11L, 2L, "a", 7L),
      (1200L, "insert", 12L, 3L, "b", 5L),
      (2000L, "delete", 20L, 1L, "a", 10L),  // a's max dies → runner-up 7
      (2100L, "update", 21L, 2L, "b", 9L),   // a's last row moves to b
      (2100L, "update", 91L, 2L, "b", 9L),   // redelivery, new offset
      (2200L, "insert", 22L, 4L, "c", 3L),
      (2500L, "update", 23L, 3L, "b", 1L),   // in-place decrease
      (2600L, "delete", 24L, 2L, "b", 9L))   // b's max dies → left with 1
    val e = withPkNames(rows.toDF("ms", "op", "offset", "id", "g", "m").select(
      timestamp_millis($"ms").as("timestamp"), lit("db").as("database"),
      lit("t").as("table"), $"op", $"offset",
      map(lit("id"), $"id".cast("string"), lit("g"), $"g",
        lit("m"), $"m".cast("string")).as("data"),
      lit(0).as("partition"), lit(0).as("pos")))
    def snap(ev: DataFrame) = CdcApply.materializeEnvelopeKeyed(ev)
      .select($"pk".cast("bigint").as("pk"),
        element_at($"data", "g").as("g"),
        element_at($"data", "m").cast("bigint").as("m"))
    def viewOf(s0: DataFrame) = s0.groupBy($"g").agg(max($"m").as("max_measure"))
    def canon(df: DataFrame) = df.orderBy("g")
      .as[(String, Long)].collect().toSeq
    val expected = canon(viewOf(snap(e)))
    assert(expected === Seq(("b", 1L), ("c", 3L))) // a emptied entirely
    for (cut <- Seq(500L, 1500L, 2050L, 2150L, 2250L, 2550L, 3000L)) {
      val pre = snap(e.filter(unix_millis($"timestamp") <= cut))
      val got = CdcApply.maintainMax(viewOf(pre), pre,
        e.filter(unix_millis($"timestamp") > cut), "g", "m")
      assert(canon(got) === expected, s"cutover $cut")
    }
  }

  test("log compaction: net op per key; replay-equivalent to the full log") {
    // k1 ins→upd→upd ⇒ INSERT(final) · k2 ins→del ⇒ nothing ·
    // k3 upd→upd ⇒ UPDATE(final, first old) · k4 del→ins ⇒ UPDATE(null old) ·
    // k5 del ⇒ DELETE · k6 ins (+redelivered coordinate) ⇒ INSERT
    val rows = Seq(
      (1000L, "insert", 10L, "1", "a", None),
      (2000L, "update", 20L, "1", "b", Some("a")),
      (3000L, "update", 30L, "1", "c", Some("b")),
      (1000L, "insert", 11L, "2", "x", None),
      (2000L, "delete", 21L, "2", "x", None),
      (1000L, "update", 12L, "3", "m", Some("l")),
      (2000L, "update", 22L, "3", "n", Some("m")),
      (1000L, "delete", 13L, "4", "d", None),
      (2000L, "insert", 23L, "4", "e", None),
      (1000L, "delete", 14L, "5", "z", None),
      (1000L, "insert", 15L, "6", "q", None))
    val e = withPkNames(rows.toDF("ms", "op", "offset", "id", "v", "old").select(
      timestamp_millis($"ms").as("timestamp"), lit("db").as("database"),
      lit("t").as("table"), $"op", $"offset",
      map(lit("id"), $"id", lit("val"), $"v").as("data"),
      when($"old".isNotNull, map(lit("val"), $"old"))
        .otherwise(lit(null).cast("map<string,string>")).as("old_data"),
      lit(0).as("partition"), lit(0).as("pos")))
    val dup = e.filter($"offset" === 15L).withColumn("offset", lit(95L))
    // byte-identical redeliveries (same coordinate) of first and last
    // events: the windows see the copies, the net effect must not
    val redelivered = e.filter($"offset".isin(10L, 12L, 22L, 13L))
    val c = CdcApply.compactLog(e.unionByName(dup).unionByName(redelivered))
      .select($"pk", $"op", element_at($"data", "val").as("v"),
        element_at($"old_data", "val").as("old"))
      .orderBy($"pk").as[(String, String, String, Option[String])].collect()
    assert(c.toSeq === Seq(
      ("1", "insert", "c", None),
      ("3", "update", "n", Some("l")),
      ("4", "update", "e", None),
      ("5", "delete", "z", None),
      ("6", "insert", "q", None)))
    // replay equivalence on the embedded canal-json fixture
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"table", $"pk", to_json($"data").as("d"))
        .orderBy("table", "pk").as[(String, String, String)].collect().toSeq
    assert(canon(CdcApply.materializeEnvelopeKeyed(CdcApply.compactLog(events))) ===
      canon(state))
    // compaction is idempotent: compacting the compacted log is a no-op
    val once = CdcApply.compactLog(events)
    assert(canon(CdcApply.materializeEnvelopeKeyed(CdcApply.compactLog(once))) === canon(state))
  }

  test("W8' maintainJoinAgg: incremental == recompute at every cutover") {
    import org.apache.spark.sql.DataFrame
    // facts: measure change, fk move, delete, dangling-fk insert, redelivery
    val factRows = Seq(
      (1000L, "insert", 10L, 1L, 1L, 5L),
      (1100L, "insert", 11L, 2L, 1L, 3L),
      (1200L, "insert", 12L, 3L, 2L, 7L),
      (2000L, "update", 20L, 1L, 1L, 10L), // qty change
      (2100L, "update", 21L, 2L, 2L, 3L),  // fk move 1→2
      (2100L, "update", 91L, 2L, 2L, 3L),  // redelivery, new offset
      (2200L, "delete", 22L, 3L, 2L, 7L),
      (2300L, "insert", 23L, 4L, 3L, 4L))  // dangling fk (dim 3 comes later)
    // dims: attr change, delete, late insert for the dangling fk, re-insert
    val dimRows = Seq(
      (900L, "insert", 50L, 1L, "a"),
      (950L, "insert", 51L, 2L, "b"),
      (2500L, "update", 52L, 1L, "b"),
      (2600L, "delete", 53L, 2L, "b"),
      (2700L, "insert", 54L, 3L, "a"),
      (2800L, "insert", 55L, 2L, "c")) // resurrects dim 2 in a new group
    val fe = withPkNames(factRows.toDF("ms", "op", "offset", "id", "pid", "qty").select(
      timestamp_millis($"ms").as("timestamp"), lit("db").as("database"),
      lit("orders").as("table"), $"op", $"offset",
      map(lit("id"), $"id".cast("string"), lit("product_id"), $"pid".cast("string"),
        lit("quantity"), $"qty".cast("string")).as("data"),
      lit(0).as("partition"), lit(0).as("pos")))
    val de = withPkNames(dimRows.toDF("ms", "op", "offset", "id", "cat").select(
      timestamp_millis($"ms").as("timestamp"), lit("db").as("database"),
      lit("products").as("table"), $"op", $"offset",
      map(lit("id"), $"id".cast("string"), lit("category"), $"cat").as("data"),
      lit(0).as("partition"), lit(0).as("pos")))

    def factSnap(e: DataFrame) = CdcApply.materializeEnvelopeKeyed(e)
      .select($"pk".cast("bigint").as("pk"),
        element_at($"data", "product_id").cast("bigint").as("fk"),
        element_at($"data", "quantity").cast("bigint").as("m"))
    def dimSnap(e: DataFrame) = CdcApply.materializeEnvelopeKeyed(e)
      .select($"pk".cast("bigint").as("pk"),
        element_at($"data", "category").as("attr"))
    def recompute(f: DataFrame, d: DataFrame) =
      f.join(d.select($"pk".as("fk"), $"attr"), Seq("fk"))
        .groupBy($"attr".as("category"))
        .agg(sum($"m").as("sum_measure"), count(lit(1)).as("n_facts"))
    def canon(df: DataFrame) = df.orderBy("category")
      .as[(String, Long, Long)].collect().toSeq

    val expected = canon(recompute(factSnap(fe), dimSnap(de)))
    for (cut <- Seq(800L, 1500L, 2050L, 2250L, 2550L, 2650L, 2750L, 3000L)) {
      def pre(e: DataFrame) = e.filter(unix_millis($"timestamp") <= cut)
      def post(e: DataFrame) = e.filter(unix_millis($"timestamp") > cut)
      val f0 = factSnap(pre(fe))
      val d0 = dimSnap(pre(de))
      val measureByFk = f0.groupBy($"fk")
        .agg(sum($"m").as("sum_m"), count(lit(1)).as("n"))
      val got = CdcApply.maintainJoinAgg(
        recompute(f0, d0), measureByFk, f0, d0, post(fe), post(de),
        "product_id", "quantity", "category")
      assert(canon(got) === expected, s"cutover $cut")
    }
  }

  test("dedupDelivery entries-array carrier: collapses exact coordinate " +
    "duplicates, maps survive byte-identical (incl. null old_data), " +
    "column order preserved") {
    // round-20 internals change: the maps cross the dedup as entry arrays
    // (map_entries -> distinct -> map_from_entries) so the aggregate
    // hashes instead of SortAggregate-ing first(map) buffers — this pins
    // the carrier's roundtrip against the old keyed-dropDuplicates
    // semantics on a crafted frame with every payload edge: null old_data,
    // empty data, multi-entry maps, and a redelivered coordinate.
    val rows = Seq(
      (ts(1L), "d", "t", "insert", Map("id" -> "1", "v" -> "a"),
        Option.empty[Map[String, String]], 0, 10L, 0),
      // exact redelivery of the row above (same coordinate, same bytes)
      (ts(1L), "d", "t", "insert", Map("id" -> "1", "v" -> "a"),
        Option.empty[Map[String, String]], 0, 10L, 0),
      (ts(2L), "d", "t", "update", Map("id" -> "1", "v" -> "b", "w" -> "x"),
        Some(Map("v" -> "a")), 0, 11L, 0),
      (ts(3L), "d", "t", "delete", Map.empty[String, String],
        Some(Map("v" -> "b")), 1, 5L, 2))
      .toDF("timestamp", "database", "table", "op", "data", "old_data",
        "partition", "offset", "pos")
    val got = CdcApply.dedupDelivery(rows)
    val want = rows.dropDuplicates(Seq("partition", "offset", "pos"))
    assert(got.columns.toSeq === rows.columns.toSeq,
      "carrier must restore the original column order")
    assert(got.schema("data").dataType === rows.schema("data").dataType,
      "carrier must restore the map type")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"offset", $"pos", to_json(struct(df.columns.map(col): _*)))
      .as[(Long, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(canon(got) === canon(want),
      "entries-array dedup must equal keyed dropDuplicates row-for-row")
    assert(got.count() === 3, "the redelivered coordinate must collapse")
  }

  test("dedupDelivery divergent-payload redelivery: DECLARED behavior is " +
    "both rows survive (contract violation surfaces, never a silent pick)") {
    // Round-20 verdict #5 / ADVICE: the all-columns distinct rides on the
    // byte-identical-redelivery contract (a redelivered coordinate is the
    // SAME physical row). This pins what happens when an upstream VIOLATES
    // it — two rows at one coordinate with DIFFERENT payload bytes:
    //   - declared outcome: BOTH rows survive the dedup (they are distinct
    //     tuples), so the violation propagates as a visible duplicate
    //     coordinate downstream instead of the pre-round-20 silent
    //     arbitrary keep-one, which would mask the producer bug;
    //   - the invariant a healthy feed satisfies — rows out == distinct
    //     coordinates — is asserted on the compliant subset.
    // If a future round changes the declared outcome, this test is the
    // contract document to update alongside the dedupDelivery scaladoc.
    val rows = Seq(
      (ts(1L), "d", "t", "insert", Map("id" -> "1", "v" -> "a"),
        Option.empty[Map[String, String]], 0, 10L, 0),
      // REDELIVERY AT THE SAME COORDINATE with divergent bytes (v=b!=a):
      // a contract-violating producer
      (ts(1L), "d", "t", "insert", Map("id" -> "1", "v" -> "b"),
        Option.empty[Map[String, String]], 0, 10L, 0),
      // a compliant byte-identical redelivery elsewhere, for contrast
      (ts(2L), "d", "t", "insert", Map("id" -> "2", "v" -> "c"),
        Option.empty[Map[String, String]], 0, 11L, 0),
      (ts(2L), "d", "t", "insert", Map("id" -> "2", "v" -> "c"),
        Option.empty[Map[String, String]], 0, 11L, 0))
      .toDF("timestamp", "database", "table", "op", "data", "old_data",
        "partition", "offset", "pos")
    val got = CdcApply.dedupDelivery(rows).cache()
    assert(got.count() === 3,
      "divergent payloads at one coordinate must BOTH survive; the " +
        "compliant redelivery must collapse")
    assert(got.filter($"offset" === 10L).count() === 2,
      "the violated coordinate carries a VISIBLE duplicate")
    val coords = got.select("partition", "offset", "pos").distinct().count()
    assert(coords === 2 && got.count() > coords,
      "rows out exceeding distinct coordinates is exactly the loud " +
        "signature a contract-violating producer must leave")
    got.unpersist()
    ()
  }

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000)
}
