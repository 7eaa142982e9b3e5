package graft.cdc

import java.sql.Timestamp
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.cdc.CdcFrames.withPkNames

/** Property tests (SURVEY.md §5.2): CDC materialization equals a naive
  * sequential replay for arbitrary event sequences, and is idempotent under
  * at-least-once duplicate delivery. */
object CdcApplyProps extends Properties("CdcApply") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15) // each trial runs Spark jobs; keep it tight

  private lazy val spark = graft.SparkSpec.session

  case class Ev(table: String, pk: String, op: String, es: Long, offset: Long,
                price: String)

  private val genEv: Gen[Ev] = for {
    table <- Gen.oneOf("products", "orders")
    pk <- Gen.choose(1, 5).map(_.toString)
    op <- Gen.frequency(5 -> "insert", 3 -> "update", 2 -> "delete")
    es <- Gen.choose(0L, 40L)
    price <- Gen.choose(1, 999).map(c => s"$c.00")
  } yield Ev(table, pk, op, es, 0L, price)

  /** Build a DataFrame in the CanalJson.events envelope shape, declaring
    * `pkNames` (none by default: the `id` fallback). */
  private def toEvents(evs: Seq[Ev],
                       pkNames: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    withPkNames(evs.map { e =>
      (new Timestamp(e.es * 1000), "testdb", e.table, e.op.toUpperCase, e.op,
        Map("id" -> e.pk, "price" -> e.price), Option.empty[Map[String, String]],
        Option.empty[String], 0, e.offset, 0)
    }.toDF("timestamp", "database", "table", "operation", "op",
      "data", "old_data", "sql", "partition", "offset", "pos"), pkNames)
  }

  /** Naive replay: last event per key by (es, offset) wins; delete removes. */
  private def naive(evs: Seq[Ev]): Map[(String, String), (String, String)] =
    evs.groupBy(e => (e.table, e.pk))
      .view.mapValues(_.maxBy(e => (e.es, e.offset)))
      .collect { case (k, last) if last.op != "delete" => k -> (last.op, last.price) }
      .toMap

  private def materialized(evs: Seq[Ev],
                           pkNames: Seq[String] = Nil): Map[(String, String), (String, String)] = {
    import org.apache.spark.sql.functions._
    CdcApply.materializeEnvelopeKeyed(toEvents(evs, pkNames))
      .select(col("table"), col("pk"), col("op"),
        element_at(col("data"), "price").as("price"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getString(2), r.getString(3)))
      .toMap
  }

  property("materialize == naive sequential replay") =
    forAll(Gen.listOfN(30, genEv)) { evs0 =>
      val evs = evs0.zipWithIndex.map { case (e, i) => e.copy(offset = i.toLong) }
      materialized(evs) == naive(evs)
    }

  property("envelope-keyed apply == naive sequential replay under pkNames=[id] AND under the id fallback") =
    forAll(Gen.listOfN(25, genEv), Gen.oneOf(true, false)) { (evs0, declare) =>
      val evs = evs0.zipWithIndex.map { case (e, i) => e.copy(offset = i.toLong) }
      // a declared single-column key and the pkNames-less fallback must
      // both key on the id cell
      materialized(evs, if (declare) Seq("id") else Nil) == naive(evs)
    }

  property("idempotent under at-least-once duplicate delivery") =
    forAll(Gen.listOfN(20, genEv), Gen.choose(1, 10)) { (evs0, dupCount) =>
      val evs = evs0.zipWithIndex.map { case (e, i) => e.copy(offset = i.toLong) }
      val withDups = evs ++ evs.take(dupCount) // replay a prefix verbatim
      materialized(withDups) == materialized(evs)
    }

  /** W8: a WELL-FORMED event chain (insert only when absent, update/delete
    * only when present, update old image = the previous live value) built by
    * replaying random intents against a driver-side state map. `es` strictly
    * increases so ordering is unambiguous. */
  private case class Chain(events: Seq[Ev], oldImages: Map[Long, String])

  private def wellFormed(intents: Seq[Ev]): Chain = {
    val live = scala.collection.mutable.Map[(String, String), String]() // key -> price
    val out = Seq.newBuilder[Ev]
    val olds = Map.newBuilder[Long, String]
    var i = 0
    intents.foreach { in =>
      val k = (in.table, in.pk)
      val ev = live.get(k) match {
        case None => in.copy(op = "insert", es = i.toLong, offset = i.toLong)
        case Some(prev) =>
          if (in.op == "insert") in.copy(op = "update", es = i.toLong, offset = i.toLong)
          // a CDC DELETE carries the row's last image, not arbitrary data
          else if (in.op == "delete") in.copy(es = i.toLong, offset = i.toLong, price = prev)
          else in.copy(es = i.toLong, offset = i.toLong)
      }
      if (ev.op == "update") olds += (ev.offset -> live(k))
      if (ev.op == "delete") live.remove(k) else live(k) = ev.price
      out += ev
      i += 1
    }
    Chain(out.result(), olds.result())
  }

  /** Events frame where updates carry their true old price image. */
  private def toEventsWithOld(c: Chain): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    withPkNames(c.events.map { e =>
      val old = c.oldImages.get(e.offset).map(p => Map("price" -> p))
      (new Timestamp(e.es * 1000), "testdb", e.table, e.op.toUpperCase, e.op,
        Map("id" -> e.pk, "price" -> e.price), old,
        Option.empty[String], 0, e.offset, 0)
    }.toDF("timestamp", "database", "table", "operation", "op",
      "data", "old_data", "sql", "partition", "offset", "pos"))
  }

  private def scd2Rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long, String, Long, Long, Long)] = {
    import org.apache.spark.sql.functions._
    CdcApply.scd2(df, "price")
      .select(col("table"), col("pk"), col("version"), col("price"),
        col("valid_from_ms"), col("valid_to_ms"), col("is_current"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSet
  }

  property("W9' scd2Merge(history <= T, delta > T) == full rebuild, any stream & cutover") =
    forAll(Gen.listOfN(25, genEv), Gen.choose(0L, 26L)) { (evs0, cutIdx) =>
      import org.apache.spark.sql.functions._
      // unique es per event (genEv can collide on (pk, op, es), which the
      // logical-identity dedup would resolve arbitrarily on each side)
      val evs = evs0.zipWithIndex.map { case (e, i) =>
        e.copy(es = e.es * 100 + i, offset = i.toLong)
      }
      val df = toEvents(evs)
      val cutMs = cutIdx * 150 * 1000 // sweeps below, through, and past the stream
      val merged = {
        val history = CdcApply.scd2(
          df.filter(unix_millis(col("timestamp")) <= cutMs), "price")
        CdcApply.scd2Merge(history,
            df.filter(unix_millis(col("timestamp")) > cutMs), "price")
          .select(col("table"), col("pk"), col("version"), col("price"),
            col("valid_from_ms"), col("valid_to_ms"), col("is_current"))
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3),
            r.getLong(4), r.getLong(5), r.getLong(6)))
          .toSet
      }
      merged == scd2Rows(df)
    }

  property("W10 backfillMerge(stateAsOf(T), overlapping full stream) == materialize") =
    forAll(Gen.listOfN(25, genEv), Gen.choose(0L, 26L)) { (evs0, cutIdx) =>
      import org.apache.spark.sql.functions._
      val evs = evs0.zipWithIndex.map { case (e, i) =>
        e.copy(es = e.es * 100 + i, offset = i.toLong)
      }
      val df = toEvents(evs)
      val cutMs = cutIdx * 150 * 1000
      def rows(d: org.apache.spark.sql.DataFrame) = d
        .select(col("table"), col("pk"),
          element_at(col("data"), "price").as("price"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSet
      val snapshot = CdcApply.stateAsOf(df, cutMs)
      rows(CdcApply.backfillMerge(snapshot, df)) == rows(CdcApply.materializeEnvelopeKeyed(df))
    }

  property("W8 maintainCounts == recompute for any well-formed chain") =
    forAll(Gen.listOfN(25, genEv)) { intents =>
      val chain = wellFormed(intents)
      val df = toEventsWithOld(chain)
      val maintained = {
        import org.apache.spark.sql.functions._
        CdcApply.maintainCounts(df, "price")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      val recomputed = naive(chain.events)
        .values.map(_._2).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      maintained == recomputed
    }

  property("compactLog: replaying the compacted log == replaying the full log") =
    forAll(Gen.listOfN(25, genEv)) { evs0 =>
      val evs = evs0.zipWithIndex.map { case (e, i) =>
        e.copy(es = e.es * 100 + i, offset = i.toLong)
      }
      val df = toEvents(evs)
      val compacted = CdcApply.compactLog(df)
      // net effect preserved AND at most one event per surviving key.
      // Equivalence is on (key -> image): the materialized `op` column is
      // provenance, and compaction legitimately renames it (a delete
      // followed by a re-insert inside one window compacts to an UPDATE —
      // the window cannot know whether the key predates it).
      stateOf(compacted) == stateOf(df) &&
        compacted.groupBy("database", "table", "pk").count()
          .filter(org.apache.spark.sql.functions.col("count") > 1).isEmpty
    }

  private def stateOf(events: org.apache.spark.sql.DataFrame): Map[(String, String), String] = {
    import org.apache.spark.sql.functions._
    CdcApply.materializeEnvelopeKeyed(events)
      .select(col("table"), col("pk"),
        element_at(col("data"), "price").as("price"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2))
      .toMap
  }

  // ---- two-table join-view / max-view maintenance over random streams ----

  case class FactEv(pk: Long, op: String, fk: Long, qty: Long)
  case class DimEv(pk: Long, op: String, cat: String)

  private val genFact: Gen[FactEv] = for {
    pk <- Gen.choose(1L, 6L)
    op <- Gen.frequency(5 -> "insert", 3 -> "update", 2 -> "delete")
    fk <- Gen.choose(1L, 4L) // fk 4 dangles until/unless a dim insert lands
    qty <- Gen.choose(1L, 9L)
  } yield FactEv(pk, op, fk, qty)

  private val genDim: Gen[DimEv] = for {
    pk <- Gen.choose(1L, 4L)
    op <- Gen.frequency(5 -> "insert", 3 -> "update", 2 -> "delete")
    cat <- Gen.oneOf("a", "b", "c")
  } yield DimEv(pk, op, cat)

  /** Interleave fact and dim intents on one strictly-increasing es axis. */
  private def twoTableFrames(facts: Seq[FactEv], dims: Seq[DimEv]): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val fe = withPkNames(facts.zipWithIndex.map { case (f, i) =>
      (new Timestamp((2 * i) * 1000L), "db", "orders", f.op, 2L * i,
        Map("id" -> f.pk.toString, "product_id" -> f.fk.toString,
          "quantity" -> f.qty.toString), 0, 0)
    }.toDF("timestamp", "database", "table", "op", "offset", "data",
      "partition", "pos"))
    val de = withPkNames(dims.zipWithIndex.map { case (d, i) =>
      (new Timestamp((2 * i + 1) * 1000L), "db", "products", d.op, 2L * i + 1,
        Map("id" -> d.pk.toString, "category" -> d.cat), 0, 0)
    }.toDF("timestamp", "database", "table", "op", "offset", "data",
      "partition", "pos"))
    (fe, de)
  }

  private def factSnapOf(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    CdcApply.materializeEnvelopeKeyed(ev)
      .select(col("pk").cast("bigint").as("pk"),
        element_at(col("data"), "product_id").cast("bigint").as("fk"),
        element_at(col("data"), "quantity").cast("bigint").as("m"))
  }

  private def dimSnapOf(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    CdcApply.materializeEnvelopeKeyed(ev)
      .select(col("pk").cast("bigint").as("pk"),
        element_at(col("data"), "category").as("attr"))
  }

  property("W8' maintainJoinAgg == recompute, any two-table stream & cutover") =
    forAll(Gen.listOfN(14, genFact), Gen.listOfN(10, genDim),
      Gen.choose(0L, 30L)) { (facts, dims, cutS) =>
      import org.apache.spark.sql.functions._
      val (fe, de) = twoTableFrames(facts, dims)
      val cutMs = cutS * 1000
      def pre(ev: org.apache.spark.sql.DataFrame) =
        ev.filter(unix_millis(col("timestamp")) <= cutMs)
      def post(ev: org.apache.spark.sql.DataFrame) =
        ev.filter(unix_millis(col("timestamp")) > cutMs)
      def recompute(f: org.apache.spark.sql.DataFrame, d: org.apache.spark.sql.DataFrame) =
        f.join(d.select(col("pk").as("fk"), col("attr")), Seq("fk"))
          .groupBy(col("attr").as("category"))
          .agg(sum(col("m")).as("sum_measure"), count(lit(1)).as("n_facts"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val f0 = factSnapOf(pre(fe))
      val d0 = dimSnapOf(pre(de))
      val measureByFk = f0.groupBy(col("fk"))
        .agg(sum(col("m")).as("sum_m"), count(lit(1)).as("n"))
      val got = CdcApply.maintainJoinAgg(recompute(f0, d0), measureByFk,
        f0, d0, post(fe), post(de), "product_id", "quantity", "category")
      rows(got) == rows(recompute(factSnapOf(fe), dimSnapOf(de)))
    }

  /** W8''' chain generator: per key, a chronological INSERT → UPDATE* →
    * DELETE? sequence whose UPDATE `old` images carry ONLY the changed
    * cells (the canal-json contract maintainSums' coalesce path handles). */
  private case class SEv(pk: String, op: String, g: String, m: Int,
                         old: Option[Map[String, String]], es: Long)

  private def genChain(pk: Int): Gen[List[SEv]] = for {
    g0 <- Gen.oneOf("a", "b", "c")
    m0 <- Gen.choose(1, 9)
    upds <- Gen.listOfN(3, for {
      present <- Gen.oneOf(true, false)
      g <- Gen.oneOf("a", "b", "c")
      m <- Gen.choose(1, 9)
    } yield (present, g, m))
    del <- Gen.oneOf(true, false)
  } yield {
    var cur = (g0, m0)
    val ins = SEv(pk.toString, "insert", g0, m0, None, 0L)
    val us = upds.zipWithIndex.collect { case (((true, g, m)), i) =>
      val old = (if (g != cur._1) Map("g" -> cur._1) else Map.empty[String, String]) ++
        (if (m != cur._2) Map("m" -> cur._2.toString) else Map.empty[String, String])
      val ev = SEv(pk.toString, "update", g, m, Some(old), i + 1L)
      cur = (g, m)
      ev
    }
    val tomb =
      if (del) List(SEv(pk.toString, "delete", cur._1, cur._2, None, 4L)) else Nil
    ins :: us ::: tomb
  }

  private val genChains: Gen[List[SEv]] = for {
    c1 <- genChain(1); c2 <- genChain(2); c3 <- genChain(3)
    c4 <- genChain(4); c5 <- genChain(5)
  } yield c1 ::: c2 ::: c3 ::: c4 ::: c5

  private def toSumEvents(evs: Seq[SEv]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    withPkNames(evs.zipWithIndex.map { case (e, i) =>
      (new Timestamp(e.es * 1000), "testdb", "t", e.op.toUpperCase, e.op,
        Map("id" -> e.pk, "g" -> e.g, "m" -> e.m.toString),
        e.old, Option.empty[String], 0, i.toLong, 0)
    }.toDF("timestamp", "database", "table", "operation", "op",
      "data", "old_data", "sql", "partition", "offset", "pos"))
  }

  property("W8''' maintainSums == recompute from chain-final state, whole-log redelivered") =
    forAll(genChains) { evs =>
      // whole-log duplication: every delta must apply exactly once
      val got = CdcApply.maintainSums(toSumEvents(evs ::: evs), "g", "m")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val fin = evs.groupBy(_.pk).values.toSeq.flatMap { chain =>
        val last = chain.maxBy(_.es)
        if (last.op == "delete") None else Some((last.g, last.m))
      }
      val exp = fin.groupBy(_._1).view
        .mapValues(v => (v.map(_._2.toLong).sum, v.size.toLong)).toMap
      got == exp
    }

  property("W8'' maintainMax == recompute, any fact stream & cutover") =
    forAll(Gen.listOfN(16, genFact), Gen.choose(0L, 34L)) { (facts, cutS) =>
      import org.apache.spark.sql.functions._
      val (fe, _) = twoTableFrames(facts, Seq.empty)
      val cutMs = cutS * 1000
      def snap(ev: org.apache.spark.sql.DataFrame) = {
        import org.apache.spark.sql.functions.{col, element_at}
        CdcApply.materializeEnvelopeKeyed(ev)
          .select(col("pk").cast("bigint").as("pk"),
            element_at(col("data"), "product_id").as("g"),
            element_at(col("data"), "quantity").cast("bigint").as("m"))
      }
      def viewOf(s0: org.apache.spark.sql.DataFrame) =
        s0.groupBy(col("g").as("product_id")).agg(max(col("m")).as("max_measure"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val pre = snap(fe.filter(unix_millis(col("timestamp")) <= cutMs))
      val got = CdcApply.maintainMax(viewOf(pre), pre,
        fe.filter(unix_millis(col("timestamp")) > cutMs), "product_id", "quantity")
      rows(got) == rows(viewOf(snap(fe)))
    }
}
