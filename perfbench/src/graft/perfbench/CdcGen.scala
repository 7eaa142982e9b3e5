package graft.perfbench

import scala.collection.mutable
import scala.util.Random

/** A canal-json file the generator wrote, with what it holds. */
final case class WireFile(name: String, lines: Int, events: Long, bytes: Long,
                          redeliveredRows: Long, poison: Int, ops: Seq[Op])

/** One row change the generator emitted: what the file asks the engine to
  * apply to the key (database, table, pk). */
final case class Op(db: String, table: String, pk: String, op: String,
                    data: Map[String, String])

/** The generator's model of the materialized state: latest image per
  * (database, table, pk), tombstoned keys removed. */
final class StateModel {
  val live = mutable.HashMap.empty[(String, String, String), Map[String, String]]
  def apply(o: Op): Unit =
    if (o.op == "DELETE") live.remove((o.db, o.table, o.pk))
    else live((o.db, o.table, o.pk)) = o.data
  def digest: (Long, Long) = {
    var h = 0L
    live.foreach { case ((db, t, pk), d) => h += StateModel.rowHash(db, t, pk, d) }
    (live.size.toLong, h)
  }
}

object StateModel {
  /** Order-independent row hash shared by the model and the state read-back:
    * two 32-bit murmur hashes of the canonical row text. */
  def rowHash(db: String, table: String, pk: String, data: collection.Map[String, String]): Long = {
    val s = s"$db\u0002$table\u0002$pk\u0002" +
      data.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(";")
    (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
  }
}

/** Seeded canal-json wire generator for the two CDC workloads. Lines are
  * built as text (the wire format the engine parses), so the engine
  * receives only files. */
final class CdcGen(seed: Long) {
  val rnd = new Random(seed)
  private val ops = mutable.ArrayBuffer.empty[Op]
  private def q(s: String) = Json.str(s)
  private def mapJson(m: Seq[(String, String)]): String =
    m.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")

  def envelope(table: String, op: String, rows: Seq[Seq[(String, String)]],
               old: Option[Seq[Seq[(String, String)]]], es: Long,
               pkNames: Seq[String]): String =
    s"""{"data":${rows.map(mapJson).mkString("[", ",", "]")},""" +
      s""""old":${old.map(_.map(mapJson).mkString("[", ",", "]")).getOrElse("null")},""" +
      s""""type":${q(op)},"table":${q(table)},"database":"tpch","es":$es,"ts":${es + 7},""" +
      s""""isDdl":false,"sql":null,"pkNames":${pkNames.map(q).mkString("[", ",", "]")}}"""

  private def write(dir: java.nio.file.Path, name: String, lines: Seq[String],
                    events: Long, redelivered: Long, poison: Int): WireFile = {
    val body = lines.mkString("", "\n", "\n")
    val bytes = body.getBytes("UTF-8")
    java.nio.file.Files.write(dir.resolve(name), bytes)
    val f = WireFile(name, lines.size, events, bytes.length.toLong, redelivered, poison,
      ops.toList)
    ops.clear()
    f
  }

  // ---- cdc_bulk: orders + lineitem backlog --------------------------------

  private val ordersLive = mutable.ArrayBuffer.empty[Long]
  private val linesLive = mutable.ArrayBuffer.empty[(Long, Int)]
  private var nextOrder = 0L
  private val statuses = Array("O", "F", "P")
  private val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val flags = Array("A", "N", "R")

  private def orderRow(k: Long, version: Int): Seq[(String, String)] = Seq(
    "o_orderkey" -> k.toString,
    "o_custkey" -> (math.abs((k * 2654435761L + seed) % 15000)).toString,
    "o_orderstatus" -> statuses(((k + version) % 3).toInt),
    "o_totalprice" -> f"${1000 + rnd.nextInt(499000)}.${rnd.nextInt(100)}%02d",
    "o_orderdate" -> f"199${5 + (k % 7)}-${1 + k % 12}%02d-${1 + k % 28}%02d",
    "o_orderpriority" -> prios((k % 5).toInt),
    "o_comment" -> s"v$version ${java.lang.Long.toString(rnd.nextLong() >>> 1, 36)}")

  private def lineRow(o: Long, ln: Int, version: Int): Seq[(String, String)] = Seq(
    "l_orderkey" -> o.toString, "l_linenumber" -> ln.toString,
    "l_partkey" -> (math.abs(o * 31 + ln) % 20000).toString,
    "l_suppkey" -> (math.abs(o * 17 + ln) % 1000).toString,
    "l_quantity" -> (1 + rnd.nextInt(50)).toString,
    "l_extendedprice" -> f"${900 + rnd.nextInt(104000)}.${rnd.nextInt(100)}%02d",
    "l_discount" -> f"0.${rnd.nextInt(11)}%02d",
    "l_returnflag" -> flags(rnd.nextInt(3)),
    "l_linestatus" -> (if (version == 0) "O" else "F"),
    "l_comment" -> s"v$version ${java.lang.Long.toString(rnd.nextLong() >>> 12, 36)}")

  /** One backlog file of about `targetEvents` flattened events: ~70 % inserts
    * of new keys, ~25 % updates and ~5 % deletes of live keys, 1–5 rows per
    * message, each key at most once per file, plus ~1 % byte-identical
    * redelivered messages. Event time `es` starts `fileIndex` × 3 h after the
    * epoch base, so each file moves the dedup watermark past the previous
    * file's events. */
  def bulkFile(dir: java.nio.file.Path, fileIndex: Int, targetEvents: Int): WireFile = {
    val baseEs = 1704067200000L + fileIndex * 3L * 3600 * 1000
    val lines = mutable.ArrayBuffer.empty[String]
    val touchedO = mutable.HashSet.empty[Long]
    val touchedL = mutable.HashSet.empty[(Long, Int)]
    var events = 0L; var redelivered = 0L; var msg = 0
    def nextEs(): Long = { msg += 1; baseEs + msg * 20L }
    def emit(table: String, op: String, keys: Seq[Seq[(String, String)]],
             old: Option[Seq[Seq[(String, String)]]], pkNames: Seq[String],
             pks: Seq[String]): Unit = {
      val es = nextEs()
      val line = envelope(table, op, keys, old, es, pkNames)
      lines += line
      keys.zip(pks).foreach { case (r, pk) => ops += Op("tpch", table, pk, op, r.toMap) }
      events += keys.size
      if (rnd.nextInt(100) == 0) {
        lines += line; redelivered += keys.size
      }
    }
    /** A live key not yet touched in this file; a deleted key leaves the
      * live set at once (swap-remove, O(1)). */
    def pickLive[T](buf: mutable.ArrayBuffer[T], touched: mutable.HashSet[T],
                    remove: Boolean): Option[T] = {
      var tries = 0
      while (tries < 8 && buf.nonEmpty) {
        val i = rnd.nextInt(buf.size); val k = buf(i)
        if (!touched(k)) {
          touched += k
          if (remove) { buf(i) = buf.last; buf.remove(buf.size - 1) }
          return Some(k)
        }
        tries += 1
      }
      None
    }
    while (events < targetEvents) {
      val n = 1 + rnd.nextInt(5)
      val dice = rnd.nextInt(100)
      val lineitem = rnd.nextInt(100) < 60
      if (dice < 70 || (ordersLive.size < 50)) {
        if (lineitem) {
          val o = nextOrder; nextOrder += 1
          val rows = (1 to n).map(ln => lineRow(o, ln, 0))
          (1 to n).foreach(ln => { linesLive += ((o, ln)); touchedL += ((o, ln)) })
          emit("lineitem", "INSERT", rows, None, Seq("l_orderkey", "l_linenumber"),
            (1 to n).map(ln => s"$o\u0001$ln"))
        } else {
          val ks = (0 until n).map { _ => val k = nextOrder; nextOrder += 1; k }
          ks.foreach { k => ordersLive += k; touchedO += k }
          emit("orders", "INSERT", ks.map(k => orderRow(k, 0)), None, Seq("o_orderkey"),
            ks.map(_.toString))
        }
      } else {
        val delete = dice >= 95
        val op = if (delete) "DELETE" else "UPDATE"
        if (lineitem) {
          val ks = (0 until n).flatMap(_ => pickLive(linesLive, touchedL, delete))
          if (ks.nonEmpty) {
            val rows = ks.map { case (o, ln) => lineRow(o, ln, 1 + rnd.nextInt(9)) }
            val old = if (delete) None else Some(ks.map(_ => Seq("l_linestatus" -> "O")))
            emit("lineitem", op, rows, old, Seq("l_orderkey", "l_linenumber"),
              ks.map { case (o, ln) => s"$o\u0001$ln" })
          }
        } else {
          val ks = (0 until n).flatMap(_ => pickLive(ordersLive, touchedO, delete))
          if (ks.nonEmpty) {
            val rows = ks.map(k => orderRow(k, 1 + rnd.nextInt(9)))
            val old = if (delete) None else Some(ks.map(_ => Seq("o_orderstatus" -> "O")))
            emit("orders", op, rows, old, Seq("o_orderkey"), ks.map(_.toString))
          }
        }
      }
    }
    write(dir, f"bulk-$fileIndex%05d.json", lines.toSeq, events, redelivered, 0)
  }

  // ---- cdc_trickle: hot products key set ----------------------------------

  private val hotKeys = 400
  private val productLive = mutable.HashSet.empty[Int]
  private var poisonKey = 900000
  private var lastEs = 0L
  private var pendingRedelivery: Option[(String, Int)] = None

  /** One small live-feed file: single-row product messages over a hot key
    * set, ~10 % of lines byte-identical redeliveries of a line from this or
    * the previous file, and the requested DDL / malformed / poison lines.
    * `es` is the generator's creation clock, strictly increasing. */
  def trickleFile(dir: java.nio.file.Path, fileIndex: Int, nEvents: Int,
                  ddl: Int, malformed: Int, poison: Int): WireFile = {
    val lines = mutable.ArrayBuffer.empty[String]
    var events = 0L; var redelivered = 0L
    def es(): Long = { lastEs = math.max(System.currentTimeMillis(), lastEs + 1); lastEs }
    pendingRedelivery.foreach { case (l, n) => lines += l; redelivered += n }
    pendingRedelivery = None
    while (events < nEvents) {
      val k = rnd.nextInt(hotKeys)
      val op = if (!productLive(k)) "INSERT" else if (rnd.nextInt(50) == 0) "DELETE" else "UPDATE"
      val row = Seq("id" -> k.toString, "name" -> s"product-$k",
        "price" -> f"${1 + rnd.nextInt(999)}.${rnd.nextInt(100)}%02d",
        "stock" -> rnd.nextInt(500).toString)
      if (op == "DELETE") productLive -= k else productLive += k
      val line = envelope("products", op, Seq(row),
        if (op == "UPDATE") Some(Seq(Seq("stock" -> "0"))) else None, es(), Seq("id"))
      lines += line
      ops += Op("tpch", "products", k.toString, op, row.toMap)
      events += 1
      if (rnd.nextInt(10) == 0) {
        if (rnd.nextBoolean()) { lines += line; redelivered += 1 }
        else pendingRedelivery = Some((line, 1))
      }
    }
    (0 until ddl).foreach { _ =>
      lines += s"""{"data":null,"old":null,"type":"ALTER","table":"products","database":"tpch","es":${es()},"isDdl":true,"sql":"ALTER TABLE products ADD COLUMN note VARCHAR(32)","pkNames":null}"""
    }
    (0 until malformed).foreach(i => lines += s"not-json{{{ $fileIndex-$i")
    (0 until poison).foreach { _ =>
      poisonKey += 1
      lines += envelope("products", "INSERT",
        Seq(Seq("id" -> poisonKey.toString, "name" -> "poison", "price" -> "not-a-number",
          "stock" -> "1")), None, es(), Seq("id"))
      events += 1
    }
    write(dir, f"trickle-$fileIndex%05d.json", lines.toSeq, events, redelivered, poison)
  }
}
