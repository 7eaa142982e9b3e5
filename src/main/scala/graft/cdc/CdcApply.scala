package graft.cdc

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** CDC change application — materialize current table state from the change
  * log (SURVEY.md §2.5, the "re-apply" half of the reference's audit-log use
  * case).
  *
  * Semantics (W1-W7):
  *   - one key, [[envelopePk]]: the payload cells the envelope's `pkNames`
  *     declares (composite keys included), else the `id` cell;
  *   - latest-image-wins per key ([[latestByPk]], shared with the streaming
  *     sink), ordered by commit time `es` then kafka offset (out-of-order
  *     safety within a key);
  *   - DELETE is a tombstone: the key disappears from materialized state;
  *   - idempotent under at-least-once replay: the rank keeps one of a
  *     redelivery's byte-identical rows, and the delta operators collapse
  *     a redelivery at a new coordinate to its logical identity. The
  *     reference's autoCommit-5s duplicate window (index.js:351-352)
  *     deduplicates nothing.
  *
  * Scale posture: one shuffle on (database, table, pk); `row_number` over
  * that partitioning is the standard max-by-key pattern AQE handles well.
  * For a hot single table (the reference's `products` takes ~all traffic,
  * run_test.sh), the shuffle key includes the pk so skew is per-key, not
  * per-table.
  */
object CdcApply {

  /** Deduplicate at-least-once redelivery: same kafka coordinate + row
    * position = same physical row (exactly the idempotency key the reference
    * lacks). Map-typed `data`/`old_data` cannot be GROUPING keys in Spark,
    * and keyed dropDuplicates would hold them in first(map) aggregates
    * whose buffers force a SortAggregate pair — so the maps cross the
    * dedup as their entry ARRAYS (order-preserving: duplicates are parses
    * of identical bytes, so entry order matches) and come back via
    * map_from_entries. All-columns distinct then hash-aggregates with
    * map-side partials (round-20 plan audit; same row set either way
    * because a redelivery is the identical physical row).
    *
    * Contract enforcement (round-21): the byte-identical-redelivery
    * assumption is PINNED by a negative test (CdcApplySpec
    * "divergent-payload redelivery") — a producer that redelivers a
    * coordinate with DIFFERENT bytes yields two surviving rows here (a
    * visible duplicate coordinate downstream), by declaration; the
    * pre-round-20 keyed dropDuplicates would instead have silently kept
    * an arbitrary one and masked the producer bug. */
  def dedupDelivery(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.MapType
    val mapCols = events.schema.fields
      .filter(_.dataType.isInstanceOf[MapType]).map(_.name)
    val asEntries = mapCols.foldLeft(events)((df, m) =>
      df.withColumn(m, map_entries(col(m))))
    val deduped = asEntries.distinct()
    mapCols.foldLeft(deduped)((df, m) =>
      df.withColumn(m, map_from_entries(col(m))))
      .select(events.columns.map(col).toSeq: _*)
  }

  /** The batch apply: latest state per key from a flattened event frame
    * (output of [[CanalJson.events]] or [[DebeziumJson.events]]) — the
    * newest image per (database, table, [[envelopePk]]) survives unless
    * tombstoned. The streaming sink's rule on a whole log: same key, same
    * [[latestByPk]] rank, and likewise no delivery dedup in front of it
    * (a redelivered coordinate is a byte-identical row, which the rank
    * already collapses). */
  def materializeEnvelopeKeyed(events: DataFrame): DataFrame =
    latestByPk(events.withColumn("pk", envelopePk))

  /** The CDC key VALUE — the only one, for every operator here and the
    * streaming sink: the `pkNames` payload cells null-safe-joined with
    * `\u0001` (payload cells are canal string-typed scalars; the separator
    * cannot occur in key cells), so COMPOSITE keys — (order_id, line_no)
    * style — key correctly. Envelopes without `pkNames` fall back to the
    * reference schema's universal `id` cell, so on every single-`id` feed
    * this equals `element_at(data, "id")`. */
  def envelopePk: Column =
    when(col("pk_names").isNotNull && size(col("pk_names")) > 0,
      concat_ws("\u0001",
        transform(col("pk_names"), n => element_at(col("data"), n))))
      .otherwise(element_at(col("data"), "id"))

  /** Latest-image-wins ranking shared by the batch apply and the streaming
    * sink: newest (timestamp, offset) per (database, table, pk)
    * survives unless tombstoned. A frame already hash-partitioned on
    * (database, table, pk) ranks without another exchange. No delivery
    * dedup here: byte-identical rows are interchangeable under
    * `row_number`. */
  def latestByPk(keyed: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("database"), col("table"), col("pk"))
      .orderBy(col("timestamp").desc, col("offset").desc)
    keyed
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "delete")
      .drop("rn")
  }

  /** Temporal (as-of) materialization: the table state as it stood at
    * `asOfMs` (epoch ms, inclusive) — the audit-log read the event store
    * exists for ("what did this row look like before the incident").
    * Identical plan shape to [[materializeEnvelopeKeyed]]; the time
    * predicate is pushed below the ranking shuffle, so at scale it prunes
    * event-store partitions before any exchange. */
  def stateAsOf(events: DataFrame, asOfMs: Long): DataFrame =
    materializeEnvelopeKeyed(events.filter(unix_millis(col("timestamp")) <= asOfMs))

  /** Incremental aggregate maintenance: keep a grouped COUNT correct under
    * INSERT/UPDATE/DELETE without ever rescanning materialized state — the
    * delta trick every incremental materialized view engine runs on. Each
    * event contributes ±1 rows: INSERT → +new group; DELETE → −its group;
    * UPDATE whose old image carries the attribute → +new, −old (a group-key
    * change moves the count between groups; an UPDATE without the attribute
    * in its old image didn't change it → no deltas). Groups whose net count
    * is 0 vanish, matching recompute-from-state exactly.
    *
    * Deltas are NOT idempotent — at-least-once redelivery would double-
    * apply — so the stream first collapses to LOGICAL event identity
    * (database, table, op, commit timestamp, pk): redelivery after a
    * rebalance arrives at a NEW kafka coordinate (the embedded fixture
    * models exactly that), so coordinate dedup alone is not enough. The
    * contract this encodes: one image per (key, op) per upstream commit —
    * which is what canal-json's `es` (TiDB commit ts) guarantees. Scale:
    * one narrow shuffle on the group value over ±1 rows (map-side
    * combined); state size is |groups|, not |keys|. */
  def maintainCounts(events: DataFrame, attr: String): DataFrame = {
    // project to scalars BEFORE the identity dedup: the exchange then
    // carries 7 narrow columns instead of the full data/old_data maps.
    // distinct() over the whole projection, not dropDuplicates on the
    // identity columns: a redelivered event is byte-identical (the
    // one-image-per-(key, op)-per-commit contract above), so __new/__old
    // are functions of the identity and the row set is the same — but
    // dropDuplicates would hold them in first() aggregates whose STRING
    // buffers force a SortAggregate pair, where all-columns grouping
    // hash-aggregates with map-side partials (round-20 plan audit).
    val deduped = events.select(
        col("database"), col("table"), col("op"), col("timestamp"),
        envelopePk.as("__pk"),
        element_at(col("data"), attr).as("__new"),
        element_at(col("old_data"), attr).as("__old"))
      .distinct()
    // Streaming plans can't checkpoint — there the micro-batch engine owns
    // incrementalization and each branch reads the (small) batch source.
    val e = if (deduped.isStreaming) deduped
      else Materialize.once(deduped, "maintainCounts delta branches")
    val plus = e.filter(col("op") === "insert" ||
        (col("op") === "update" && col("__old").isNotNull))
      .select(col("__new").as("g"), lit(1L).as("delta"))
    val minusDel = e.filter(col("op") === "delete")
      .select(col("__new").as("g"), lit(-1L).as("delta"))
    val minusOld = e.filter(col("op") === "update" && col("__old").isNotNull)
      .select(col("__old").as("g"), lit(-1L).as("delta"))
    plus.unionByName(minusDel).unionByName(minusOld)
      .groupBy(col("g")).agg(sum(col("delta")).as("cnt"))
      .filter(col("cnt") =!= 0)
      .select(col("g").as(attr), col("cnt"))
  }

  /** Incremental grouped SUM/COUNT (and derived AVG) maintenance — the
    * SELF-MAINTAINABLE algebraic class: `V(g) = (SUM(m), COUNT(*)) GROUP BY
    * g` updates purely from ±measure deltas (INSERT +m, UPDATE +m_new @
    * g_new / −m_old @ g_old, DELETE −m_current), never consulting standing
    * state — unlike MAX ([[maintainMax]]), whose DELETE can expose a
    * second-place value only a dirty-group rescan can find. canal-json's
    * `old` carries only the CHANGED cells, so the old image coalesces to
    * the new one for untouched columns. Same logical-identity dedup as
    * [[maintainCounts]] (redelivery would double-apply deltas), same
    * existence rule as recompute: COUNT > 0 decides, so a group whose rows
    * all leave vanishes even if its SUM was already 0. Scale: one narrow
    * map-side-combined shuffle on the group value over ±rows; state is
    * \|groups\|, not \|keys\|.
    *
    * Null-old UPDATE contract: an UPDATE whose `old` omits the measure
    * coalesces the old image to the new one, so +m_new and −m_old cancel —
    * which is CORRECT under the canal-json changed-cells contract (an
    * absent cell means UNCHANGED) and an intentional no-op. The failure
    * mode to know about: an upstream that drops old images on REAL changes
    * (old entirely null on every UPDATE) silently under-applies deltas —
    * and is undetectable from inside the delta algebra, because the old
    * value it needs simply never reached the wire. Enforce old-image
    * presence at ingest (the invalid-envelope poison route,
    * [[graft.cdc.CanalJson.invalid]] lineage), not here. */
  def maintainSums(events: DataFrame, groupCol: String,
                   measureCol: String): DataFrame = {
    val deduped = events.select(
        col("database"), col("table"), col("op"), col("timestamp"),
        envelopePk.as("__pk"),
        element_at(col("data"), groupCol).as("__g"),
        element_at(col("data"), measureCol).cast("long").as("__m"),
        coalesce(element_at(col("old_data"), groupCol),
          element_at(col("data"), groupCol)).as("__gOld"),
        coalesce(element_at(col("old_data"), measureCol),
          element_at(col("data"), measureCol)).cast("long").as("__mOld"))
      // all-columns distinct, not keyed dropDuplicates: same row set under
      // the redelivery contract, HashAggregate instead of the SortAggregate
      // that first(__g: string) would force (see maintainCounts)
      .distinct()
    // streaming plans can't checkpoint, the micro-batch engine owns it
    val e = if (deduped.isStreaming) deduped
      else Materialize.once(deduped, "maintainSums delta branches")
    val plus = e.filter(col("op") === "insert" || col("op") === "update")
      .select(col("__g").as("g"), col("__m").as("dm"), lit(1L).as("dn"))
    val minusDel = e.filter(col("op") === "delete")
      .select(col("__g").as("g"), (-col("__m")).as("dm"), lit(-1L).as("dn"))
    val minusOld = e.filter(col("op") === "update")
      .select(col("__gOld").as("g"), (-col("__mOld")).as("dm"), lit(-1L).as("dn"))
    plus.unionByName(minusDel).unionByName(minusOld)
      .groupBy(col("g")).agg(sum(col("dm")).as("sum_m"),
        sum(col("dn")).as("n_rows"))
      .filter(col("n_rows") =!= 0)
      .select(col("g").as(groupCol), col("sum_m"), col("n_rows"))
  }

  /** A batch's NET effect per key, shared by [[maintainJoinAgg]] and
    * [[maintainMax]]: `(op, pk, valCols…)`, one row per touched key,
    * tombstones included. Events collapse to LOGICAL identity (op, commit
    * ms, key — the [[maintainCounts]] redelivery rule), then the latest
    * (commit ms, offset) image per key survives. `pk` is [[envelopePk]] as
    * bigint, the auxiliaries' join type; a composite key fails that cast
    * (ANSI) instead of keying on null. The collapse groups identity +
    * values with min(offset): the values are functions of the identity, so
    * the groups are the identities, but the aggregate hashes and keeps a
    * deterministic offset, where dropDuplicates' first() buffers forced a
    * SortAggregate (round-20 plan audit). */
  private def batchLatest(events: DataFrame, valCols: Map[String, Column]): DataFrame = {
    val projected = events.select(
      Seq(col("op"), col("offset"), unix_millis(col("timestamp")).as("es_ms"),
        envelopePk.cast("bigint").as("pk")) ++
        valCols.map { case (n, c) => c.as(n) }: _*)
      .groupBy(Seq(col("op"), col("es_ms"), col("pk")) ++
        valCols.keys.toSeq.sorted.map(col): _*)
      .agg(min(col("offset")).as("offset"))
    val w = Window.partitionBy(col("pk"))
      .orderBy(col("es_ms").desc, col("offset").desc)
    projected.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "offset", "es_ms")
  }

  /** Incremental JOIN-view maintenance (W8', the two-table step up from
    * [[maintainCounts]]): keep
    * `V(attr) = (SUM(measure), COUNT(*)) over fact ⋈_{fact.fk = dim.pk} dim GROUP BY dim.attr`
    * correct under a batch of change events on BOTH tables, without
    * rescanning either table — the higher-order delta rule every IVM engine
    * (DBToaster lineage) runs on. A fact delta needs the dim side's current
    * attribute; a dim delta moves its key's ENTIRE standing measure between
    * groups. Both lookups come from maintained auxiliary views, so the work
    * per batch is ∝ |delta keys|, never ∝ |tables|:
    *
    *   - `factSnap` (fk, measure per fact pk) answers "what did this fact
    *     row contribute before the batch";
    *   - `measureByFk` (per-fk SUM + COUNT over facts, dangling fks
    *     included) answers "how much mass moves when this dim key changes";
    *   - `dimSnap` (attr per dim pk) answers "which group was that mass in".
    *
    * Delta rule per batch (events first collapse to the batch's net effect
    * per pk, [[batchLatest]]):
    *   fact pk touched:  −(old measure) @ old fk, +(new measure) @ new fk
    *                     (handles measure change, fk move, delete, insert);
    *   affected fk:      view −= (old SUM, old COUNT) @ old attr,
    *                     view += (final SUM, final COUNT) @ final attr,
    *                     where final SUM/COUNT fold the fact deltas in and
    *                     final attr reflects the batch's dim image (a dim
    *                     DELETE maps its mass to no group — inner-join
    *                     semantics, same as recompute).
    * Groups whose maintained COUNT reaches 0 vanish, matching recompute
    * exactly (a live group genuinely summing to 0 survives — COUNT, not
    * SUM, decides existence).
    *
    * Scale: every join is keyed on the batch's delta pks/fks against a
    * keyed auxiliary table — at 100 TB that is a partition-pruned point
    * lookup per delta key (broadcast the delta side), plus one narrow
    * shuffle per grouped delta. Certified equal to full recompute in
    * CdcApplySpec (fk moves, dim deletes, re-inserts, redelivery) and
    * against the DuckDB recompute oracle (`cdc_join_maintain`).
    *
    * @param view        maintained view: (attrCol, sum_measure, n_facts)
    * @param measureByFk auxiliary: (fk, sum_measure, n_facts) over ALL facts
    * @param factSnap    auxiliary: (pk, fk, measure) latest fact images
    * @param dimSnap     auxiliary: (pk, attrCol) latest dim images
    * @param factEvents  flattened change events for the fact table
    * @param dimEvents   flattened change events for the dim table
    */
  def maintainJoinAgg(view: DataFrame, measureByFk: DataFrame,
                      factSnap: DataFrame, dimSnap: DataFrame,
                      factEvents: DataFrame, dimEvents: DataFrame,
                      fkCol: String, measureCol: String, attrCol: String): DataFrame = {
    val fTouch = Materialize.once(batchLatest(factEvents, Map(
        "fk_new" -> element_at(col("data"), fkCol).cast("bigint"),
        "m_new" -> element_at(col("data"), measureCol).cast("bigint")))
      .join(factSnap.select(col("pk"), col("fk").as("fk_old"), col("m").as("m_old")),
        Seq("pk"), "left"), "maintainJoinAgg fact delta branches")
    // dMeas and dTouch each feed the affected-fk union AND a join. Round 21's
    // plan audit counted 16 real exchanges on this entry before they were
    // materialized, the board's worst. batchLatest's window already
    // precludes streaming through this operator.
    val dMeas = Materialize.once(fTouch.filter(col("fk_old").isNotNull)
      .select(col("fk_old").as("fk"), (-col("m_old")).as("dm"), lit(-1L).as("dn"))
      .unionByName(fTouch.filter(col("op") =!= "delete")
        .select(col("fk_new").as("fk"), col("m_new").as("dm"), lit(1L).as("dn")))
      .groupBy("fk").agg(sum("dm").as("dm"), sum("dn").as("dn")),
      "maintainJoinAgg affected fks + measure join")
    val dTouch = Materialize.once(batchLatest(dimEvents, Map(
      "attr_new" -> element_at(col("data"), attrCol))),
      "maintainJoinAgg affected fks + dim join")
    // every fk whose mass or group could move
    val aff = dMeas.select(col("fk"))
      .unionByName(dTouch.select(col("pk").as("fk"))).distinct()
      .join(measureByFk.select(col("fk"), col("sum_m").as("q_old"), col("n").as("n_old")),
        Seq("fk"), "left")
      .join(dMeas, Seq("fk"), "left")
      .join(dimSnap.select(col("pk").as("fk"), col("attr").as("attr_old")),
        Seq("fk"), "left")
      .join(dTouch.select(col("pk").as("fk"), col("attr_new"),
        col("op").as("dim_op")), Seq("fk"), "left")
      .select(col("fk"),
        coalesce(col("q_old"), lit(0L)).as("q_old"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        (coalesce(col("q_old"), lit(0L)) + coalesce(col("dm"), lit(0L))).as("q_fin"),
        (coalesce(col("n_old"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_fin"),
        col("attr_old"),
        when(col("dim_op").isNotNull,
          when(col("dim_op") === "delete", lit(null)).otherwise(col("attr_new")))
          .otherwise(col("attr_old")).as("attr_fin"))
    val viewDelta = aff.filter(col("attr_old").isNotNull)
      .select(col("attr_old").as(attrCol), (-col("q_old")).as("dm"), (-col("n_old")).as("dn"))
      .unionByName(aff.filter(col("attr_fin").isNotNull)
        .select(col("attr_fin").as(attrCol), col("q_fin").as("dm"), col("n_fin").as("dn")))
    view.select(col(attrCol), col("sum_measure").as("dm"), col("n_facts").as("dn"))
      .unionByName(viewDelta)
      .groupBy(attrCol)
      .agg(sum("dm").as("sum_measure"), sum("dn").as("n_facts"))
      .filter(col("n_facts") > 0)
  }

  /** Type-2 slowly-changing-dimension history for one tracked attribute:
    * one row per (key, version) with `[valid_from_ms, valid_to_ms)` validity
    * — the standard warehouse answer to "what was this row's status at any
    * point in time", built from the same change log the audit views read.
    *
    * Semantics:
    *   - events first collapse to LOGICAL identity (database, table, op,
    *     commit ts, pk) — the [[maintainCounts]] rule — so at-least-once
    *     redelivery (possibly at a new kafka coordinate) cannot mint
    *     phantom versions;
    *   - a version OPENS when the tracked value actually changes (first
    *     image for the key, re-insert after a tombstone, or a new value);
    *     an UPDATE that does not move the attribute is compressed away;
    *   - a version CLOSES at the next opening event or at a DELETE;
    *   - the open (current) version carries `valid_to_ms = -1` and
    *     `is_current = 1` — a −1 sentinel, not NULL, so the output has no
    *     nullable int column (cross-engine int64↔float64 drift).
    *
    * Scale: one shuffle on (database, table, pk); both window passes (the
    * change marks and the closing `lead`) share that partitioning, so
    * Catalyst plans a single exchange. Rows are projected to 7 narrow
    * columns before the shuffle — the data/old_data maps never move. */
  def scd2(events: DataFrame, attr: String): DataFrame =
    scd2Timeline(scd2Project(events, attr), attr)

  /** Project raw flattened events to the 7 narrow columns the SCD2 timeline
    * needs and collapse to logical identity — shared by [[scd2]] and
    * [[scd2Merge]]. */
  private def scd2Project(events: DataFrame, attr: String): DataFrame =
    events.select(
        col("database"), col("table"), col("op"), col("offset"),
        unix_millis(col("timestamp")).as("es_ms"),
        envelopePk.as("pk"),
        element_at(col("data"), attr).as("__v"))
      // identity collapse via groupBy(identity + __v) + min(offset): __v is
      // a function of the identity (redelivery ships the same image, even
      // at a new coordinate — CdcApplySpec pins that case), so this is the
      // same one-row-per-identity set with a DETERMINISTIC offset, and the
      // plan is a hash aggregate instead of the SortAggregate that
      // first(__v: string) forced (round-20 plan audit)
      .groupBy(col("database"), col("table"), col("op"), col("es_ms"),
        col("pk"), col("__v"))
      .agg(min(col("offset")).as("offset"))

  /** The SCD2 timeline pass over a projected event frame
    * (database, table, op, offset, es_ms, pk, __v): boundary detection,
    * closing lead, version numbering from 1 per key. */
  private def scd2Timeline(e: DataFrame, attr: String): DataFrame = {
    val w = Window.partitionBy(col("database"), col("table"), col("pk"))
      .orderBy(col("es_ms"), col("offset"))
    // boundary events only: version-opening images + closing tombstones.
    // lag sees the previous event's value/op, so "opens" is: first event,
    // first image after a delete, or a genuine value change.
    val bounds = e
      .withColumn("__pv", lag(col("__v"), 1).over(w))
      .withColumn("__pop", lag(col("op"), 1).over(w))
      .filter(col("op") === "delete" ||
        col("__pop").isNull || col("__pop") === "delete" ||
        !(col("__v") <=> col("__pv")))
    bounds
      .withColumn("__next_ms", lead(col("es_ms"), 1).over(w))
      .filter(col("op") =!= "delete")
      .withColumn("version", row_number().over(w).cast("bigint"))
      .select(col("database"), col("table"), col("pk"), col("version"),
        col("__v").as(attr),
        col("es_ms").as("valid_from_ms"),
        coalesce(col("__next_ms"), lit(-1L)).as("valid_to_ms"),
        when(col("__next_ms").isNull, 1L).otherwise(0L).as("is_current"))
  }

  /** Incremental SCD2 maintenance — apply a batch of NEW change events to an
    * existing [[scd2]] history WITHOUT rebuilding it. The production shape
    * at scale: closed versions are immutable and pass through untouched, so
    * the work is ∝ |delta events| + |live keys|, never ∝ |history|.
    *
    * Mechanism: each key's open version is replayed as a seed image at its
    * own `valid_from_ms` (offset −∞ so any real event at the same instant
    * outranks it), union'd with the delta, and run through the same
    * [[scd2Timeline]] — which closes the open version if the delta moves the
    * value (or tombstones the key), compresses delta events that do NOT
    * move it, and re-opens after deletes, all by the one shared rule set.
    * Version numbers continue from the key's closed-version count, so the
    * merged output is indistinguishable from a full rebuild:
    * `scd2Merge(scd2(e ≤ T), e > T) == scd2(e)` — which is exactly what the
    * oracle certifies. */
  def scd2Merge(history: DataFrame, events: DataFrame, attr: String): DataFrame = {
    val closed = history.filter(col("is_current") === 0)
    val open = history.filter(col("is_current") === 1)
    val seed = open.select(
      col("database"), col("table"), lit("update").as("op"),
      lit(Long.MinValue).as("offset"), col("valid_from_ms").as("es_ms"),
      col("pk"), col(attr).as("__v"))
    val delta = scd2Project(events, attr)
    // version base: closed versions per key are 1..v0; the re-derived rows
    // continue at v0+1 (the seed, if still open, KEEPS its old number)
    val base = closed.groupBy(col("database"), col("table"), col("pk"))
      .agg(max(col("version")).as("__v0"))
    val rederived = scd2Timeline(seed.unionByName(delta), attr)
      .join(base, Seq("database", "table", "pk"), "left")
      .withColumn("version", col("version") + coalesce(col("__v0"), lit(0L)))
      .drop("__v0")
    closed.unionByName(rederived)
  }

  /** Cutover merge — the snapshot-load-then-catch-up pattern every CDC
    * deployment runs on day one: an externally restored snapshot (the table
    * state as of `asOfMs`) merged with a replayed change stream that may
    * OVERLAP the snapshot (events at or before the cutover are already
    * reflected in it). The merge must be overlap-idempotent: replaying a
    * pre-cutover event must not double-apply, and a key tombstoned before
    * the cutover (absent from the snapshot, but whose INSERT is in the
    * replay) must NOT be resurrected.
    *
    * Mechanism: snapshot rows keep the commit time and offset of the event
    * that produced them — the snapshot preserves provenance — with the
    * offset bumped by one, then union with the raw stream and run the same
    * latest-image-wins [[materializeEnvelopeKeyed]]. A snapshot image is by
    * construction the per-key MAXIMUM (commit time, offset) among the
    * events it reflects, so every replayed pre-cutover event loses to it
    * (at worst on the bumped offset), while post-cutover events win on
    * commit time. A pre-cutover tombstone's key is absent from the snapshot
    * AND loses on replay to its own DELETE, which the apply then filters.
    *
    * Scale: the union is shuffle-free; the only exchange is the apply's
    * hash partition on (database, table, pk) — same cost as applying the
    * stream alone. `snapshot` must be shaped like
    * [[materializeEnvelopeKeyed]] output (the flattened event schema; its
    * derived `pk` column is recomputed). */
  def backfillMerge(snapshot: DataFrame, events: DataFrame): DataFrame =
    materializeEnvelopeKeyed(snapshot.drop("pk")
      .withColumn("offset", col("offset") + 1)
      .unionByName(events))

  /** Incremental maintenance for a NON-invertible aggregate (W8'', the
    * hard case [[maintainCounts]] dodges): `MAX(measure) per group` cannot
    * be maintained from ±deltas — a DELETE of the current maximum gives no
    * way to know the runner-up without state. The textbook production
    * answer implemented here: DIRTY-GROUP recompute. The batch's net
    * effect marks which groups it touches (old and new group of every
    * touched key); only those groups re-aggregate, reading the maintained
    * base-table snapshot restricted to dirty groups (a broadcast semi-join
    * — at 100 TB a partition-pruned scan of the group-keyed table);
    * untouched groups pass through from the standing view unread. Work is
    * ∝ |rows of dirty groups|, not |table| — the right trade when deletes
    * exist and groups are bounded (the top-k-auxiliary alternative only
    * wins when single groups are huge AND deletes are rare).
    *
    * @param view    maintained view: (groupCol, max_measure)
    * @param preSnap auxiliary: (pk, g, m) latest PRE-batch base images —
    *                the same rolled-forward snapshot every IVM deployment
    *                keeps (see [[maintainJoinAgg]])
    * @param events  flattened change events for the batch
    */
  def maintainMax(view: DataFrame, preSnap: DataFrame, events: DataFrame,
                  groupCol: String, measureCol: String): DataFrame = {
    val net = Materialize.once(batchLatest(events, Map(
        "g_new" -> element_at(col("data"), groupCol),
        "m_new" -> element_at(col("data"), measureCol).cast("bigint"))),
      "maintainMax touched set + post-snapshot + dirty groups")
    val touched = net.select(col("pk"))
    // post-batch snapshot: untouched keys pass through, touched keys take
    // their net image (tombstoned keys vanish)
    val postSnap = Materialize.once(preSnap.join(touched, Seq("pk"), "left_anti")
      .unionByName(net.filter(col("op") =!= "delete")
        .select(col("pk"), col("g_new").as("g"), col("m_new").as("m"))),
      "maintainMax post-batch snapshot")
    // dirty groups: every group a touched key sat in before OR sits in now
    val dirty = Materialize.once(preSnap.join(touched, Seq("pk"), "left_semi").select(col("g"))
      .unionByName(net.filter(col("op") =!= "delete").select(col("g_new").as("g")))
      .distinct(), "maintainMax dirty groups: recompute + view anti-join")
    val recomputed = postSnap.join(broadcast(dirty), Seq("g"), "left_semi")
      .groupBy(col("g")).agg(max(col("m")).as("max_measure"))
      .select(col("g").as(groupCol), col("max_measure"))
    view.join(broadcast(dirty.select(col("g").as(groupCol))),
        Seq(groupCol), "left_anti")
      .unionByName(recomputed)
  }

  /** Log compaction (the Kafka-compaction / changefeed-"squash" operator):
    * collapse a bounded event-log window to its NET effect — at most ONE
    * event per (database, table, pk) — such that replaying the compacted
    * log produces byte-identical materialized state to replaying the full
    * log. The standard changefeed economics: a key updated 1 000× ships
    * once downstream; an insert-then-tombstone key ships nothing.
    *
    * Net-op rule per key (events ordered by commit ts, then offset):
    *   first=insert, last=delete  → NOTHING (never visible outside window)
    *   first=insert, last≠delete  → INSERT carrying the last image
    *   first≠insert, last=delete  → DELETE
    *   otherwise                  → UPDATE carrying the last image, with
    *     the FIRST event's old image as `old_data` (the pre-window state
    *     as far as the window can know it; a leading DELETE has no old
    *     image, so a delete→re-insert key compacts to an UPDATE with null
    *     old — documented, the window genuinely cannot do better).
    *
    * Scale: one shuffle on (database, table, pk); both window passes (the
    * running first-op and the closing rank) share that partitioning —
    * exactly the [[materializeEnvelopeKeyed]] cost, but run once per
    * compaction window to make every DOWNSTREAM replay |keys|-sized instead
    * of |events|-sized. Replay equivalence
    * `materializeEnvelopeKeyed(compactLog(e)) == materializeEnvelopeKeyed(e)`
    * is property-certified in CdcApplyProps and oracle-certified by
    * `cdc_log_compaction` (same DuckDB oracle as `cdc_wire_latest`). */
  def compactLog(events: DataFrame): DataFrame = {
    // redelivered copies of a coordinate need no distinct: they are
    // byte-identical, so interchangeable for every window below, and the
    // closing `__rn === __n` filter keeps exactly one row per key
    val keyed = events.withColumn("pk", envelopePk)
    val w = Window.partitionBy(col("database"), col("table"), col("pk"))
      .orderBy(col("timestamp"), col("offset"))
    val wAll = Window.partitionBy(col("database"), col("table"), col("pk"))
    val marked = keyed
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__first_op", first(col("op")).over(w))
      .withColumn("__first_old", first(col("old_data")).over(w))
    marked.filter(col("__rn") === col("__n"))
      .filter(!(col("__first_op") === "insert" && col("op") === "delete"))
      .withColumn("op",
        when(col("__first_op") === "insert", lit("insert"))
          .when(col("op") === "delete", lit("delete"))
          .otherwise(lit("update")))
      .withColumn("operation", upper(col("op")))
      .withColumn("old_data",
        when(col("op") === "update", col("__first_old"))
          .otherwise(lit(null).cast(keyed.schema("old_data").dataType)))
      .drop("__rn", "__n", "__first_op", "__first_old")
  }

  /** Audit view: per-key change history with old→new transition columns for a
    * named attribute (W4 status transitions; W2 price deltas). */
  def transitions(events: DataFrame, attr: String): DataFrame =
    events
      .filter(col("op") === "update" && col("old_data").isNotNull)
      .select(
        col("timestamp"), col("database"), col("table"),
        envelopePk.as("pk"),
        element_at(col("old_data"), attr).as(s"old_$attr"),
        element_at(col("data"), attr).as(s"new_$attr"))
      .filter(col(s"old_$attr").isNotNull)
}
