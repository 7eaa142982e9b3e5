package graft.ops

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.{Bucketed, BucketedStore}

/** Deduplication operators for large-scale training-data pipelines
  * (SURVEY.md §2.7 X1/X2): exact, MinHash-LSH, SimHash, n-gram Jaccard.
  *
  * Scale posture (100 TB):
  *   - exact dedup is a single hash shuffle on a 32-byte digest, not on the
  *     full text — group keys stay small no matter how big documents get;
  *   - MinHash/LSH banding turns the quadratic all-pairs problem into a
  *     join keyed on (band, band-signature): only documents sharing a band
  *     bucket are compared, the classic MMDS §3 construction;
  *   - SimHash reduces each document to 64 bits; near-dup candidates are
  *     found by joining on rotated bit-blocks (Hamming ≤ k ⇒ some block of
  *     bits equal), again avoiding all-pairs;
  *   - everything is built from codegen'd built-ins (xxhash64, higher-order
  *     array functions) — no UDFs on the hot path.
  */
object Dedup {

  /** X1 — exact dedup: group by content digest, keep the smallest id.
    * Hashing first means the shuffle carries 32-byte keys, not documents. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("text_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Incremental exact dedup — the shape production pipelines actually run:
    * a NEW batch arrives and must be deduplicated against the standing
    * corpus AND within itself, without rescanning corpus text. Returns one
    * row per incoming document with its routing decision:
    * `drop_vs_corpus` (digest already kept), `drop_within_batch` (an
    * earlier incoming doc — lowest id wins — has the same digest), or
    * `keep`. At 100 TB the corpus side is a digest-only projection (32
    * bytes/doc on the shuffle wire, never text), and the corpus→batch
    * check is a left-semi-shaped broadcast/shuffle join a [[BloomPrune]]
    * pre-filter can cheapen further. */
  def exactIncremental(incoming: DataFrame, corpus: DataFrame,
                       textCol: String, idCol: String): DataFrame = {
    val inc = incoming.select(col(idCol), sha2(col(textCol), 256).as("text_sha"))
    val seen = corpus.select(sha2(col(textCol), 256).as("text_sha"))
      .distinct().withColumn("in_corpus", lit(1))
    exactIncrementalCore(inc, seen, idCol)
  }

  private def exactIncrementalCore(inc: DataFrame, seen: DataFrame,
                                   idCol: String): DataFrame = {
    val w = Window.partitionBy(col("text_sha")).orderBy(col(idCol).asc)
    inc.join(seen, Seq("text_sha"), "left")
      .withColumn("batch_rank", row_number().over(w))
      .select(col(idCol), col("text_sha"),
        when(col("in_corpus").isNotNull, "drop_vs_corpus")
          .when(col("batch_rank") > 1, "drop_within_batch")
          .otherwise("keep").as("action"))
  }

  // ---- persisted DIGEST index (X1's maintained artifact) ---------------
  //
  // The exact-dedup analog of the band/IVF index lifecycle: the standing
  // corpus's distinct text shas persist PARTITIONED BY `shab` =
  // pmod(xxhash64(text_sha), n) ([[digestIndex]]); every ingest probes the
  // index partition-pruned to the BATCH's sha buckets (the probe reads ≈
  // min(1, |batch buckets|/n) of the index bytes), keepers' shas APPEND
  // (files only added), and compaction rewrites over-threshold buckets via
  // the store's staged swap.

  /** Bucket column for the sha-bucketed digest index layout. */
  def shaBucket(sha: Column, nBuckets: Int): Column =
    pmod(xxhash64(sha), lit(nBuckets.toLong)).cast("int")

  /** The persisted digest index at `dir`: distinct `text_sha` rows
    * bucketed by [[shaBucket]] into `shab`. */
  def digestIndex(dir: String): BucketedStore =
    BucketedStore(dir, "shab", shaBucket(col("text_sha"), _))

  /** Build (or rebuild) the persisted digest index: the standing corpus's
    * DISTINCT text shas at `indexDir`, one file per bucket, the bucket
    * count recorded in the `_nbuckets` sidecar. */
  def buildDigestIndex(corpus: DataFrame, textCol: String, indexDir: String,
                       nBuckets: Int = LshIndexBuckets): Unit =
    digestIndex(indexDir).create(digestRows(corpus, textCol), nBuckets)

  /** MAINTAIN the digest index across ingests: append a batch's KEEPERS'
    * shas (files only added — one per touched bucket per ingest; standing
    * files never rewritten), bucketed under the index's recorded count.
    * Keepers' shas are distinct by construction (first-copy-wins keeps one
    * doc per new sha), so append == rebuild over corpus ∪ keepers,
    * spec-pinned in DedupSpec. */
  def appendDigestIndex(batchKeepers: DataFrame, textCol: String,
                        indexDir: String): Unit =
    digestIndex(indexDir).append(digestRows(batchKeepers, textCol))

  private def digestRows(docs: DataFrame, textCol: String): DataFrame =
    docs.select(sha2(col(textCol), 256).as("text_sha")).distinct()

  /** [[exactIncremental]] against the persisted digest index (a
    * [[digestIndex]] read): only the batch is hashed, and the standing
    * index is read PARTITION-PRUNED to the batch's sha buckets under the
    * index's recorded count — identical routing by construction (the
    * bucket is a pure function of the join key). */
  def exactIncrementalBucketed(index: Bucketed, incoming: DataFrame,
                               textCol: String, idCol: String): DataFrame = {
    val inc = Materialize.once(
      incoming.select(col(idCol), sha2(col(textCol), 256).as("text_sha")),
      "exact-dedup routing join + bucket collect")
    val seen = index.probe(inc)
      .select(col("text_sha")).distinct().withColumn("in_corpus", lit(1))
    exactIncrementalCore(inc, seen, idCol)
  }

  /** Word-level shingles of size n as a deduplicated array column.
    * Documents shorter than n words yield an empty set (the guard matters:
    * an unguarded `sequence(1, size-n+1)` is descending for short docs and
    * `slice` throws). */
  def shingles(textCol: Column, n: Int): Column = {
    val words = split(textCol, " ")
    when(size(words) >= n,
      array_distinct(
        transform(
          sequence(lit(1), size(words) - (n - 1)),
          i => array_join(slice(words, i, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** Per-document shingle MULTISET counts `(id, shingle, c)` — the shared
    * (and run-level cacheable) INPUT of the shingle-keyed x2 family
    * (round-10 verdict #5): one row per distinct (document, shingle).
    * Set-based consumers ([[ngramJaccardPairsFromShingles]],
    * [[containmentPairsFromShingles]], the MinHash `FromShingles`
    * variants) read the `(id, shingle)` rows; the tf-weighted consumer
    * ([[tfCosinePairsFromShingles]]) reads `c`. Documents shorter than `n`
    * words contribute no rows — they have no shingles and cannot pair,
    * exactly the `size(sh) > 0` guard of the array form. This is also the
    * production shape: a pipeline lands the shingle index once per corpus
    * generation and every near-dup pass reads it, rather than re-exploding
    * the text per query. */
  def shingleCounts(df: DataFrame, textCol: String, idCol: String,
                    n: Int): DataFrame = {
    val words = split(col(textCol), " ")
    // shingles WITH multiplicity (no array_distinct): the count column
    // carries the tf weight; the row set itself is the distinct shingle set
    val allSh = when(size(words) >= n,
      transform(sequence(lit(1), size(words) - (n - 1)),
        i => array_join(slice(words, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol).as("id"), explode(allSh).as("shingle"))
      .groupBy("id", "shingle").agg(count(lit(1)).as("c"))
  }

  /** X2 — MinHash-LSH near-duplicate candidate pairs.
    *
    * signature → split into `bands` bands of `rowsPerBand` hashes → explode
    * one row per band → shuffle-join on (band-index, band-hash) → candidate
    * pairs, deduped. Estimated Jaccard = fraction of matching signature
    * positions. Only candidates sharing a full band collide, so the join
    * fan-out is the LSH collision set, not n². */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
                      shingleSize: Int = 3, bands: Int = 8,
                      rowsPerBand: Int = 2, minJaccard: Double = 0.5): DataFrame =
    minhashLshPairsFromShingles(
      df.select(col(idCol).as("id"),
        explode(shingles(col(textCol), shingleSize)).as("shingle")),
      bands, rowsPerBand, minJaccard)

  /** [[minhashLshPairs]] over a pre-materialized exploded shingle frame
    * `(id, shingle)` (see [[shingleCounts]]) — the shape that lets a run
    * share ONE shingle table across the whole x2 family. The signatures
    * come out as one codegen'd partial aggregation (numHashes seeded mins
    * map-side combined) instead of per-row array lambdas; the min over the
    * same distinct set is the same signature either way. Docs with no
    * shingles have no rows and drop out exactly as the array form's
    * `size(sh) > 0` guard. */
  def minhashLshPairsFromShingles(sh: DataFrame, bands: Int = 8,
                                  rowsPerBand: Int = 2,
                                  minJaccard: Double = 0.5): DataFrame = {
    val numHashes = bands * rowsPerBand
    // One aggregation pass, then materialized: un-materialized, Catalyst's
    // CollapseProject re-inlined the minhash tree into the band projection
    // and both self-join sides, 16× over in an earlier revision (1887 s at
    // sf0.1).
    val minCols = (0 until numHashes).map { seed =>
      min(xxhash64(lit(seed), col("shingle"))).as(s"h$seed")
    }
    val sigs = Materialize.once(sh
      .groupBy("id").agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig")),
      "minhash bands + both self-join sides")

    val banded = sigs.select(
      col("id"), col("sig"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))
      }: _*)).as(Seq("band", "band_hash")))

    val a = banded.select(col("band"), col("band_hash"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_hash"),
      col("id").as("id_b"), col("sig").as("sig_b"))

    // A pair colliding in k bands appears k times; emit it ONCE — at the
    // first band whose hashes are equal — with a stateless filter instead of
    // a groupBy(id_a, id_b) dedup: the estimate depends only on the two
    // signatures, so the duplicate rows were identical and the dedup shuffle
    // was pure waste. The recomputed band hashes use the same function as the
    // join key, so hash-collision behavior stays consistent with the join.
    def bandHash(sig: Column, b: Int): Column =
      xxhash64(concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand)))
    val firstMatchingBand = (0 until bands).map { j =>
      col("band") <= j || bandHash(col("sig_a"), j) =!= bandHash(col("sig_b"), j)
    }.reduce(_ && _)
    // positionwise signature agreement as a codegen'd sum of comparisons
    // (getItem unrolled), not an interpreted zip_with/aggregate fold
    val estJaccard = (0 until numHashes).map { i =>
      when(col("sig_a").getItem(i) === col("sig_b").getItem(i), 1).otherwise(0)
    }.reduce(_ + _).cast("double") / numHashes

    a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .filter(firstMatchingBand)
      .select(col("id_a"), col("id_b"), estJaccard.as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
  }

  /** (id, sig, band, band_key) rows of the portable md5 MinHash family —
    * the signature pipeline shared by [[minhashLshPairsPortable]] and
    * [[lshIncrementalPortable]]. Hash family: one md5 per SEED PAIR, split
    * into two 60-bit positive hashes (hex chars 1-15 and 16-30) — halves
    * the md5 work — and the shingle set is exploded so the mins run as one
    * codegen'd partial aggregation (md5 shared across the pair by
    * subexpression elimination) instead of numHashes interpreted
    * array_min(transform(...)) lambdas. */
  private def portableBandRows(df: DataFrame, textCol: String, idCol: String,
                               shingleSize: Int, bands: Int,
                               rowsPerBand: Int): DataFrame =
    portableBandRowsFromShingles(
      df.select(col(idCol).as("id"),
        explode(shingles(col(textCol), shingleSize)).as("shingle")),
      bands, rowsPerBand)

  /** [[portableBandRows]] over a pre-materialized exploded shingle frame
    * `(id, shingle)` — the [[minhashLshPairsFromShingles]] rationale for
    * the md5-portable family. */
  private def portableBandRowsFromShingles(sh: DataFrame, bands: Int,
                                           rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val shRows = sh
      .select(col("id"), col("shingle").as("s"))
      // materialize each pair's md5 ONCE as a projection column — aggregate
      // expressions don't subexpression-share, so min-ing over md5 inline
      // would hash twice per pair
      .select(col("id") +: (0 until bands).map(sd =>
        md5(concat(lit(s"$sd|"), col("s"))).as(s"m$sd")): _*)
    val minCols = (0 until numHashes).map { i =>
      min(conv(substring(col(s"m${i / 2}"), 1 + 15 * (i % 2), 15), 16, 10)
        .cast("bigint")).as(s"h$i")
    }
    val sigs = Materialize.once(shRows.groupBy("id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig")),
      "portable minhash band rows")
    def bandKey(sig: Column, b: Int): Column =
      concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand))
    sigs.select(col("id"), col("sig"),
      posexplode(array((0 until bands).map(b => bandKey(col("sig"), b)): _*))
        .as(Seq("band", "band_key")))
  }

  /** MinHash-LSH with an md5-derived hash family and string band keys —
    * the PORTABLE twin of [[minhashLshPairs]]: every step (min over
    * `int(md5(seed|shingle)[0:15 hex])`, band-key equality, positionwise
    * agreement) is exactly reproducible in ANSI-ish SQL, so the whole sketch
    * pipeline is oracle-checkable, not just its exact-Jaccard target.
    * Trade-offs vs the fast twin: md5 costs more than xxhash64 and string
    * band keys shuffle wider than 8-byte hashes — use the xxhash64 form at
    * scale, this form to certify the algorithm. */
  def minhashLshPairsPortable(df: DataFrame, textCol: String, idCol: String,
                              shingleSize: Int = 3, bands: Int = 8,
                              rowsPerBand: Int = 2, minJaccard: Double = 0.25): DataFrame =
    portablePairsFromBandRows(
      portableBandRows(df, textCol, idCol, shingleSize, bands, rowsPerBand),
      bands, rowsPerBand, minJaccard)

  /** [[minhashLshPairsPortable]] over a pre-materialized exploded shingle
    * frame `(id, shingle)` — see [[shingleCounts]]. */
  def minhashLshPairsPortableFromShingles(sh: DataFrame, bands: Int = 8,
                                          rowsPerBand: Int = 2,
                                          minJaccard: Double = 0.25): DataFrame =
    portablePairsFromBandRows(
      portableBandRowsFromShingles(sh, bands, rowsPerBand),
      bands, rowsPerBand, minJaccard)

  private def portablePairsFromBandRows(banded: DataFrame, bands: Int,
                                        rowsPerBand: Int,
                                        minJaccard: Double): DataFrame = {
    val numHashes = bands * rowsPerBand
    def bandKey(sig: Column, b: Int): Column =
      concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand))
    val a = banded.select(col("band"), col("band_key"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_key"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    val firstMatchingBand = (0 until bands).map { j =>
      col("band") <= j || bandKey(col("sig_a"), j) =!= bandKey(col("sig_b"), j)
    }.reduce(_ && _)
    val estJaccard = (0 until numHashes).map { i =>
      when(col("sig_a").getItem(i) === col("sig_b").getItem(i), 1).otherwise(0)
    }.reduce(_ + _).cast("double") / numHashes
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .filter(firstMatchingBand)
      .select(col("id_a"), col("id_b"), estJaccard.as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard)
  }

  /** The band-index ROWS for a corpus — exactly what [[buildLshBandIndex]]
    * persists; exposed so a caller can materialize them through its own
    * storage/cache layer and feed [[lshIngestClassify]] directly. */
  def buildLshBandRows(corpus: DataFrame, textCol: String, idCol: String,
                       shingleSize: Int = 3, bands: Int = 8,
                       rowsPerBand: Int = 2): DataFrame =
    portableBandRows(corpus, textCol, idCol, shingleSize, bands, rowsPerBand)

  /** [[buildLshBandRows]] over a pre-materialized distinct shingle frame
    * `(id, shingle)` — the [[shingleCounts]] sharing shape, for callers
    * whose shingle index is itself a maintained artifact. */
  def buildLshBandRowsFromShingles(sh: DataFrame, bands: Int = 8,
                                   rowsPerBand: Int = 2): DataFrame =
    portableBandRowsFromShingles(sh, bands, rowsPerBand)

  // ---- band-key-BUCKETED index layout (the 100 TB probe discipline) ----
  //
  // The standing band index is persisted PARTITIONED BY `bkb` =
  // pmod(xxhash64(band, band_key), nBuckets): every probe first computes
  // the BATCH's bucket set (bounded driver metadata, ≤ nBuckets ints) and
  // reads only those directories — the
  // [[graft.ops.Similarity.writeIvfIndexInt]] partition-pruning discipline
  // applied to band keys, closing the last per-ingest O(corpus) scan in
  // the nightly loop (round-17 verdict #1; until round 18 this layout was
  // prose posture only). The bucket is a pure function of the collision
  // join key (band, band_key), so every colliding row lives in a
  // colliding bucket: pruning is a strict superset filter and the
  // collision / verification / classification semantics are
  // layout-invariant — a batch that happens to touch every bucket
  // degenerates to the full scan, never to a wrong answer. Size nBuckets
  // to the corpus/batch ratio: a probe reads ≈ min(1, |batch buckets| /
  // nBuckets) of the index bytes.

  /** Default bucket count for the persisted layout — small enough that the
    * sf-test corpora still fill every directory, large enough to exercise
    * real multi-directory pruning in the specs; a 100 TB deployment sizes
    * this to its corpus/batch ratio. */
  val LshIndexBuckets = 32

  /** The bucket column: `pmod(xxhash64(band, band_key), nBuckets)`, cast
    * int so the computed frame and the partition-directory read-back
    * (which infers int32) stay identically typed. A layout artifact only —
    * never part of any result. */
  def lshBandBucket(band: Column, bandKey: Column, nBuckets: Int): Column =
    pmod(xxhash64(band, bandKey), lit(nBuckets.toLong)).cast("int")

  /** The persisted LSH band index at `dir`: band rows bucketed by
    * [[lshBandBucket]] into `bkb`. */
  def bandIndex(dir: String): BucketedStore =
    BucketedStore(dir, "bkb", lshBandBucket(col("band"), col("band_key"), _))

  /** Bucket column for the id-bucketed SHINGLE artifact layout — the
    * VERIFICATION side of discovery gets the same pruned-probe discipline
    * as the band index: candidate endpoints are a bounded id set, so the
    * standing shingle rows they need live in a bounded bucket set. */
  def docIdBucket(id: Column, nBuckets: Int): Column =
    pmod(xxhash64(id), lit(nBuckets.toLong)).cast("int")

  /** The shingle artifact at `dir`: `(id, shingle)` rows bucketed by
    * [[docIdBucket]] into `idb`. Probing it with a bounded id set is a
    * strict superset filter (the exact semi-join on id still runs after
    * it): scan savings ∝ untouched buckets, decisive when the candidate set
    * is small against the bucket count, a no-op degradation (never a wrong
    * answer) when candidates touch every bucket. */
  def shingleIndex(dir: String): BucketedStore =
    BucketedStore(dir, "idb", docIdBucket(col("id"), _))

  /** Near-dup pairs TOUCHING a new batch, DISCOVERED from the standing
    * corpus's persisted band index and then EXACTLY verified — the
    * candidate-generation + verification shape of a nightly ingest whose
    * pair input must be O(batch), never O(corpus):
    *
    *   1. band the batch ([[portableBandRows]] — only the batch is
    *      hashed) and collide it against the standing band-index rows and
    *      against itself: candidate pairs are exactly the band
    *      collisions, the LSH contract;
    *   2. verify every candidate by EXACT shingle Jaccard — the
    *      [[ngramJaccardPairsFromShingles]] arithmetic verbatim (distinct
    *      shingle rows, n_common / (|A|+|B|−n_common), same double
    *      division) computed ONLY over candidate ids: standing shingle
    *      rows come from the caller's maintained shingle artifact
    *      semi-joined to candidate endpoints, batch rows from the batch.
    *
    * Verification makes discovered pairs exact (a colliding sub-threshold
    * pair is rejected); what banding governs is RECALL — a true pair that
    * never collides in any band is invisible, with miss probability
    * (1 − J^rowsPerBand)^bands (the standard S-curve). At the default
    * 8×2 family a J=0.9 near-duplicate is missed w.p. ~4·10⁻⁶; a pair at
    * the verify threshold itself (J=0.3) w.p. ~0.47 — tune bands/rows to
    * the operating point of the corpus's real duplicates, not the verify
    * cut (dup families in practice sit far above it; the verify threshold
    * is the conservative contract for what IS discovered).
    *
    * `corpusShingles` / `batchShingles` are distinct `(id, shingle)` rows
    * ([[shingleCounts]] output shape) over DISJOINT id spaces. Returns
    * `(id_a, id_b, jaccard)` with `id_a < id_b`, exactly the
    * [[ngramJaccardPairsFromShingles]] row shape.
    *
    * 100 TB posture: the batch side is small — AQE broadcasts it into the
    * collision join, so the standing index is never shuffled. This frame
    * form pays one full SCAN of the standing band index per ingest; the
    * bucketed twin [[lshDiscoverVerifiedPairsBucketed]] removes it by
    * partition-pruning the persisted `bkb` layout to the batch's colliding
    * buckets (identical discovered set — the bucket is a pure function of
    * the collision key). */
  def lshDiscoverVerifiedPairs(corpusBands: DataFrame,
                               corpusShingles: DataFrame,
                               batchShingles: DataFrame,
                               bands: Int = 8, rowsPerBand: Int = 2,
                               minJaccard: Double = 0.5): DataFrame = {
    val batchBands = Materialize.once(portableBandRowsFromShingles(
      batchShingles, bands, rowsPerBand), "LSH discovery collision joins")
    discoverVerifiedPairsCore(corpusBands, batchBands, _ => corpusShingles,
      batchShingles, minJaccard)
  }

  /** [[lshDiscoverVerifiedPairs]] against the persisted band index (a
    * [[bandIndex]] read): the standing index is read PARTITION-PRUNED to
    * the batch's colliding buckets before the collision join — identical
    * discovered set by construction, index bytes read ∝ batch buckets. The
    * standing shingles are a frame used whole (`Left`) or a
    * [[shingleIndex]] probed PRUNED to the candidate endpoints' buckets
    * (`Right`); both sides of verification stay exact either way. */
  def lshDiscoverVerifiedPairsBucketed(index: Bucketed,
                                       corpusShingles: Either[DataFrame, Bucketed],
                                       batchShingles: DataFrame,
                                       bands: Int = 8, rowsPerBand: Int = 2,
                                       minJaccard: Double = 0.5): DataFrame = {
    val batchBands = Materialize.once(portableBandRowsFromShingles(
      batchShingles, bands, rowsPerBand),
      "LSH discovery collision joins + bucket collect")
    val shinglesFor: DataFrame => DataFrame = corpusShingles match {
      case Left(whole) => _ => whole
      case Right(idx) => ids => idx.probe(ids).drop("idb")
    }
    discoverVerifiedPairsCore(index.probe(batchBands).drop("bkb"),
      batchBands, shinglesFor, batchShingles, minJaccard,
      checkpointIds = corpusShingles.isRight)
  }

  private def discoverVerifiedPairsCore(corpusBands: DataFrame,
                                        batchBands: DataFrame,
                                        corpusShinglesFor: DataFrame => DataFrame,
                                        batchShingles: DataFrame,
                                        minJaccard: Double,
                                        checkpointIds: Boolean = false): DataFrame = {
    // the batch shingle tree (scan + explode + distinct) has two consumers
    // (the band rows the caller built and the verification side's union)
    // and is LEFT UNMATERIALIZED on purpose: an interleaved A/B at sf0.1
    // measured the materialize-once variant equal-to-slower (5.1-6.5
    // vs 5.3-5.6 s on x10_state_reps, identical hashes) — serializing
    // every shingle string through the block manager costs as much as
    // re-running the cheap parallel tree, the same barrier-vs-reeval trade
    // the float-ANN serves resolved the OTHER way (their trees are much
    // heavier)
    val bsh = batchShingles
    def side(df: DataFrame, as: String) =
      df.select(col("band"), col("band_key"), col("id").as(as))
    val vsCorpus = side(batchBands, "id_x")
      .join(side(corpusBands, "id_y"), Seq("band", "band_key"))
    val vsBatch = side(batchBands, "id_x")
      .join(side(batchBands, "id_y"), Seq("band", "band_key"))
      .filter(col("id_y") < col("id_x"))
    val cand = Materialize.once(vsCorpus.unionByName(vsBatch)
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
      .dropDuplicates("id_a", "id_b"), // multi-band collisions verify once
      "LSH candidates: id restriction + verify join")
    // exact verification over candidate ids only: the standing shingle
    // artifact is touched through a semi-join on candidate endpoints, so
    // verify work is ∝ Σ_candidates |shingles|, never ∝ |corpus|. When the
    // shingle side will be BUCKET-PRUNED, the shingle probe adds a
    // driver-side bucket collect as a THIRD consumer of `ids`, so it is
    // materialized then (round-18 ADVICE); on the default (unpruned) path
    // the two semi-joins re-run that cheap tree, which the
    // barrier-vs-reeval A/Bs consistently favor at this frame size
    val ids0 = cand.select(col("id_a").as("id"))
      .union(cand.select(col("id_b").as("id"))).distinct()
    val ids = if (checkpointIds) Materialize.once(ids0, "LSH verify ids") else ids0
    val sh = Materialize.once(corpusShinglesFor(ids).select(col("id"), col("shingle"))
      .join(ids, Seq("id"), "left_semi")
      .unionByName(bsh.select(col("id"), col("shingle"))
        .join(ids, Seq("id"), "left_semi"))
      .select(col("id"), xxhash64(col("shingle")).as("shingle_h")),
      "LSH verify: set sizes + both verify sides")
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("set_size"))
    cand
      .join(sh.select(col("id").as("id_a"), col("shingle_h")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingle_h")),
        Seq("id_b", "shingle_h"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("set_size", "size_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("set_size", "size_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("size_a") + col("size_b") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Build (or rebuild) the persisted LSH band index for
    * [[lshIncrementalPortable]]: the [[portableBandRows]] signature+band
    * rows of the standing corpus as a [[bandIndex]] at `indexDir`, so later
    * ingests probe it partition-pruned (the bucketed-layout discipline
    * above) — one file per bucket, the bucket count recorded in the
    * `_nbuckets` sidecar. */
  def buildLshBandIndex(corpus: DataFrame, textCol: String, idCol: String,
                        indexDir: String, shingleSize: Int = 3,
                        bands: Int = 8, rowsPerBand: Int = 2,
                        nBuckets: Int = LshIndexBuckets): Unit =
    bandIndex(indexDir).create(portableBandRows(corpus, textCol, idCol,
      shingleSize, bands, rowsPerBand), nBuckets)

  /** MAINTAIN the persisted LSH band index across ingests: append the
    * band rows of a batch's KEEPERS (the docs an ingest classified
    * `keep`), bucketed under the index's recorded count, so the NEXT
    * ingest's corpus side includes them — the "append new keepers' band
    * rows" half of the [[lshIncrementalPortable]] contract. Only the batch
    * is hashed; the write APPENDS files (one per touched bucket per
    * ingest, the bounded append-rate that makes nightly compaction a
    * threshold sweep, not a race) and standing index files are never
    * rewritten (spec-pinned in DedupSpec). Band rows are per-document
    * independent, so append-then-classify is bit-identical to a full
    * rebuild over corpus ∪ keepers — same single-writer pipeline contract
    * as the first build. */
  def appendLshBandIndex(batchKeepers: DataFrame, textCol: String,
                         idCol: String, indexDir: String,
                         shingleSize: Int = 3, bands: Int = 8,
                         rowsPerBand: Int = 2): Unit =
    bandIndex(indexDir).append(portableBandRows(batchKeepers, textCol, idCol,
      shingleSize, bands, rowsPerBand))

  /** INCREMENTAL near-dup ingest — X2's analog of [[exactIncremental]]:
    * classify each NEW document against the STANDING corpus's persisted
    * LSH band index and against earlier documents of its own batch,
    * re-hashing only the batch. The corpus index (the [[portableBandRows]]
    * signature+band rows) is built at `indexDir` ONLY when no index is
    * there yet (a new [[bandIndex]] store) — every later
    * ingest against the same path reuses it, so per-ingest cost is
    * O(batch), never O(corpus):
    * the property that keeps continuous near-dedup viable at 100 TB,
    * exactly as [[exactIncremental]] establishes for digests. The caller
    * owns invalidation: maintain the index across ingests (append new
    * keepers' band rows), or rebuild explicitly via [[buildLshBandIndex]]
    * when the corpus changes out-of-band.
    *
    * Classification is first-copy-wins, corpus first: any ≥`minAgree`
    * signature agreement (integer positions-of-16, no float Jaccard)
    * against the corpus ⇒ `near_dup_of_corpus`; else against a LOWER-id
    * batch doc ⇒ `near_dup_within_batch`; else `keep`. The md5-portable
    * family makes every step — signatures, band collision, agreement
    * count, classification — oracle-replayable in SQL. Candidates come
    * only from band collisions (the LSH contract): a sub-threshold pair
    * that never collides is invisible by design on BOTH engines. */
  def lshIncrementalPortable(corpus: DataFrame, batch: DataFrame,
                             textCol: String, idCol: String, indexDir: String,
                             shingleSize: Int = 3, bands: Int = 8,
                             rowsPerBand: Int = 2, minAgree: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    // An existing index is REUSED, not rebuilt — this is what makes the
    // per-ingest cost genuinely O(batch) across calls (round-8 ADVICE: an
    // unconditional rebuild made the claim true only in prose). Only a new
    // store (no sidecar, no bkb= directory) is built; an existing one is
    // probed partition-pruned under its RECORDED bucket count, so an index
    // built with a non-default count is probed correctly without the caller
    // carrying the number. The caller owns invalidation (fresh indexDir or
    // explicit [[buildLshBandIndex]] on a corpus change) AND first-build
    // coordination: index maintenance is a single-writer pipeline step; two
    // concurrent FIRST ingests against one empty indexDir race their
    // overwrite writes.
    val index = bandIndex(indexDir).readOr(spark) {
      buildLshBandIndex(corpus, textCol, idCol, indexDir,
        shingleSize, bands, rowsPerBand)
      LshIndexBuckets
    }
    lshIngestClassifyBucketed(index, batch, textCol, idCol, shingleSize,
      bands, rowsPerBand, minAgree)
  }

  /** The ingest-classify core of [[lshIncrementalPortable]], taking the
    * standing corpus's band-index ROWS directly (however the caller
    * materialized them — a parquet read, a [[portableBandRows]] result, a
    * run-level cache); hashes ONLY the batch. */
  def lshIngestClassify(corpusBands: DataFrame, batch: DataFrame,
                        textCol: String, idCol: String,
                        shingleSize: Int = 3, bands: Int = 8,
                        rowsPerBand: Int = 2, minAgree: Int = 4): DataFrame = {
    val batchBands = Materialize.once(portableBandRows(batch, textCol, idCol,
      shingleSize, bands, rowsPerBand), "LSH ingest match passes")
    ingestClassifyCore(corpusBands, batchBands, batch, idCol,
      bands * rowsPerBand, minAgree)
  }

  /** [[lshIngestClassify]] against the persisted band index (a
    * [[bandIndex]] read, or its rows kept as frames): the standing index is
    * read PARTITION-PRUNED to the batch's colliding buckets under the
    * index's recorded count before the collision joins — identical
    * classification by construction, index bytes read ∝ batch buckets. */
  def lshIngestClassifyBucketed(index: Bucketed, batch: DataFrame,
                                textCol: String, idCol: String,
                                shingleSize: Int = 3, bands: Int = 8,
                                rowsPerBand: Int = 2, minAgree: Int = 4): DataFrame = {
    val batchBands = Materialize.once(portableBandRows(batch, textCol, idCol,
      shingleSize, bands, rowsPerBand), "LSH ingest match passes + bucket collect")
    ingestClassifyCore(index.probe(batchBands).drop("bkb"),
      batchBands, batch, idCol, bands * rowsPerBand, minAgree)
  }

  private def ingestClassifyCore(corpusBands: DataFrame,
                                 batchBands: DataFrame, batch: DataFrame,
                                 idCol: String, numHashes: Int,
                                 minAgree: Int): DataFrame = {
    val agree = (0 until numHashes).map(i =>
      when(col("sig_a").getItem(i) === col("sig_b").getItem(i), 1).otherwise(0))
      .reduce(_ + _)
    def matchCounts(other: DataFrame, cond: Column) = batchBands
      .select(col("band"), col("band_key"), col("id").as("id_a"), col("sig").as("sig_a"))
      .join(other.select(col("band"), col("band_key"),
        col("id").as("id_b"), col("sig").as("sig_b")), Seq("band", "band_key"))
      .filter(cond)
      // agree BEFORE the pair dedup, then project to the bare id pair:
      // `agree` depends only on (sig_a, sig_b), which are per-doc constants
      // carried on every band row, so every multi-band collision row of a
      // pair passes or fails identically and filter-then-dedup ≡
      // dedup-then-filter. Order matters for the PLAN, not the result:
      // deduping first kept sig_a/sig_b alive through first() aggregates
      // whose ARRAY buffers HashAggregate cannot hold, forcing a
      // SortAggregate pair (sort both sides of the exchange, 16-element
      // array payloads on the wire); this way the dedup exchange carries
      // two longs and hash-aggregates with map-side partials, and the
      // agree compare is 16 codegen'd int compares per collision row —
      // cheap where the editDistance1Pairs confirm (levenshtein) was not
      // (round-20 plan audit; plans/r20).
      .filter(agree >= minAgree)
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b") // multi-band collisions count once
      .groupBy(col("id_a")).agg(count(lit(1)).as("n"))
    val vsCorpus = matchCounts(corpusBands, lit(true))
    val withinBatch = matchCounts(batchBands, col("id_b") < col("id_a"))
    batch.select(col(idCol).as("doc_id"))
      .join(vsCorpus.select(col("id_a").as("doc_id"), col("n").as("nc")),
        Seq("doc_id"), "left")
      .join(withinBatch.select(col("id_a").as("doc_id"), col("n").as("nb")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(coalesce(col("nc"), lit(0L)) > 0, "near_dup_of_corpus")
          .when(coalesce(col("nb"), lit(0L)) > 0, "near_dup_within_batch")
          .otherwise("keep").as("status"),
        coalesce(col("nc"), lit(0L)).as("n_corpus_matches"),
        coalesce(col("nb"), lit(0L)).as("n_batch_matches"))
  }

  /** 64-bit SimHash over words: per-word xxhash64; each of the 64 bit
    * positions votes +1/-1 by that bit; final bit = sign of the vote sum.
    * Routed through the codegen [[graft.functions.SimHashBits]] since
    * round 15 — the previous 64-×-`aggregate`-lambda Column formulation
    * was interpreted per element AND (its own doc's warning notwithstanding)
    * re-ran the word hashing once per bit when handed an inline
    * `transform(split(...))` tree, as this very function did. */
  def simhash(textCol: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge._
    column(graft.functions.SimHashBits(
      expression(split(textCol, " ")), 64, md5 = false))
  }

  /** The [[graft.functions.SimHashBits]] per-row signature — default since
    * round 15: the whole vote loop runs inside one codegen'd projection, so
    * the word rows never exist and the per-doc vote aggregation's shuffle
    * disappears (the [[graft.functions.WinnowSelect]] lesson applied to the
    * other per-document-local sketch). DedupSpec pins equality with the
    * exploded-word aggregate twin (test scope) for both hash families. */
  private def simhashExprFrame(df: DataFrame, textCol: String, idCol: String,
                               nBits: Int, md5: Boolean): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge._
    df.select(col(idCol).as("id"),
      column(graft.functions.SimHashBits(
        expression(split(col(textCol), " ")), nBits, md5)).as("sh"))
  }

  /** SimHash frame (id, sh) over 64 xxhash64-derived bits. Identical vote
    * semantics to [[simhash]] (duplicates counted, empty text = one
    * empty-string word). */
  def simhashFrame(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashExprFrame(df, textCol, idCol, 64, md5 = false)

  /** PORTABLE SimHash twin: 60 bits from `int(md5(word)[0:15 hex])` — every
    * step (word hash, bit votes, bit assembly) is reproducible in ANSI-ish
    * SQL, so the signature pipeline is oracle-checkable end-to-end, exactly
    * like [[minhashLshPairsPortable]] vs the xxhash64 fast twin. */
  def simhashFramePortable(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashExprFrame(df, textCol, idCol, 60, md5 = true)

  /** SimHash near-dup candidates: by pigeonhole, Hamming(a,b) ≤ k guarantees
    * at least one of (k+1) bit-blocks is equal — join per block, then verify
    * exact Hamming distance. Block count derives from `maxHamming` (a fixed
    * block count silently drops pairs beyond its guarantee). */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame =
    simhashPairsFromFrame(simhashFrame(df, textCol, idCol), 64, maxHamming)

  /** [[simhashPairs]] over the md5-portable 60-bit signature — with the
    * signature AND the pair derivation (block join, exact Hamming verify)
    * oracle-checkable in SQL. */
  def simhashPairsPortable(df: DataFrame, textCol: String, idCol: String,
                           maxHamming: Int = 3): DataFrame =
    simhashPairsFromFrame(simhashFramePortable(df, textCol, idCol), 60, maxHamming)

  private def simhashPairsFromFrame(frame: DataFrame, nBits: Int,
                                    maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < nBits, s"maxHamming must be in [0, ${nBits - 1}]")
    val blocks = maxHamming + 1
    // block b spans bits [nBits*b/blocks, nBits*(b+1)/blocks) — widths differ
    // by at most one bit; every bit belongs to exactly one block
    val bounds = (0 to blocks).map(b => nBits * b / blocks)
    val hashed = Materialize.once(frame, "simhash block join + hamming verify")
    val blocked = hashed.select(col("id"), col("sh"),
      posexplode(array((0 until blocks).map { b =>
        val start = bounds(b)
        val width = bounds(b + 1) - start
        val mask = if (width == 64) -1L else (1L << width) - 1L
        shiftright(col("sh"), start).bitwiseAND(mask)
      }: _*)).as(Seq("block", "block_val")))
    val a = blocked.select(col("block"), col("block_val"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = blocked.select(col("block"), col("block_val"), col("id").as("id_b"), col("sh").as("sh_b"))
    // Emit-once + early Hamming cut, both stateless: a pair whose hashes
    // agree in k blocks would surface k times (near-identical docs agree in
    // nearly all blocks), and false candidates (block equal, Hamming > max)
    // used to ride through the dedup shuffle too. Filtering on exact Hamming
    // AND "this is the first equal block" removes the groupBy(id_a, id_b)
    // exchange entirely — the Hamming distance is a function of the two
    // signatures, so duplicate occurrences carried no information.
    def blockOf(sh: Column, j: Int): Column = {
      val start = bounds(j)
      val width = bounds(j + 1) - start
      val mask = if (width == 64) -1L else (1L << width) - 1L
      shiftright(sh, start).bitwiseAND(mask)
    }
    val firstEqualBlock = (0 until blocks).map { j =>
      col("block") <= j || blockOf(col("sh_a"), j) =!= blockOf(col("sh_b"), j)
    }.reduce(_ && _)
    a.join(b, Seq("block", "block_val"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming && firstEqualBlock)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** X9 — resolve near-dup pairs into duplicate CLUSTERS: connected
    * components of the pair graph by iterative min-label propagation
    * ("hash-min"). Each node starts labeled with its own id; every round each
    * node takes the min of its label and its neighbors' labels; convergence
    * in O(graph diameter) rounds. Near-dup clusters are shallow (diameter
    * 2-4 — docs similar to a common ancestor), so the loop exits after 2-3
    * rounds in practice; `maxIters` bounds pathological chains (rounds run
    * in pairs, so an ODD maxIters admits one extra round before the bound
    * check). Every round is one co-partitioned shuffle join (labels⋈edges
    * on the node id) plus a min-aggregate — no driver-side data, and
    * materializing each round keeps plan size constant across rounds;
    * rounds run TWO per materialization+probe job (round-21, from
    * round-20 verdict #3) since only a "no change" probe result carries
    * information, halving the per-CC job-barrier count. At extreme diameters
    * the two-phase large-star/small-star variant (Kiveris et al., "Connected
    * Components in MapReduce") halves round count; hash-min is the right
    * trade for dedup-shaped graphs.
    *
    * Returns (id, cluster_id) for every node that appears in `pairs`;
    * cluster_id = min node id of the component, so the row with
    * `id == cluster_id` is the canonical keeper. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIters: Int = 20): DataFrame = {
    val p = Materialize.once(pairs.select(col(idA), col(idB)),
      "connected components symmetrizing union")
    val edges = Materialize.once(p.select(col(idA).as("src"), col(idB).as("dst"))
      .union(p.select(col(idB).as("src"), col(idA).as("dst"))),
      "connected components rounds")
    var labels = Materialize.once(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")), "connected components first round")
    val labelType = labels.schema("label").dataType
    // one min-label propagation round, optionally carrying each node's
    // previous label as `prev` for the convergence probe (the node's own
    // row carries it through the groupBy; neighbor contributions carry
    // null — so the probe is ONE scalar aggregate over the checkpointed
    // result, no join against the previous labels, no second shuffle).
    // Every id in the union appears in `ls` (it holds all edge
    // endpoints), so `prev` is never null after the max().
    def round(ls: DataFrame, withPrev: Boolean): DataFrame =
      if (withPrev)
        ls.join(edges, col("id") === col("src"))
          .select(col("dst").as("id"), col("label"),
            lit(null).cast(labelType).as("prev"))
          .union(ls.select(col("id"), col("label"), col("label").as("prev")))
          .groupBy("id").agg(min("label").as("label"), max("prev").as("prev"))
      else
        ls.join(edges, col("id") === col("src"))
          .select(col("dst").as("id"), col("label"))
          .union(ls.select(col("id"), col("label")))
          .groupBy("id").agg(min("label").as("label"))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // TWO propagation rounds per materialization + probe (round-20
      // verdict #3): a "labels changed" probe result is information-free —
      // only the final "no change" gates exit — so probing every round
      // paid one job barrier per round for nothing. The mid round's LAZY
      // materialization fills INSIDE the probe job (its persisted
      // blocks are shared by the second round's two consumers, so nothing
      // recomputes), halving the per-CC job count; the worst case is one
      // wasted in-job no-op round when convergence lands on the mid round.
      // Fixpoint, exit condition, and returned labels are unchanged: the
      // probe still tests "did the LAST round change anything", which at
      // a fixpoint is false regardless of round parity.
      val mid = Materialize.once(round(labels, withPrev = false), "CC paired round")
      val next = Materialize.once(round(mid, withPrev = true), "CC probe + next round")
      // coalesce: sum over an EMPTY label frame (no edges) is null
      converged = next
        .agg(coalesce(sum(when(col("label") < col("prev"), 1L).otherwise(0L)),
          lit(0L)))
        .first().getLong(0) == 0L
      labels = next.select("id", "label")
      i += 2
    }
    // never let unconverged labels ship silently as correct clusters: a
    // component whose min-label eccentricity exceeds maxIters (e.g. a long
    // near-dup chain) would otherwise return WRONG cluster_ids on exactly
    // the inputs where the caller can't tell
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "component diameter exceeds maxIters; raise maxIters (rounds are " +
          "O(diameter)) or switch to a large-star/small-star variant")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** X9' — connected components by alternating LARGE-STAR / SMALL-STAR
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"): same (id, cluster_id) contract as [[connectedComponents]],
    * but convergence is O(log n) rounds in the component size instead of
    * O(diameter) — the variant for path-shaped duplicate graphs (serial
    * near-copies of near-copies) whose diameter grows with corpus size.
    *
    * Each round is two passes over the edge list, each ONE hash-partitioned
    * window + distinct:
    *   - large-star(u): every neighbor v > u re-attaches to
    *     m = min(Γ(u) ∪ u) — grows stars downward without breaking
    *     connectivity;
    *   - small-star(u): with edges held at their larger endpoint, u and its
    *     smaller neighbors all attach to m = min(Γ⁻(u) ∪ u) — the
    *     path-halving step.
    * The fixpoint is the star forest rooted at component minima; the
    * convergence probe compares an edge-set fingerprint (count + sum of
    * per-edge 64-bit hash over the distinct edge list) across rounds — one
    * scalar aggregate per round instead of two exceptAll shuffles — and
    * exhausting `maxIters` throws rather than shipping unconverged labels.
    * Hash-min stays the default for dedup-shaped (shallow) graphs — fewer
    * shuffles per round; this is the escape hatch its doc points at. */
  def connectedComponentsStar(pairs: DataFrame, idA: String = "id_a",
                              idB: String = "id_b", maxIters: Int = 50): DataFrame = {
    val p = Materialize.once(pairs.select(col(idA), col(idB)),
      "star CC node union branches + edge normalization")
    // every node mentioned anywhere keeps a row even if its only pair is a
    // self-loop (parity with the hash-min contract)
    val allNodes = Materialize.once(p.select(col(idA).as("id"))
      .union(p.select(col(idB).as("id"))).distinct(), "star CC final label join")
    var edges = Materialize.once(p
      .filter(col(idA) =!= col(idB))
      .select(least(col(idA), col(idB)).as("small"),
        greatest(col(idA), col(idB)).as("large"))
      .distinct(), "star CC fingerprint + rounds")
    // Edge-set fingerprint for the convergence probe: the edge list is
    // DISTINCT, so (count, sum of per-edge hash) identifies the set up to a
    // 64-bit hash-sum collision — replacing the former 2× exceptAll probe
    // (two full shuffles per round) with one scalar aggregate per round.
    // Sums are over pmod(hash, prime) so they cannot overflow ANSI long
    // arithmetic (values < 2^31, safe past 4 billion edges); two coprime
    // moduli keep the collision odds negligible.
    def fingerprint(e: DataFrame): (Long, Long, Long) = {
      val h = xxhash64(col("small"), col("large"))
      val r = e.agg(count(lit(1)),
        coalesce(sum(pmod(h, lit(2147483629L))), lit(0L)),
        coalesce(sum(pmod(h, lit(2147483587L))), lit(0L))).first()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    var prevFp = fingerprint(edges)
    var converged = prevFp._1 == 0L
    var i = 0
    while (!converged && i < maxIters) {
      // LARGE-STAR over the symmetric adjacency: one window per node u for
      // m = min(Γ(u) ∪ u); each edge is emitted by its smaller endpoint's
      // group (the larger endpoint contributes nothing for it), so
      // connectivity is preserved without an explicit union of survivors
      val sym = edges.select(col("small").as("u"), col("large").as("v"))
        .union(edges.select(col("large").as("u"), col("small").as("v")))
      val ls = sym
        .withColumn("m", least(min(col("v")).over(Window.partitionBy("u")), col("u")))
        .filter(col("v") > col("u"))
        .select(col("m").as("small"), col("v").as("large"))
        .filter(col("small") =!= col("large"))
        .distinct()
      // SMALL-STAR with edges held at the larger endpoint: all of u's
      // (strictly smaller) neighbors and u itself re-attach to the min
      val ss0 = Materialize.once(
        ls.withColumn("m", min(col("small")).over(Window.partitionBy("large"))),
        "star CC small-star union branches")
      val next = Materialize.once(ss0.select(col("m").as("small"), col("small").as("large"))
        .union(ss0.select(col("m").as("small"), col("large")))
        .filter(col("small") =!= col("large"))
        .distinct(), "star CC fingerprint + next round")
      val fp = fingerprint(next)
      converged = fp == prevFp
      prevFp = fp
      edges = next
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIters rounds")
    allNodes
      .join(edges.select(col("large").as("id"), col("small").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("cluster_id"))
  }

  /** X9'' — duplicate-cluster RESOLUTION POLICY: assign every document its
    * cluster (singletons cluster with themselves) and elect one canonical
    * keeper per cluster by (`quality` desc, id asc) — the policy step
    * between clustering and the actual drop. Min-id keeping (the
    * [[connectedComponents]] convention) throws away the BEST copy whenever
    * a higher-quality near-dup arrived later; electing by quality keeps it.
    * Cost: the CC rounds plus ONE left join and ONE window over cluster_id.
    * Returns `df`'s rows plus (cluster_id, keeper_id, is_kept). */
  def resolveKeepers(df: DataFrame, pairs: DataFrame, idCol: String,
                     quality: Column): DataFrame = {
    val cc = connectedComponents(pairs).withColumnRenamed("id", idCol)
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(quality.desc, col(idCol).asc)
    df.join(cc, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("keeper_id", first(col(idCol)).over(w))
      .withColumn("is_kept", col(idCol) === col("keeper_id"))
  }

  /** X1c — cross-document duplicated n-gram fraction (the RefinedWeb /
    * Gopher "fraction of duplicated n-grams" quality signal): for each
    * document, the share of its DISTINCT word n-grams that also occur in at
    * least one OTHER document. High fractions mark boilerplate and templated
    * text that exact and near-dup DOCUMENT matching both miss — the doc as a
    * whole is unique, but most of its content is not.
    *
    * Scale posture: one inverted-index shuffle on the 8-byte shingle hash
    * (fixed-width keys, like [[ngramJaccardPairs]]; collisions ~n²/2⁶⁴) with
    * a map-side-combined doc-frequency aggregate, then one join back and one
    * per-doc aggregate — no all-pairs structure anywhere, so cost is linear
    * in total shingle volume. Documents shorter than `n` words have no
    * n-grams and are absent from the output (mirror the cut in consumers). */
  def duplicatedNgramFraction(df: DataFrame, textCol: String, idCol: String,
                              n: Int = 5): DataFrame =
    duplicatedNgramFractionFromShingles(
      df.select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("shingle")))

  /** [[duplicatedNgramFraction]] over a pre-materialized exploded
    * per-document DISTINCT shingle frame `(id, shingle)` — the
    * [[shingleCounts]] sharing rationale for the 5-gram x1 family. */
  def duplicatedNgramFractionFromShingles(shRows: DataFrame): DataFrame = {
    // per-doc-distinct rows, so count-per-hash IS the doc frequency
    val sh = Materialize.once(
      shRows.select(col("id"), xxhash64(col("shingle")).as("sh_h")),
      "duplicated-ngram doc frequency + join")
    val docFreq = sh.groupBy("sh_h").agg(count(lit(1)).as("n_docs"))
    sh.join(docFreq, Seq("sh_h"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col("id"), col("n_ngrams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_ngrams"), 4).as("dup_fraction"))
  }

  /** X1e — corpus NOVELTY score per document: the fraction (exact integer
    * ppm) of a doc's distinct n-gram shingles that no EARLIER document
    * (lower id = earlier ingest) already contains. The streaming-curation
    * signal [[duplicatedNgramFraction]]'s symmetric doc-frequency cannot
    * give: a boilerplate page arriving late scores near 0 (nothing new),
    * while the FIRST copy keeps its full score — so an ingest-ordered
    * pipeline can keep originals and down-weight arrivals, order-stably.
    *
    * One inverted-index shuffle on 8-byte shingle hashes (min-id per
    * shingle is map-side combinable), one join back, one per-doc agg — the
    * duplicatedNgramFraction cost envelope exactly. Docs with fewer than
    * `n` words have no shingles and no row. */
  def noveltyScores(df: DataFrame, textCol: String, idCol: String,
                    n: Int = 5): DataFrame =
    noveltyScoresFromShingles(
      df.select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("shingle")))

  /** [[noveltyScores]] over a pre-materialized exploded per-document
    * DISTINCT shingle frame `(id, shingle)`. */
  def noveltyScoresFromShingles(shRows: DataFrame): DataFrame = {
    val sh = Materialize.once(
      shRows.select(col("id"), xxhash64(col("shingle")).as("sh_h")),
      "novelty first-seen + join")
    val firstSeen = sh.groupBy("sh_h").agg(min(col("id")).as("first_id"))
    sh.join(firstSeen, Seq("sh_h"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") < col("id"), 1L).otherwise(0L)).as("n_seen"))
      .select(col("id"), col("n_shingles"), col("n_seen"),
        expr("(1000000 * (n_shingles - n_seen)) DIV n_shingles").as("novelty_ppm"))
  }

  /** X1d — maximal duplicated SPANS (the substring-level dedup primitive
    * behind "remove any substring duplicated across the corpus" training-
    * data hygiene, reference point: Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): for each document, the maximal
    * word-position ranges in which EVERY length-`n` word gram also occurs
    * in at least one OTHER document. [[duplicatedNgramFraction]] scores how
    * much of a doc is duplicated; this returns WHERE — the `[start, end)`
    * ranges a pipeline would actually cut or down-weight.
    *
    * Definition: gram position `p` (0-based word index) is duplicated when
    * the gram `words[p..p+n)` appears in ≥ 2 distinct documents; maximal
    * runs of CONSECUTIVE duplicated positions `p, p+1, …, q` become one span
    * `[p, q + n)` — so every reported span is wholly covered by duplicated
    * grams and cannot be extended by one word in either direction.
    *
    * Scale posture: one inverted-index shuffle keyed on the gram (the
    * portable exact twin; swap the key for `xxhash64(gram)` at 100 TB for
    * fixed 8-byte shuffle width, the [[duplicatedNgramFraction]] trade), a
    * map-side-combined distinct-doc count, one co-partitioned join back,
    * then a per-document window for the islands pass — no all-pairs
    * structure; cost is linear in total gram volume. Docs shorter than `n`
    * words have no grams and no spans.
    *
    * Output: (`id`, `span_start`, `span_end`, `span_words`) with 0-based
    * word offsets, `span_end` exclusive. */
  /** Positional word n-gram rows `(id, pos, gram)` — the shared (and
    * cacheable) input of the span family ([[duplicatedSpansFromGrams]],
    * [[removeDuplicatedSpansFromGrams]]). 0-based word positions; docs
    * shorter than `n` words contribute no rows. */
  def gramRows(df: DataFrame, textCol: String, idCol: String,
               n: Int): DataFrame = df
    .select(col(idCol).as("id"), split(col(textCol), " ").as("w"))
    .filter(size(col("w")) >= n) // sequence(0, neg) would count DOWN
    .select(col("id"), posexplode(expr(
      s"transform(sequence(0, size(w) - $n), i -> concat_ws(' ', slice(w, i + 1, $n)))")))
    .toDF("id", "pos", "gram")

  def duplicatedSpans(df: DataFrame, textCol: String, idCol: String,
                      n: Int = 5): DataFrame =
    duplicatedSpansFromGrams(Materialize.once(gramRows(df, textCol, idCol, n),
      "duplicated-span gram census + span scan"), n)

  /** [[duplicatedSpans]] over a pre-materialized positional gram frame
    * (see [[gramRows]]) — callers sharing a gram table across the x1
    * family pass it here; the text form above checkpoints its one-shot
    * explode so the two consumers below don't re-derive it. */
  def duplicatedSpansFromGrams(grams: DataFrame, n: Int): DataFrame = {
    // distinct-doc frequency per gram; intra-doc repeats alone don't qualify
    val dup = grams.select(col("gram"), col("id")).distinct()
      .groupBy("gram").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
    val w = Window.partitionBy("id").orderBy("pos")
    grams.join(dup, Seq("gram"))
      .select(col("id"), col("pos"))
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) === 1, 0L).otherwise(1L))
      .withColumn("island", sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("island"))
      .agg(min("pos").as("span_start"), (max("pos") + n).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_words"))
  }

  /** X1e — span REMOVAL: each document with every corpus-duplicated
    * substring cut out — the pass that actually applies
    * [[duplicatedSpans]]. A word is removed when ANY duplicated `n`-gram
    * covers it (the union of covered ranges, so overlapping near-miss spans
    * separated by a sub-`n` gap cut correctly); survivors keep their
    * original relative order.
    *
    * Same inverted-index + islands cost profile as [[duplicatedSpans]] plus
    * one per-document rebuild aggregate: `collect_list(struct(wi, word))`
    * is bounded by single-document length (the natural per-row unit — this
    * is a map-side rebuild, not a global collect). Documents with nothing
    * duplicated pass through verbatim; fully-duplicated documents survive
    * with empty `kept_text` (count them, don't lose them).
    *
    * Output: (`id`, `kept_text`, `n_words`, `n_removed`). */
  def removeDuplicatedSpans(df: DataFrame, textCol: String, idCol: String,
                            n: Int = 5): DataFrame =
    removeDuplicatedSpansFromGrams(
      df.select(col(idCol).as("id"), split(col(textCol), " ").as("w")),
      Materialize.once(gramRows(df, textCol, idCol, n),
        "span-removal gram census + span scan"), n)

  /** [[removeDuplicatedSpans]] over a pre-materialized positional gram
    * frame plus the live word arrays `(id, w)` (the rebuild side — cheap
    * per-row splits that stay derived from the source). */
  def removeDuplicatedSpansFromGrams(wordRows: DataFrame, grams: DataFrame,
                                     n: Int): DataFrame = {
    val words = Materialize.once(wordRows, "span-removal rebuild + n_words")
    val dup = grams.select(col("gram"), col("id")).distinct()
      .groupBy("gram").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
    val covered = grams.join(dup, Seq("gram"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("wi"))
      .distinct()
    val kept = words
      .select(col("id"), posexplode(col("w")).as(Seq("wi", "word")))
      .join(covered, Seq("id", "wi"), "left_anti")
      .groupBy("id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("wi"), col("word")))),
        s => s.getField("word")), " ").as("kept_text"),
        count(lit(1)).as("n_kept"))
    words.select(col("id"), size(col("w")).cast("bigint").as("n_words"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), coalesce(col("kept_text"), lit("")).as("kept_text"),
        col("n_words"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** X2e — content-defined chunking (the FastCDC/Rabin family, reference
    * point: LBFS-style rolling-hash cut points): split each document at
    * positions where the hash of the local `gramSize`-char window divides
    * `divisor`, so chunk boundaries follow CONTENT, not offsets — insert one
    * word and only the chunk containing the edit changes identity, where
    * fixed-size blocks would shift every subsequent boundary. The primitive
    * under sub-document dedup stores and incremental transfer.
    *
    * A gram starting at 1-based position `i` whose portable 60-bit md5 hash
    * satisfies `h % divisor == 0` ends its chunk at `i+gramSize-1`; the next
    * chunk starts at `i+gramSize`. Expected chunk length ≈ `divisor` chars.
    * Cut detection, boundary assembly, and chunk slicing are one codegen'd
    * expression tree per document — shuffle-free, embarrassingly parallel,
    * so the operator scales with scan bandwidth. The md5-derived cut hash is
    * deliberately the portable twin construction (DuckDB-expressible); swap
    * xxhash64 for md5 at scale for ~3× cheaper cut detection.
    *
    * Output: one row per chunk (`doc_id`, `chunk_idx`, `chunk_start`,
    * `chunk_len`, `chunk_md5`), bigint offsets, chunks tiling the document
    * exactly: starts are strictly increasing, lens positive, Σlen = doc len. */
  def contentDefinedChunks(df: DataFrame, textCol: String, idCol: String,
                           gramSize: Int = 4, divisor: Int = 61): DataFrame = {
    val text = col("__text")
    val len = length(text)
    // candidate cut positions: every gram start; a cut needs a full next
    // chunk start inside the doc (i+gramSize <= len) so no empty chunk forms
    val positions = sequence(lit(1), greatest(len - (gramSize - 1), lit(1)))
    // Gram hash: base-257 polynomial over the gram's code points — the
    // FastCDC/gear family's shape (content-derived, O(1) per position,
    // pure integer) and still ORACLE-PORTABLE: DuckDB replays it with
    // ord()+arithmetic. Replaced the per-position md5 (hex + 15-digit
    // base-conv per position) AND any per-position substr: `substr(text,
    // i, 1)` is an O(i) char-boundary scan in UTF8String, so per-position
    // substrings make the whole pass O(len²)/doc — the code-point array is
    // materialized ONCE per doc and each position reads it O(1) via
    // element_at. Code points match across engines for the single-byte/BMP
    // text this corpus contracts (ASCII — see TESTDATA.md); chunk IDENTITY
    // stays md5 over the chunk bytes below.
    // try_element_at, not element_at: ANSI mode throws on out-of-bounds,
    // and a doc shorter than gramSize still enumerates position 1 — the
    // null propagates through the sum and the cut predicate stays false,
    // exactly the `i + gramSize <= len` guard's intent
    val codes = col("__codes")
    val gramHash = (i: Column) =>
      (0 until gramSize).map(off =>
        try_element_at(codes, (i + lit(off)).cast("int")) *
          lit(math.pow(257.0, (gramSize - 1 - off).toDouble).toLong))
        .reduce(_ + _)
    val cuts = filter(positions, i =>
      (gramHash(i) % divisor === 0) && (i + lit(gramSize) <= len))
    val starts = concat(array(lit(1)), transform(cuts, i => i + lit(gramSize)))
    df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .withColumn("__codes",
        transform(split(text, ""), c => ascii(c).cast("bigint")))
      .withColumn("__starts", starts)
      .select(col("doc_id"), text,
        posexplode(transform(col("__starts"), (st, j) =>
          struct(st.as("chunk_start"),
            // next start (0-based get -> null past the end) or len+1 closes
            // the last chunk at the document end
            (coalesce(get(col("__starts"), j + 1), len + 1) - st).as("chunk_len")))))
      .select(col("doc_id"),
        col("pos").cast("bigint").as("chunk_idx"),
        col("col.chunk_start").cast("bigint").as("chunk_start"),
        col("col.chunk_len").cast("bigint").as("chunk_len"),
        md5(text.substr(col("col.chunk_start"), col("col.chunk_len"))).as("chunk_md5"))
  }

  /** X2 exact variant — n-gram Jaccard similarity of shingle sets, computed
    * with an inverted-index join (shingle → doc) instead of all-pairs: the
    * exact verifier behind the MinHash estimate. Keep the candidate set
    * bounded upstream (filter/bucket) at scale. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        shingleSize: Int = 3, minJaccard: Double = 0.5): DataFrame =
    ngramJaccardPairsFromShingles(
      df.select(col(idCol).as("id"),
        explode(shingles(col(textCol), shingleSize)).as("shingle")),
      minJaccard)

  /** [[ngramJaccardPairs]] over a pre-materialized exploded shingle frame
    * `(id, shingle)` — see [[shingleCounts]]. */
  def ngramJaccardPairsFromShingles(shRows: DataFrame,
                                    minJaccard: Double = 0.5): DataFrame = {
    // join on the 8-byte shingle hash, not the string — the inverted-index
    // shuffle carries fixed-width keys (collisions: ~n²/2⁶⁴, negligible)
    val sh = Materialize.once(
      shRows.select(col("id"), xxhash64(col("shingle")).as("shingle_h")),
      "jaccard set sizes + both join sides")
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("set_size"))
    val a = sh.select(col("shingle_h"), col("id").as("id_a"))
    val b = sh.select(col("shingle_h"), col("id").as("id_b"))
    a.join(b, Seq("shingle_h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("set_size", "size_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("size_a") + col("size_b") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** X2d — DIRECTED shingle containment C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|:
    * the near-dup signal Jaccard structurally misses when a short document
    * is embedded inside a much longer one (quotes, boilerplate wrappers,
    * concatenated shards) — the union term dilutes Jaccard toward 0 while
    * containment of the short side stays ≈ 1. Same inverted-index join as
    * [[ngramJaccardPairs]] (fixed-width 8-byte shuffle keys, no all-pairs);
    * emits BOTH directions of a qualifying pair since C is asymmetric.
    *
    * The score is exact integer parts-per-million (`n_common * 1e6 /
    * set_size` floored) — no doubles anywhere, so the cross-engine oracle
    * compares bit-exactly with no rounding-tie exposure. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       shingleSize: Int = 3, minPpm: Long = 500000L): DataFrame =
    containmentPairsFromShingles(
      df.select(col(idCol).as("id"),
        explode(shingles(col(textCol), shingleSize)).as("shingle")),
      minPpm)

  /** [[containmentPairs]] over a pre-materialized exploded shingle frame
    * `(id, shingle)` — see [[shingleCounts]]. */
  def containmentPairsFromShingles(shRows: DataFrame,
                                   minPpm: Long = 500000L): DataFrame = {
    val sh = Materialize.once(
      shRows.select(col("id"), xxhash64(col("shingle")).as("shingle_h")),
      "containment set sizes + both join sides")
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("set_size"))
    val a = sh.select(col("shingle_h"), col("id").as("id_a"))
    val b = sh.select(col("shingle_h"), col("id").as("id_b"))
    a.join(b, Seq("shingle_h"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("set_size", "size_a"), "id_a")
      .select(col("id_a"), col("id_b"), col("n_common"), col("size_a"),
        expr("n_common * 1000000 DIV size_a").as("containment_ppm"))
      .filter(col("containment_ppm") >= minPpm)
  }

  /** X2f — tf-WEIGHTED shingle cosine pairs: bag-of-shingles cosine
    * similarity via the same inverted-index join family, for the near-dup
    * band where set-based Jaccard under-scores documents that repeat their
    * shared content (boilerplate stuttering, templated spam). The vector is
    * the shingle multiset with term-frequency weights; similarity is
    * reported as cos² in exact integer parts-per-million —
    * `dot² · 10⁶ div (‖a‖²·‖b‖²)` — because cos² is a monotone proxy for
    * cos on non-negative vectors and needs NO sqrt, keeping the whole chain
    * transcendental-free and bit-exact cross-engine (threshold 250 000 ppm
    * = cosine ≥ 0.5).
    *
    * Document-frequency discipline: shingles in more than `dfCap` documents
    * are cut from the VECTOR SPACE entirely (both dot and norms) — their
    * idf is ~0 and each contributes df² rows to the index join, the classic
    * frequent-term quadratic pathology; singleton shingles (df = 1) stay in
    * the norms (they measure how much of a document is unique) but are
    * skipped on the join side, where they cannot produce a pair anyway.
    * Scale: fixed-width 8-byte shuffle keys, fan-out bounded by dfCap², no
    * all-pairs join. Int64 headroom: dot ≤ ‖a‖·‖b‖ (Cauchy-Schwarz), so
    * dot²·10⁶ stays exact while per-doc Σc² ≤ 3·10⁶ — and that bound is
    * now ENFORCED in-plan: the ppm expression raise_errors on any pair
    * whose ‖v‖² exceeds the headroom instead of silently wrapping (Spark's
    * non-ANSI int64 overflow is silent where DuckDB's errors, so a wrapped
    * cos2_ppm would diverge invisibly in production). Re-scale the ppm
    * factor, or chunk documents, before pointing this at multi-megabyte
    * inputs. Collision caveat (same tradeoff as [[decontaminate]]): tf is
    * keyed by xxhash64(shingle), so a 64-bit collision would merge two
    * distinct shingles' counts into dot and norms with probability
    * ~n²/2⁶⁴ — join on the shingle string instead if exactness against a
    * string-keyed oracle must be unconditional. */
  def tfCosinePairs(df: DataFrame, textCol: String, idCol: String,
                    shingleSize: Int = 3, dfCap: Long = 100L,
                    minCos2Ppm: Long = 250000L): DataFrame =
    tfCosinePairsFromShingles(shingleCounts(df, textCol, idCol, shingleSize),
      dfCap, minCos2Ppm)

  /** [[tfCosinePairs]] over a pre-materialized shingle-count frame
    * `(id, shingle, c)` — see [[shingleCounts]]; the only x2 consumer of
    * the multiplicity column. */
  def tfCosinePairsFromShingles(shCounts: DataFrame, dfCap: Long = 100L,
                                minCos2Ppm: Long = 250000L): DataFrame = {
    // re-group by the 8-byte hash so a (vanishingly unlikely) 64-bit
    // shingle collision merges counts exactly as the text form's
    // groupBy(id, xxhash64) did — value-identical either way
    val tf = Materialize.once(shCounts
      .select(col("id"), xxhash64(col("shingle")).as("sh"), col("c"))
      .groupBy("id", "sh").agg(sum(col("c")).as("c")),
      "tf-cosine df census + norms + index join")
    val dfs = tf.groupBy("sh").agg(count(lit(1)).as("df"))
    val t = tf.join(dfs, Seq("sh")).filter(col("df") <= dfCap)
    val norms = t.groupBy("id").agg(sum(col("c") * col("c")).as("n2"))
    val joinable = t.filter(col("df") >= 2)
    val a = joinable.select(col("sh"), col("id").as("id_a"), col("c").as("ca"))
    val b = joinable.select(col("sh"), col("id").as("id_b"), col("c").as("cb"))
    a.join(b, Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("ca") * col("cb")).as("dot"))
      .join(norms.select(col("id").as("id_a"), col("n2").as("n2_a")), Seq("id_a"))
      .join(norms.select(col("id").as("id_b"), col("n2").as("n2_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("dot"),
        // 3e6 per side ⇒ dot²·10⁶ ≤ 9e18 < Long.MaxValue (Cauchy-Schwarz);
        // beyond it the multiply would wrap silently (non-ANSI), so fail loud
        expr("""CASE WHEN n2_a > 3000000 OR n2_b > 3000000
               |  THEN raise_error(concat('tfCosinePairs: ||v||^2 = (', n2_a,
               |    ', ', n2_b, ') exceeds the int64 ppm headroom (3e6); ',
               |    're-scale the ppm factor or chunk the documents'))
               |  ELSE dot * dot * 1000000 DIV (n2_a * n2_b) END"""
          .stripMargin).as("cos2_ppm"))
      .filter(col("cos2_ppm") >= minCos2Ppm)
  }

  /** X2e — edit-distance-1 pair join via deletion-neighborhood blocking
    * (the FastSS / SymSpell construction): two strings are within Levenshtein
    * distance 1 iff they share a key in {s} ∪ {s minus one character} —
    * a substitution pair shares the deletion at the differing position, an
    * insert/delete pair shares the shorter string itself. Candidates come
    * from an inverted-index self-join on the 8-byte hash of each variant
    * (L+1 keys per string — linear blow-up, never the all-pairs join), then
    * exact `levenshtein` confirms; the filter only ever REMOVES candidates,
    * so recall is exact by the neighborhood property.
    *
    * At 100 TB this is the standard fuzzy-key join: the shuffle carries
    * fixed-width hashes, bucket occupancy is bounded by alphabet × length,
    * and the verify step is a codegen'd built-in on ~candidate volume, not
    * corpus². Reference analog: fuzzy key matching in validation tooling. */
  def editDistance1Pairs(df: DataFrame, strCol: String, idCol: String): DataFrame = {
    // variants[0] = the string itself; variants[i] = s with char i removed
    val variants = expr(
      s"""transform(sequence(0, length($strCol)), i ->
         |  CASE WHEN i = 0 THEN $strCol
         |       ELSE concat(substring($strCol, 1, i - 1), substring($strCol, i + 1)) END)
         |""".stripMargin)
    // dedup BEFORE the confirm: a candidate pair surfaces once per shared
    // variant key — up to L+2 times for a true pair, and repeatedly for
    // the distance-2 impostors the neighborhood admits — so confirming
    // first multiplies the levenshtein work by that key-overlap factor.
    // Measured at sf0.1: confirm-first 5.13 s vs dedup-first 2.87 s.
    //
    // The dedup runs on the BARE id pair (narrow exchange, hash aggregate
    // with map-side partials) and re-attaches the strings to the
    // ~|distinct pairs| survivors via two (id, s) lookup joins. Carrying
    // the strings through the dedup instead plants first(string)
    // aggregates whose immutable buffers force a SortAggregate pair; a 6v6
    // interleaved board-regime A/B at sf0.1 (round 21) measured this form
    // at median 3.01 s vs 3.16 s for the carry form, winning 5 of 6 pairs
    // with the tighter spread. (All-columns distinct() lost in r20: 4.45 s
    // vs 3.40 — hashing 2 strings per candidate row lost to sorting 2
    // longs.)
    val keyed = df
      .select(col(idCol).as("id"),
        explode(array_distinct(variants)).as("variant"))
      .select(col("id"), xxhash64(col("variant")).as("variant_h"))
    val a = keyed.select(col("variant_h"), col("id").as("id_a"))
    val b = keyed.select(col("variant_h"), col("id").as("id_b"))
    // the (id, s) lookup the confirm re-attaches strings from — a plain
    // re-scan of the input, no explode. Precondition (round-20 ADVICE):
    // idCol must be unique in df — a duplicate id would fan out each
    // re-attach join and emit duplicate pairs. The sole in-repo caller
    // keys by the unique c_custkey.
    val names = df.select(col(idCol).as("id"), col(strCol).as("s"))
    a.join(b, Seq("variant_h"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(names.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(names.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .filter(levenshtein(col("s_a"), col("s_b")) === 1)
      .select("id_a", "id_b")
  }

  /** X2g — WINNOWING document fingerprints (Schleimer–Wilkerson–Aiken, the
    * MOSS algorithm): hash every character k-gram, slide a window of `w`
    * consecutive hashes, and keep each window's MINIMUM — the selection
    * rule that guarantees any shared substring of length ≥ w + k − 1 leaves
    * at least one IDENTICAL fingerprint in both documents (position-robust,
    * unlike fixed-stride sampling) while keeping expected density ≈ 2/(w+1).
    * This is the local-selection complement of [[contentDefinedChunks]]
    * (boundaries follow content there, representatives follow content
    * here). Tie rule: every position achieving the window minimum is
    * selected (the tie-inclusive variant — deterministic on any engine,
    * where "rightmost minimum" would need a second tie-break pass); the
    * fingerprint SET per doc is the distinct selected hashes either way.
    *
    * Hash family: the md5-60-bit portable form ([[minhashLshPairsPortable]]
    * lineage), so selection replays exactly in the oracle. Scale: one
    * explode (L−k+1 rows per doc), one (id, pos) window sort — the same
    * single-shuffle shape as the shingle pipelines; per-doc stats come off
    * the window pass, never a doc×doc join. Returns per-doc
    * (doc_id, n_grams, n_windows, n_selected, n_fingerprints, density_ppm)
    * with density relative to full windows; docs shorter than w + k − 1
    * chars have no FULL window of k-gram hashes and are excluded (the
    * `length ≥ k + w − 1` filter below — note this also drops docs with
    * k ≤ len < w + k − 1, which do have k-grams but nothing to winnow;
    * the oracle applies the same ≥ w + k − 1 cutoff). */
  /** The selected (doc_id, pos, h, n_grams) fingerprint rows of
    * [[winnowFingerprints]] — exposed so the guarantee properties (shared
    * substring ⇒ shared fingerprint; selection-gap ≤ w) are testable on the
    * actual selection, not just its census.
    *
    * Selection = the union over all full windows of each window's minimum
    * (tie-inclusive: every position achieving a window's min is selected —
    * the selected HASH set per window is identical to rightmost-min SWA
    * winnowing, only tied positions differ).
    *
    * Physical form (round 15): the codegen
    * [[graft.functions.WinnowSelect]] Expression computes the whole
    * selection per document from the UTF-8 bytes — O(len·k) with no
    * per-gram substring head-rescan (the SQL form's scale cliff: 200 docs
    * × ~100 KB took ~0.5 s here vs 156-217 s there) and NO gram
    * shuffle at all: only the ~2/(w+1)-density selected rows are ever
    * exploded, and the census aggregation is the single exchange left.
    * DedupSpec pins equality with the previous SQL-window formulation
    * (a test-scope twin) on the corpus, 100 KB long docs, and multi-byte
    * UTF-8.
    *
    * Round 16 made the Expression's hot loop allocation-free (60-bit long
    * per gram instead of a 15-char String, long window minima, hex-format
    * only the selected survivors). Measured result: a NULL — interleaved
    * static-call timing on 200 × 100 KB docs gave 3.2-3.4 s
    * for both the long and the String loop; the md5 hashing (~6M grams/s
    * single-threaded) dominates and the per-gram String was JIT/GC noise.
    * The long form is kept anyway: zero garbage under concurrent executor
    * threads, and it reuses [[graft.functions.SimHashBits]]'s prefix→long
    * conversion. Value identity re-pinned (WinnowProps, DedupSpec). */
  private[graft] def winnowSelected(df: DataFrame, textCol: String,
                                    idCol: String, k: Int, w: Int): DataFrame = {
    require(k >= 2 && w >= 2, "need k >= 2 and w >= 2")
    df.filter(length(col(textCol)) >= k + w - 1)
      .select(col(idCol).as("doc_id"),
        (length(col(textCol)) - (k - 1)).cast("long").as("n_grams"),
        explode(org.apache.spark.sql.GraftColumnBridge.column(
          graft.functions.WinnowSelect(
            org.apache.spark.sql.GraftColumnBridge.expression(col(textCol)),
            k, w))).as("s"))
      .select(col("doc_id"), col("n_grams"),
        col("s.pos").as("pos"), col("s.h").as("h"))
  }

  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
                         k: Int = 8, w: Int = 4): DataFrame = {
    winnowSelected(df, textCol, idCol, k, w)
      .groupBy(col("doc_id"))
      .agg(min(col("n_grams")).as("n_grams"),
        (min(col("n_grams")) - (w - 1)).as("n_windows"),
        count(lit(1)).as("n_selected"),
        countDistinct(col("h")).as("n_fingerprints"))
      .withColumn("density_ppm",
        expr("n_fingerprints * 1000000 div n_windows"))
  }
}
