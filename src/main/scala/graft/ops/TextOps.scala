package graft.ops

import graft.Materialize
import graft.tables.BucketedStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.7 X4):
  * quality scoring, token counting, language-ID heuristic, document
  * fingerprinting. All pure expression trees (codegen'd, oracle-expressible);
  * no UDFs.
  */
object TextOps {

  /** Word-array variants: every metric below has a form taking the split
    * word array, so a multi-metric projection splits the text ONCE into a
    * materialized column instead of once per metric (the text-based wrappers
    * re-split per call — fine standalone, 5× wasted work when composed). */

  def wordCountArr(words: Column): Column = size(words)

  /** Whitespace token count. */
  def wordCount(text: Column): Column = wordCountArr(split(text, " "))

  /** BPE-ish token estimate: count of `[a-z]+|[0-9]+` runs (a portable,
    * regex-only stand-in for a real subword tokenizer). */
  def tokenEstimate(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+"), lit(0)))

  def avgWordLenArr(words: Column): Column =
    round(
      aggregate(words, lit(0), (acc, w) => acc + length(w)).cast("double") /
        greatest(size(words), lit(1)), 4)

  /** Mean word length, rounded. */
  def avgWordLen(text: Column): Column = avgWordLenArr(split(text, " "))

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  def stopwordRatioArr(words: Column): Column =
    round(
      size(filter(words, w => w.isin(stopwords.map(x => x: Any): _*))).cast("double") /
        greatest(size(words), lit(1)), 4)

  /** Fraction of words that are stopwords (a fluency proxy). */
  def stopwordRatio(text: Column): Column = stopwordRatioArr(split(text, " "))

  /** Stopword hit count — the exact integer numerator of
    * [[stopwordRatioArr]], for census entries that stay in int64. */
  def stopwordCountArr(words: Column): Column = markerHitsArr(words, stopwords)

  /** Composite quality score in [0,1]: length in a healthy band, some
    * stopwords present, words not degenerate. Deterministic arithmetic only.
    * Composed from the ALREADY-ROUNDED stopword ratio so the oracle SQL can
    * reproduce it bit-for-bit. */
  def qualityScoreArr(words: Column): Column = {
    val lenScore = least(wordCountArr(words).cast("double") / 50.0, lit(1.0))
    val stopScore = least(stopwordRatioArr(words) * 5.0, lit(1.0))
    // round to 5, not 4: lenScore has ≤2 decimals and stopScore ≤4, so the
    // half-sum has ≤5 — rounding at 4 hits exact .xxxx5 ties where Spark
    // (shortest-decimal-repr HALF_UP) and C-family engines (binary double)
    // systematically disagree; at 5 there is no tie to break
    round((lenScore + stopScore) / 2.0, 5)
  }

  def qualityScore(text: Column): Column = qualityScoreArr(split(text, " "))

  /** Tiny per-language marker wordlists for the n-gram/stopword language-ID
    * heuristic. (Real pipelines use fastText-style models; the operator shape
    * — score per language, argmax — is what matters here.) */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "is"),
    "es" -> Seq("el", "la", "de", "es"),
    "zh" -> Seq("de", "le", "shi", "zai"))

  /** Hits of a marker list in a word array. */
  def markerHitsArr(words: Column, markers: Seq[String]): Column =
    size(filter(words, w => w.isin(markers.map(x => x: Any): _*)))

  /** Predicted language = argmax over marker hits, 'und' when all zero.
    * Deterministic tie-break by language code order. Bind `words` to a
    * materialized column: the argmax references each per-language score
    * several times. */
  def langIdArr(words: Column): Column = {
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, ms) =>
      (lang, markerHitsArr(words, ms))
    }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.foldRight(lit("und")) { case ((lang, hits), acc) =>
      when(hits === best && best > 0, lang).otherwise(acc)
    }
  }

  def langId(text: Column): Column = langIdArr(split(text, " "))

  /** Document fingerprint: sha256 of the whitespace-normalized, lowercased
    * text — the canonical-form exact-dup key (X1/X4 fingerprinting). */
  def fingerprint(text: Column): Column =
    sha2(trim(regexp_replace(lower(text), "\\s+", " ")), 256)

  /** Word-unigram Shannon entropy in bits/word — the cheap perplexity proxy
    * for quality filtering: low entropy flags repetitive boilerplate,
    * template spam, and keyword stuffing that length/stopword ratios miss.
    * Shuffle-free: distinct words and their occurrence counts come from
    * higher-order array functions in ONE codegen'd projection (O(d·n) per
    * row over d distinct words), not an explode → groupBy round trip.
    * Cross-engine determinism: float addition is not associative, so the
    * distinct words are SORTED before the fold — any oracle summing the
    * same sorted terms reproduces the sum bit-for-bit; `+ 0.0` normalizes
    * the single-word `-0.0` case before rounding. */
  def wordEntropyArr(words: Column): Column = {
    val n = size(words).cast("double")
    // ONE O(n log n) pass (round 20): sort the words and fold runs of equal
    // words, emitting each run's term at its boundary. The former
    // transform/filter form rescanned the array per DISTINCT word
    // (`filter(words, x === w)` — O(d·n) with an array allocation per
    // term, all interpreted: higher-order functions don't codegen), which
    // made the per-doc cost quadratic-ish in document length. The fold
    // visits the same distinct words in the same sorted order and adds the
    // same IEEE terms in the same sequence, so the result is BIT-IDENTICAL
    // (oracle-checked) — only the element count collapses from d·n to n.
    def term(run: Column): Column = {
      val p = run.cast("double") / n
      -p * log2(p)
    }
    val zero = struct(lit("").as("prev"), lit(0).as("run"), lit(0.0).as("sum"))
    val folded = aggregate(array_sort(words), zero,
      (acc, w) => {
        val prev = acc.getField("prev")
        val run = acc.getField("run")
        val sum = acc.getField("sum")
        // run == 0 marks the fold's start (prev is not a real word yet)
        when(run === 0, struct(w.as("prev"), lit(1).as("run"), sum.as("sum")))
          .when(w === prev,
            struct(prev.as("prev"), (run + 1).as("run"), sum.as("sum")))
          .otherwise(struct(w.as("prev"), lit(1).as("run"),
            (sum + term(run)).as("sum")))
      },
      acc => when(acc.getField("run") === 0, acc.getField("sum"))
        .otherwise(acc.getField("sum") + term(acc.getField("run"))))
    round(folded + lit(0.0), 4)
  }

  def wordEntropy(text: Column): Column = wordEntropyArr(split(text, " "))

  /** Unigram-LM cross-entropy in nats/word — the CCNet-style quality filter:
    * score each document against a REFERENCE unigram model (here the corpus
    * top-k census) instead of against itself ([[wordEntropyArr]]). High
    * cross-entropy flags text the reference model finds surprising —
    * wrong-language documents, gibberish, ID dumps — the signal real
    * pipelines threshold on (well-known as "perplexity filtering";
    * perplexity = e^H).
    *
    * `model` is a word→count map and `total` the model's token count, both
    * broadcast as one-row columns — the model is bounded (top-k) no matter
    * the corpus size, so at 100 TB this stays a shuffle-free map-side fold
    * per document. Out-of-model words get a 0.5 pseudo-count (Jelinek-style
    * smoothing; distinguishes them from genuinely-seen-once words).
    *
    * Cross-engine determinism: same recipe as [[wordEntropyArr]] — terms over
    * SORTED distinct words, sequential fold, one rounding at the end; each
    * term's expression tree (p·ln(total/count)) is mirrored verbatim in the
    * oracle. */
  def crossEntropyArr(words: Column, model: Column, total: Column): Column = {
    val n = size(words).cast("double")
    // same single sorted run-length fold as [[wordEntropyArr]] (round 20) —
    // identical terms in identical order, one model lookup per DISTINCT
    // word at its run boundary instead of a filter() rescan per word
    def term(run: Column, w: Column): Column = {
      val p = run.cast("double") / n
      val cnt = coalesce(element_at(model, w).cast("double"), lit(0.5))
      p * log(total.cast("double") / cnt)
    }
    val zero = struct(lit("").as("prev"), lit(0).as("run"), lit(0.0).as("sum"))
    val folded = aggregate(array_sort(words), zero,
      (acc, w) => {
        val prev = acc.getField("prev")
        val run = acc.getField("run")
        val sum = acc.getField("sum")
        when(run === 0, struct(w.as("prev"), lit(1).as("run"), sum.as("sum")))
          .when(w === prev,
            struct(prev.as("prev"), (run + 1).as("run"), sum.as("sum")))
          .otherwise(struct(w.as("prev"), lit(1).as("run"),
            (sum + term(run, prev)).as("sum")))
      },
      acc => when(acc.getField("run") === 0, acc.getField("sum"))
        .otherwise(acc.getField("sum") +
          term(acc.getField("run"), acc.getField("prev"))))
    round(folded + lit(0.0), 4)
  }

  /** Distinct-word hits against the model vocabulary — the coverage gauge
    * published next to [[crossEntropyArr]] (low hits + high CE = out-of-
    * domain text rather than merely rare words). */
  def modelHitsArr(words: Column, model: Column): Column =
    size(filter(array_distinct(words), w => element_at(model, w).isNotNull))

  /** ALL n-gram shingles of a word array, duplicates preserved — the
    * denominator of [[repetitionRatioArr]] ([[Dedup.shingles]] distincts,
    * which is right for set similarity but hides repetition). */
  def shinglesAll(words: Column, n: Int): Column =
    when(size(words) >= n,
      transform(sequence(lit(1), size(words) - (n - 1)),
        i => array_join(slice(words, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Repeated-3-gram ratio (1 − distinct/total shingles): the classic
    * repetition filter (Gopher/C4-style) — near-1 means looped or template
    * text. Shuffle-free expression; exact rational arithmetic until the
    * final rounded division. */
  def repetitionRatioArr(words: Column, n: Int = 3): Column = {
    val sh = shinglesAll(words, n)
    when(size(sh) > 0,
      round(lit(1.0) - size(array_distinct(sh)).cast("double") / size(sh), 4))
      .otherwise(lit(0.0))
  }

  /** Most-frequent-word dominance (max word count / word count): catches
    * keyword stuffing that n-gram repetition misses when filler varies. */
  def topWordRatioArr(words: Column): Column = {
    // max run length over the sorted array (round 20): max of the same
    // per-distinct-word counts the old transform/filter form computed at
    // O(d·n) — max is order-independent, value unchanged
    val zero = struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("mx"))
    val maxRun = aggregate(array_sort(words), zero,
      (acc, w) => {
        val prev = acc.getField("prev")
        val run = acc.getField("run")
        val mx = acc.getField("mx")
        when(acc.getField("run") === 0,
          struct(w.as("prev"), lit(1).as("run"), mx.as("mx")))
          .when(w === prev,
            struct(prev.as("prev"), (run + 1).as("run"), mx.as("mx")))
          .otherwise(struct(w.as("prev"), lit(1).as("run"),
            greatest(mx, run).as("mx")))
      },
      acc => greatest(acc.getField("mx"), acc.getField("run")))
    // empty-array parity with the old array_max(empty) = null form (split
    // never yields an empty array, but keep the edge identical)
    when(size(words) === 0, lit(null).cast("double"))
      .otherwise(round(maxRun.cast("double") / size(words), 4))
  }

  /** Email / phone shapes for [[redactPii]] — deliberately the regex subset
    * (char classes, counted repeats, \b) that means the same thing in Java
    * regex and RE2, so an oracle engine reproduces the redaction exactly. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b"

  /** PII redaction with typed placeholders — the safety scrub a training
    * corpus runs before tokenization. Emails first, so a phone-shaped
    * fragment inside a redacted address can't double-fire. Narrow codegen'd
    * projection: at 100 TB this pipelines behind the scan with no shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")

  /** Rolling polynomial hash over words (base-31 mod 2^61-1 style, via
    * left fold) — an order-sensitive fingerprint, unlike the set-based
    * shingle hashes. */
  def rollingHash(text: Column): Column =
    aggregate(split(text, " "), lit(0L),
      (acc, w) => acc * 31L + xxhash64(w) % 1000003L)

  /** Character trigrams of `textCol`, one row per position (1-based) —
    * the feature extractor shared by the trained language-ID pipeline.
    * Docs shorter than 3 chars yield nothing; the explicit `, 1` step keeps
    * `sequence` from silently counting DOWN on an empty range. */
  private def charTrigrams(df: DataFrame, textCol: String): DataFrame =
    // per-position substring IS an O(i) char-boundary scan in UTF8String
    // (the contentDefinedChunks lesson), but a round-20 A/B measured the
    // array-materialized alternative (split to a char array once, trigrams
    // via interpreted transform+slice+concat_ws lambdas) SLOWER at this
    // corpus's doc lengths — 3.0-3.1 s vs ~2.5 s for x4_lang_profile at
    // sf0.1: the higher-order-function interpreter's per-element constant
    // beats the native byte scan until documents get much longer. Kept the
    // codegen'd substring form; revisit only for a long-document corpus.
    df.filter(length(col(textCol)) >= 3)
      .withColumn("i", explode(expr(s"sequence(1, length($textCol) - 2, 1)")))
      .withColumn("g", expr(s"substring($textCol, i, 3)"))

  /** TRAINED language-ID, profile side (Cavnar–Trenkle n-gram text
    * categorization): the `topM` most frequent character trigrams per
    * language from a LABELED training slice, rank-weighted
    * `weight = topM + 1 − rank` (count-desc, trigram-asc tie-break, so the
    * profile is deterministic on any engine). Unlike [[langIdArr]]'s fixed
    * marker lists, the profiles are DATA — retraining on a new corpus or
    * language set is just re-running this aggregation. Scale: the profile
    * table is |langs| × topM rows (broadcastable forever); training is two
    * map-side-combined aggregations over the exploded trigrams. */
  def langProfiles(train: DataFrame, textCol: String, langCol: String,
                   topM: Int = 60): DataFrame = {
    val counts = charTrigrams(train, textCol)
      .groupBy(col(langCol).as("lang"), col("g"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("c").desc, col("g").asc)
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topM)
      .select(col("lang"), col("g"),
        (lit(topM + 1) - col("rank")).cast("long").as("weight"))
  }

  /** TRAINED language-ID, serving side: score = Σ tf(doc, g) · weight(lang,
    * g) over the document's trigrams, predicted = argmax (score desc, lang
    * asc — a doc sharing no profile trigram scores 0 everywhere and falls
    * to the first language code, deterministically). Integer end to end, so
    * the whole pipeline — profile ranks, scores, argmax — replays exactly
    * in the oracle. Scale: profiles broadcast; the only wide exchange is
    * the per-(doc, trigram) tf count; the langs-per-doc grid is |docs| ×
    * |langs| rows of ids. Returns (doc_id, predicted, score). */
  def langClassify(docs: DataFrame, profiles: DataFrame, textCol: String,
                   idCol: String): DataFrame = {
    val tf = charTrigrams(docs, textCol)
      .groupBy(col(idCol).as("doc_id"), col("g"))
      .agg(count(lit(1)).as("tf"))
    val prof = profiles.select(col("lang").as("cand_lang"), col("g"), col("weight"))
    val scores = tf.join(broadcast(prof), Seq("g"))
      .groupBy(col("doc_id"), col("cand_lang"))
      .agg(sum(col("tf") * col("weight")).as("score"))
    val langs = profiles.select(col("lang").as("cand_lang")).distinct()
    val grid = docs.select(col(idCol).as("doc_id")).crossJoin(broadcast(langs))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cand_lang").asc)
    grid.join(scores, Seq("doc_id", "cand_lang"), "left")
      .na.fill(0L, Seq("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cand_lang").as("predicted"), col("score"))
  }

  /** TRAINED binary document classifier (nearest-class-mean with
    * per-feature midpoint votes — a trained decision-stump ensemble): from
    * a LABELED training slice learn each class's per-feature mean, then
    * classify a document by voting each feature toward the class whose
    * mean is on the same side of the two means' midpoint, majority wins.
    * This is the integer-exact sibling of a linear discriminant: the model
    * IS data (two rows of per-feature sums + counts), and because every
    * comparison is cross-multiplied — `f` vs the midpoint becomes
    * `2·f·n_p·n_n` vs `s_p·n_n + s_n·n_p`, the direction test
    * `mean_p < mean_n` becomes `s_p·n_n < s_n·n_p` — the trained pipeline
    * replays exactly in any engine with int64 (bounds: f ≤ ~3e3 permille/
    * char features, n ≤ corpus size, so the products stay < 2⁶³ through a
    * 1000× scale-up). Tie rules, deterministic on any engine: a feature
    * whose class means are EQUAL votes negative (it learned nothing), a
    * document exactly ON a midpoint votes negative, and a vote TIE (even
    * feature count) predicts negative — the conservative keep-side for a
    * quality filter.
    *
    * Scale: the model is ONE broadcast row regardless of corpus size;
    * scoring is a per-row projection, no shuffle beyond what feature
    * extraction itself needs. Returns test + (votes_pos, predicted). */
  def meanMidpointClassify(train: DataFrame, test: DataFrame,
                           features: Seq[String], labelCol: String,
                           posLabel: String, negLabel: String): DataFrame = {
    val isPos = col(labelCol) === posLabel
    val stats = train.agg(
      sum(when(isPos, 1L).otherwise(0L)).as("n_p"),
      (sum(when(isPos, 0L).otherwise(1L)).as("n_n") +:
        features.flatMap(f => Seq(
          sum(when(isPos, col(f)).otherwise(0L)).as(s"s_p_$f"),
          sum(when(isPos, lit(0L)).otherwise(col(f))).as(s"s_n_$f")))): _*)
    val votes = features.map { f =>
      val (fv, sp, sn) = (col(f), col(s"s_p_$f"), col(s"s_n_$f"))
      // vote positive iff f sits strictly on the positive mean's side of
      // the midpoint; equal means or exact midpoint -> negative
      when(sp * col("n_n") < sn * col("n_p"),
        (fv * 2 * col("n_p") * col("n_n")) < (sp * col("n_n") + sn * col("n_p")))
        .when(sp * col("n_n") > sn * col("n_p"),
          (fv * 2 * col("n_p") * col("n_n")) > (sp * col("n_n") + sn * col("n_p")))
        .otherwise(lit(false))
    }.map(v => when(v, 1L).otherwise(0L)).reduce(_ + _)
    test.crossJoin(broadcast(stats))
      .withColumn("votes_pos", votes)
      .withColumn("predicted",
        when(col("votes_pos") * 2 > features.size, posLabel).otherwise(negLabel))
      .drop((Seq("n_p", "n_n") ++
        features.flatMap(f => Seq(s"s_p_$f", s"s_n_$f"))): _*)
  }

  /** Overlapping word-window chunking — the embedding/RAG prep step: split
    * each document into `chunkSize`-word windows advancing by
    * `chunkSize - overlap`, so consecutive chunks share `overlap` words of
    * context. Pure expression tree (sequence → slice → posexplode): one
    * generate per row, no shuffle at all — chunking 100 TB is
    * embarrassingly parallel and stays inside whole-stage codegen. Trailing
    * windows shorter than `overlap` are dropped (their words are fully
    * contained in the previous chunk); a document shorter than one window
    * yields exactly one chunk. */
  def chunkWords(df: DataFrame, textCol: String, idCol: String,
                 chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1), greatest(size(col("w")), lit(1)), lit(stride)),
          s => slice(col("w"), s, lit(chunkSize)))).as(Seq("chunk_idx", "chunk")))
      .filter(col("chunk_idx") === 0 || size(col("chunk")) > overlap)
      .select(col("doc_id"), col("chunk_idx"),
        array_join(col("chunk"), " ").as("chunk_text"),
        size(col("chunk")).as("chunk_words"))
  }

  /** BM25 relevance of every document against a fixed term set (Robertson/
    * Sparck Jones "+1" idf — never negative). The corpus-statistics shape is
    * what matters at scale: `avgdl`/`N` collapse to ONE aggregate row that
    * broadcasts into the per-(doc, term) scoring join, per-term document
    * frequencies broadcast likewise, and the only wide exchanges are the two
    * word-level aggregations (tf, dl) — both map-side-combined counts keyed
    * by doc id. No all-terms index is materialized: tf is filtered to the
    * query terms BEFORE its shuffle.
    *
    * Returns (doc_id, score) for docs containing ≥1 query term; score
    * rounded to 4 for cross-engine stability. */
  def bm25(docs: DataFrame, textCol: String, idCol: String,
           terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val words = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("w"))
    val dl = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("n_docs"))
    val tf = words.filter(col("w").isin(terms.map(x => x: Any): _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(countDistinct(col("doc_id")).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5))
    // lengthNorm = k1 * (1 - b + b * dl/avgdl), associated to match the
    // oracle SQL term-for-term (double ops are commutative, not associative)
    val lengthNorm = (lit(1.0 - b) + (col("dl").cast("double") / col("avgdl")) * b) * k1
    val contrib = idf * (col("tf") * (k1 + 1.0)) / (col("tf") + lengthNorm)
    tf.join(dl, "doc_id")
      .join(broadcast(dfreq), "w")
      .crossJoin(broadcast(stats))
      .groupBy("doc_id")
      .agg(round(sum(contrib), 4).as("bm25"))
  }

  /** Exact phrase search (the `match_phrase` full-text query) via a
    * positional postings list: one narrow pass emits (doc_id, pos, word)
    * filtered to the phrase's terms BEFORE any shuffle — at 100 TB the
    * postings that move are only the query terms' occurrences, never the
    * corpus. Each term's postings are then re-keyed to the position the
    * phrase would START at (`pos - i` for the i-th phrase word), turning
    * "consecutive positions" into a plain k-way equi-join on
    * (doc_id, start) — hash-partitioned fixed-width keys, no inequality
    * conditions, no window. Returns (doc_id, n_hits) with one count per
    * matching start offset, so overlapping repeats are counted exactly. */
  def phraseSearch(docs: DataFrame, textCol: String, idCol: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one word")
    val postings = Materialize.once(docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
      .filter(col("w").isin(phrase.distinct.map(x => x: Any): _*)),
      "phraseSearch join side per phrase word")
    phrase.zipWithIndex.map { case (term, i) =>
      postings.filter(col("w") === term)
        .select(col("doc_id"), (col("pos") - i).as("start"))
    }.reduce((l, r) => l.join(r, Seq("doc_id", "start")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** The positional postings index at `dir`: `(doc_id, pos, w)` rows
    * partitioned by the word's hash bucket `pmod(xxhash64(w), n)` (not by
    * raw word, which bounds the directory fan-out at any vocabulary
    * size). */
  def postingsIndex(dir: String): BucketedStore =
    BucketedStore(dir, "bucket", n => pmod(xxhash64(col("w")), lit(n)).cast("int"))

  /** Persist a positional inverted index as a [[postingsIndex]] with
    * `nBuckets` buckets, so a phrase query reads only its terms' buckets
    * via partition pruning — the serving layout for repeated full-text
    * queries at 100 TB, where re-tokenizing the corpus per query
    * ([[phraseSearch]]) would re-scan everything. */
  def writePostingsIndex(docs: DataFrame, textCol: String, idCol: String,
                         path: String, nBuckets: Int = 64): Unit =
    postingsIndex(path).create(
      docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "w"))),
      nBuckets, onePerPartition = false)

  /** Phrase query against a [[writePostingsIndex]] store: the phrase
    * terms' buckets under the store's recorded count (bounded metadata —
    * ≤ phrase-length ints, the only driver-side step, same pattern as the
    * IVF probe-list collect) partition-prune the read, then the identical
    * (doc, phrase-start) equi-join as [[phraseSearch]] — results match it
    * row-for-row. */
  def phraseFromIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one word")
    import spark.implicits._
    // no checkpoint here (unlike phraseSearch): each term side re-reads the
    // store as its OWN bucket-pruned, word-filtered parquet scan — that scan
    // is the whole point of the persisted layout, and keeping it in the plan
    // lets the pruning be asserted on the final query
    val postings = postingsIndex(indexPath).read(spark)
      .probe(phrase.distinct.toDF("w"))
    phrase.zipWithIndex.map { case (term, i) =>
      postings.filter(col("w") === term)
        .select(col("doc_id"), (col("pos") - i).as("start"))
    }.reduce((l, r) => l.join(r, Seq("doc_id", "start")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** Significant-terms enrichment (the ES `significant_terms` aggregation):
    * which terms are over-represented in a foreground document set relative
    * to the whole corpus — the "what characterizes this slice" question a
    * curation pipeline asks of a language / domain / quality stratum.
    *
    * Document frequencies (not term frequencies) per ES semantics: each doc
    * counts a term once. One exploded distinct-terms pass feeds ONE
    * aggregation with map-side partial counts (`fg_count` as a conditional
    * sum inside the same groupBy — never two scans); the corpus/foreground
    * totals collapse to a single broadcast row. All scores are exact
    * integer arithmetic — doc rates floor-divided to ppm and a JLH-shaped
    * numerator `(fg_ppm - bg_ppm) * fg_ppm` — so the cross-engine oracle
    * has no float anywhere.
    *
    * `isFg` is any boolean column expression over `docs`' columns. */
  def significantTerms(docs: DataFrame, textCol: String, idCol: String,
                       isFg: Column, minFgDocs: Long = 3): DataFrame = {
    val totals = docs.agg(
      sum(isFg.cast("long")).as("fg_total"), count(lit(1)).as("bg_total"))
    docs
      .select(isFg.cast("long").as("is_fg"),
        explode(array_distinct(split(col(textCol), " "))).as("term"))
      .groupBy("term")
      .agg(sum(col("is_fg")).as("fg_count"), count(lit(1)).as("bg_count"))
      .filter(col("fg_count") >= minFgDocs)
      .crossJoin(broadcast(totals))
      .select(col("term"), col("fg_count"), col("bg_count"),
        expr("fg_count * 1000000 DIV fg_total").as("fg_ppm"),
        expr("bg_count * 1000000 DIV bg_total").as("bg_ppm"))
      .withColumn("jlh_num", (col("fg_ppm") - col("bg_ppm")) * col("fg_ppm"))
  }

  /** X4 — collocation mining: adjacent word bigrams ranked by association
    * lift `P(ab) / (P(a)·P(b))` — the monotone core of PMI (PMI = ln of
    * lift; with corpus totals fixed, ranking by lift IS ranking by PMI, and
    * skipping the log keeps the score transcendental-free). Scored as the
    * exact integer `c_ab·10¹⁰ div (c_a·c_b)` so the cross-engine oracle
    * matches bit-for-bit, ties included (c_ab ≤ 10⁷ keeps the product
    * < 2⁶³). `minCount` suppresses the classic PMI pathology — a pair seen
    * twice in one document outranking every real collocation.
    *
    * Scale: two word-level shuffles (unigram + bigram counts, both
    * map-side combined) and one join of bigrams against the unigram counts
    * on each side — vocabulary-sized frames, never corpus-sized. */
  def collocations(docs: DataFrame, textCol: String,
                   minCount: Long = 5): DataFrame = {
    val words = Materialize.once(docs.select(split(col(textCol), " ").as("w")),
      "collocations unigram + bigram passes")
    val uni = words.select(explode(col("w")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("c"))
    val bi = words
      .select(explode(when(size(col("w")) >= 2,
        transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("w1"),
            element_at(col("w"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    bi.join(uni.select(col("word").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(uni.select(col("word").as("w2"), col("c").as("c_b")), Seq("w2"))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        expr("(c_ab * 10000000000) DIV (c_a * c_b)").as("lift_e10"))
  }

  /** Per-partition Misra-Gries candidate pass for [[heavyHitters]]: each
    * partition streams its documents' tokens through `k` counters and emits
    * the tokens still held at the end. The classical guarantee: any token
    * whose count within the partition exceeds n_p / k survives — so with
    * k > 1/s, every token holding an s-fraction of SOME partition is
    * emitted, and (by averaging) every global s-fraction token holds an
    * s-fraction of at least one partition. The emitted set is bounded by
    * partitions × k rows regardless of vocabulary size. */
  def heavyHitterCandidates(docs: DataFrame, textCol: String,
                            k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(textCol).cast("string")).as[String]
      .mapPartitions { texts =>
        val counters = scala.collection.mutable.HashMap.empty[String, Long]
        texts.foreach { t =>
          if (t != null) t.split(' ').foreach { w =>
            if (w.nonEmpty) {
              if (counters.contains(w) || counters.size < k)
                counters.update(w, counters.getOrElse(w, 0L) + 1L)
              else {
                // decrement-all: O(k) only when a non-tracked token arrives
                // while all counters are busy
                val dead = counters.iterator
                  .filter(_._2 == 1L).map(_._1).toArray
                counters.mapValuesInPlace((_, c) => c - 1L)
                dead.foreach(counters.remove)
              }
            }
          }
        }
        counters.keysIterator.map(Tuple1(_))
      }
      .toDF("token").distinct()
  }

  /** Distributed heavy hitters with an EXACT answer: all tokens holding at
    * least `supportBp` basis points (1/10000ths) of the corpus token count,
    * with exact counts — but WITHOUT ever shuffling the full token stream.
    * Two passes: (1) per-partition Misra-Gries summaries
    * ([[heavyHitterCandidates]], k = 10000/supportBp + 1 counters) whose
    * union provably contains every true heavy hitter; (2) an exact recount
    * of the token stream restricted to that bounded candidate set (broadcast
    * semi-join, map-side-combined count), then the integer-exact support
    * filter `cnt · 10000 ≥ N · supportBp`. False positives from pass 1 are
    * eliminated by the recount; false negatives cannot exist by the MG
    * guarantee. At 100 TB this replaces a vocabulary-sized exchange with a
    * (partitions × k)-row one plus one broadcast. */
  def heavyHitters(docs: DataFrame, textCol: String,
                   supportBp: Int): DataFrame = {
    require(supportBp > 0 && supportBp <= 10000, "supportBp in (0, 10000]")
    val k = 10000 / supportBp + 1
    val candidates = heavyHitterCandidates(docs, textCol, k)
    val words = docs.select(explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
    val total = words.agg(count(lit(1)).as("n"))
    words.join(broadcast(candidates), "token")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * 10000 >= col("n") * supportBp)
      .select(col("token"), col("cnt"))
  }

  /** Greedy left-to-right merge of every non-overlapping (a, b) adjacency
    * in a token array — the BPE apply step — as ONE codegen'd `aggregate`
    * fold (index walk with a skip flag), no UDF. */
  private def applyMerge(toks: Column, a: String, b: String): Column = {
    val zero = struct(array().cast("array<string>").as("out"),
      lit(false).as("skip"))
    aggregate(sequence(lit(1), size(toks)), zero,
      (acc, i) => {
        val emitted = acc.getField("out")
        val isPair = i < size(toks) &&
          element_at(toks, i) === lit(a) && element_at(toks, i + 1) === lit(b)
        when(acc.getField("skip"),
            struct(emitted.as("out"), lit(false).as("skip")))
          .when(isPair,
            struct(array_append(emitted, lit(a + b)).as("out"),
              lit(true).as("skip")))
          .otherwise(
            struct(array_append(emitted, element_at(toks, i)).as("out"),
              lit(false).as("skip")))
      },
      acc => acc.getField("out"))
  }

  /** BYTE-PAIR-ENCODING merge training (Sennrich et al., "Neural Machine
    * Translation of Rare Words with Subword Units") — tokenizer vocabulary
    * induction, the step every LLM data pipeline runs before token
    * counting means anything. Standard word-level BPE: start from the
    * per-WORD character sequences weighted by word frequency, repeatedly
    * (1) count adjacent symbol pairs, (2) pick the most frequent
    * (ties: count desc, then left/right lexicographic — deterministic),
    * (3) merge every non-overlapping occurrence left-to-right.
    *
    * Scale shape — why this survives 100 TB: training operates on the
    * DISTINCT-WORD frequency table (vocabulary-sized, orders below the
    * corpus — the one groupBy over the raw corpus happens once), each
    * round is one map-side-combined pair count, and the only driver
    * traffic is the ONE winning merge rule per round (bounded metadata —
    * exactly what real BPE trainers ship between workers). The apply step
    * is a codegen'd fold over bounded word-length arrays. Each round's
    * table is materialized, so the iterated plan stays O(1) deep.
    * Rows-only for the driver (the loop has no SQL replay);
    * the spec replays the whole training greedily on the driver and
    * matches every rule. */
  def bpeMerges(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    import docs.sparkSession.implicits._
    var words = Materialize.once(docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      // char-split, empty fragments dropped (split("") edge behavior)
      .select(filter(split(col("w"), ""), t => t =!= lit("")).as("toks"),
        col("freq")), "bpeMerges rounds")
    val rules = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    for (r <- 1 to numMerges) {
      val pairs = words
        .select(col("freq"), col("toks"),
          posexplode(slice(col("toks"), lit(1), size(col("toks")) - 1))
            .as(Seq("i", "a")))
        .select(col("freq"), col("a"),
          element_at(col("toks"), col("i") + 2).as("b"))
      val top = pairs.groupBy(col("a"), col("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val row = top.head
        val (a, b, cnt) = (row.getString(0), row.getString(1), row.getLong(2))
        rules += ((r.toLong, a, b, cnt))
        words = Materialize.once(
          words.select(applyMerge(col("toks"), a, b).as("toks"), col("freq")),
          "bpeMerges next round")
      }
    }
    rules.toSeq.toDF("merge_rank", "left", "right", "pair_count")
      .withColumn("merged", concat(col("left"), col("right")))
      .select("merge_rank", "left", "right", "merged", "pair_count")
  }

  /** BPE APPLY as a standalone operator — tokenize the corpus with an
    * ordered merge-rule list. The rules are DATA (the artifact
    * [[bpeMerges]] ships; any fixed vocabulary works), so unlike training
    * the apply step has a full SQL replay: each rule is a greedy
    * left-to-right non-overlapping merge, which on a separator-joined
    * token string is exactly one `replace` pass.
    *
    * Scale shape: the rule fold ([[applyMerge]], a codegen'd `aggregate`
    * over bounded word-length arrays) runs over the DISTINCT-word table —
    * vocabulary-sized, orders below the corpus — and per-word token counts
    * join back to the exploded corpus for the per-doc sum. The raw corpus
    * is touched exactly twice (word explode + count join), never per rule.
    *
    * @return (doc_id, n_words, n_tokens) per document
    */
  def bpeApply(docs: DataFrame, textCol: String, idCol: String,
               rules: Seq[(String, String)]): DataFrame = {
    val words = docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
    var vocab = words.select("w").distinct()
      .select(col("w"),
        filter(split(col("w"), ""), t => t =!= lit("")).as("toks"))
    // one projection per rule, materialized as a plan BARRIER even with one
    // consumer: without it CollapseProject folds all rules into one
    // nested-lambda mega-expression whose codegen cost dwarfs the
    // (vocabulary-sized) evaluation
    rules.foreach { case (a, b) =>
      vocab = Materialize.once(
        vocab.select(col("w"), applyMerge(col("toks"), a, b).as("toks")),
        "bpeApply next rule")
    }
    words.join(vocab.select(col("w"), size(col("toks")).as("w_tokens")), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("w_tokens")).as("n_tokens"))
  }
}
