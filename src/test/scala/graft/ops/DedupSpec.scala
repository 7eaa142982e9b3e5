package graft.ops

import graft.SparkSpec
import graft.queries.FixtureCache
import graft.tables.Bucketed
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // corpus with one exact dup pair (1,2), one near-dup pair (3,4), one distinct (5)
  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank now"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (5L, "completely different content about spark query engines and data processing")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val d = Dedup.exact(docs, "text", "doc_id")
    assert(d.count() === 4)
    val dup = d.filter($"dup_cnt" === 2).select($"keep_id").as[Long].collect()
    assert(dup.toSeq === Seq(1L))
  }

  test("shingles: n-word windows, deduplicated") {
    val sh = docs.filter($"doc_id" === 4)
      .select(Dedup.shingles($"text", 3).as("sh"))
      .select(size($"sh")).as[Int].head()
    assert(sh === 11) // 13 words → 11 shingles, all distinct here
  }

  test("ngram jaccard: exact dup pair scores 1.0; near-dups above 0.5; distinct absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs((3L, 4L)) > 0.5)
    assert(!pairs.keys.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("minhash LSH finds the exact and near dup pairs, deterministic across runs") {
    val run1 = Dedup.minhashLshPairs(docs, "text", "doc_id", 3, 8, 2, 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val run2 = Dedup.minhashLshPairs(docs, "text", "doc_id", 3, 8, 2, 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(run1 === run2)
    val ids = run1.map(t => (t._1, t._2))
    assert(ids.contains((1L, 2L)))
    val est12 = run1.find(t => (t._1, t._2) == (1L, 2L)).get._3
    assert(est12 === 1.0) // identical texts → identical signatures
  }

  test("portable md5 minhash: same contract as the xxhash64 twin") {
    val pairs = Dedup.minhashLshPairsPortable(docs, "text", "doc_id", 3, 8, 2, 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    // identical texts collide in every band with estimate 1.0 under ANY family
    assert(pairs.exists(t => (t._1, t._2) == (1L, 2L) && t._3 === 1.0))
    // emit-once: no duplicate (id_a, id_b) rows
    assert(pairs.map(t => (t._1, t._2)).distinct.size === pairs.size)
  }

  test("simhash: identical texts → identical hash; near-dups within small hamming") {
    val h = docs.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) === h(2L))
    assert(java.lang.Long.bitCount(h(3L) ^ h(4L)) <= 16)
    assert(java.lang.Long.bitCount(h(1L) ^ h(5L)) > 16)
  }

  test("simhash pairs: blocked join finds dup pair without all-pairs compare") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("portable simhash twin: 60-bit signatures, identical texts at hamming 0") {
    val sigs = Dedup.simhashFramePortable(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    sigs.values.foreach(sh => assert(sh >= 0 && sh < (1L << 60)))
    assert(sigs(1L) === sigs(2L))
    val pairs = Dedup.simhashPairsPortable(docs, "text", "doc_id", maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
    assert(!pairs.exists { case (a, b, _) => a == 5L || b == 5L })
  }

  test("simhash: the per-row codegen signature equals the exploded-word " +
      "aggregate twin for BOTH hash families on the corpus") {
    import org.apache.spark.sql.DataFrame
    type Frame = (DataFrame, String, String) => DataFrame
    def sigs(f: Frame, twin: Frame, corpus: DataFrame) = {
      def run(g: Frame) = g(corpus, "text", "doc_id").as[(Long, Long)].collect().toMap
      val expr = run(f)
      assert(expr === run(twin), "SimHashBits and the aggregate formulation diverge")
      expr
    }
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val xx = sigs(Dedup.simhashFrame, DedupTwins.simhashFrameAgg, corpus)
    val md = sigs(Dedup.simhashFramePortable, DedupTwins.simhashFramePortableAgg, corpus)
    assert(xx.nonEmpty && md.nonEmpty)
    md.values.foreach(sh => assert(sh >= 0 && sh < (1L << 60)))
    // the hand corpus exercises empty-ish and duplicate-word vote paths too
    sigs(Dedup.simhashFrame, DedupTwins.simhashFrameAgg, docs)
    sigs(Dedup.simhashFramePortable, DedupTwins.simhashFramePortableAgg, docs)
  }

  test("minhash LSH recall vs exact ground truth on the real corpus") {
    // the xxhash64 sketch twin is rows-only in the driver gate; its quality
    // gate lives here: banding (8×2) catches s >= 0.5 pairs with
    // prob >= 1-(1-s²)^8 ≈ 0.9, and everything is deterministic, so the
    // measured recall is a fixed number — pin a floor under it
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val truth = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        shingleSize = 3, minJaccard = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, "text", "doc_id",
        shingleSize = 3, bands = 8, rowsPerBand = 2, minJaccard = 0.25)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty)
    val recall = (truth intersect lsh).size.toDouble / truth.size
    assert(recall >= 0.8, s"LSH recall $recall over ${truth.size} true pairs")
  }

  test("duplicated ngram fraction: exact dups fully duplicated, unique doc at 0") {
    val out = Dedup.duplicatedNgramFraction(docs, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // docs 1 and 2 are identical: every shingle shared → fraction 1.0
    assert(out(1L)._3 === 1.0 && out(2L)._3 === 1.0)
    // doc 5 (10 words → 8 shingles) shares no 3-grams with anything
    assert(out(5L) === ((8L, 0L, 0.0)))
    // doc 4 is a 13-word prefix of doc 3's text: all 11 shingles shared
    assert(out(4L)._3 === 1.0)
    // n_dup never exceeds n_ngrams, fraction consistent with the counts
    out.values.foreach { case (n, d, f) =>
      assert(d <= n)
      assert(math.abs(f - d.toDouble / n) < 1e-4)
    }
  }

  test("duplicatedSpans: maximal consecutive dup-gram runs with exact offsets") {
    // doc 10 and 11 share an 8-word block at different offsets; doc 10 also
    // shares its last 5 words with doc 12; doc 13 shares nothing
    val corpus = Seq(
      (10L, "aa bb cc dd ee ff gg hh xx yy pp qq rr ss tt"),
      (11L, "zz ww aa bb cc dd ee ff gg hh uu vv"),
      (12L, "mm nn pp qq rr ss tt"),
      (13L, "k1 k2 k3 k4 k5 k6 k7 k8 k9")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(corpus, "text", "doc_id", n = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(spans === Set(
      // doc 10: grams 0..3 duplicated (aa..hh block, 8 words = 4 runs of 5)
      (10L, 0, 8, 8),
      // doc 10: gram at pos 10 (pp qq rr ss tt) shared with doc 12
      (10L, 10, 15, 5),
      // doc 11: same 8-word block starting at word 2
      (11L, 2, 10, 8),
      // doc 12: its last 5 words, pos 2
      (12L, 2, 7, 5)))
    // doc 13 must be absent: no gram occurs elsewhere
    assert(!spans.exists(_._1 == 13L))
  }

  test("duplicatedSpans: non-adjacent dup grams stay separate spans; short docs absent") {
    val corpus = Seq(
      // two shared 5-grams separated by a unique middle word at pos 5
      (20L, "s1 s2 s3 s4 s5 u1 t1 t2 t3 t4 t5"),
      (21L, "s1 s2 s3 s4 s5 u2 t1 t2 t3 t4 t5"),
      (22L, "tiny doc here")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(corpus, "text", "doc_id", n = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // positions 0 and 6 are duplicated, position 1..5 are not (u1/u2 differ)
    // → two separate spans per doc, never one merged [0, 11)
    assert(spans === Set((20L, 0, 5), (20L, 6, 11), (21L, 0, 5), (21L, 6, 11)))
  }

  test("removeDuplicatedSpans: covered words cut, survivors in order, pass-through intact") {
    val corpus = Seq(
      (10L, "aa bb cc dd ee ff gg hh xx yy pp qq rr ss tt"),
      (11L, "zz ww aa bb cc dd ee ff gg hh uu vv"),
      (12L, "mm nn pp qq rr ss tt"),
      (13L, "k1 k2 k3 k4 k5 k6 k7 k8 k9"),
      (14L, "so short")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(corpus, "text", "doc_id", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(10L) === (("xx yy", 15L, 13L)))
    assert(out(11L) === (("zz ww uu vv", 12L, 8L)))
    assert(out(12L) === (("mm nn", 7L, 5L)))
    // nothing duplicated → verbatim pass-through
    assert(out(13L) === (("k1 k2 k3 k4 k5 k6 k7 k8 k9", 9L, 0L)))
    // shorter than n → no grams → verbatim
    assert(out(14L) === (("so short", 2L, 0L)))
  }

  test("removeDuplicatedSpans: identical docs are fully cut but still present") {
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "w1 w2 w3 w4 w5 w6")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(corpus, "text", "doc_id", n = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out === Set((1L, "", 6L, 6L), (2L, "", 6L, 6L)))
  }

  test("editDistance1Pairs: blocked join equals brute-force levenshtein=1") {
    // substitution (cat/car), deletion (cat/at), insertion (cat/cart),
    // distance-2 (cat/dog must NOT pair), exact dup ids (cat/cat dist 0 — out)
    val words = Seq((1L, "cat"), (2L, "car"), (3L, "at"), (4L, "cart"),
      (5L, "dog"), (6L, "cat"), (7L, "scat"), (8L, "coat")).toDF("id", "w")
    val got = Dedup.editDistance1Pairs(words, "w", "id")
      .orderBy($"id_a", $"id_b").as[(Long, Long)].collect().toSeq
    val brute = words.as("a").join(words.as("b"),
        col("a.id") < col("b.id") &&
          levenshtein(col("a.w"), col("b.w")) === 1)
      .select(col("a.id"), col("b.id"))
      .orderBy(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSeq
    assert(got === brute)
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)) &&
      got.contains((1L, 4L)) && got.contains((1L, 7L)))
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L)) // dog pairs with nothing
    assert(!got.contains((1L, 6L))) // exact dup is distance 0, not 1
  }

  test("resolveKeepers: quality elects the keeper, singletons keep themselves") {
    val corpus = Seq(
      (1L, 10L), (2L, 50L), (3L, 50L), // cluster {1,2,3}: 2 wins (quality, then min id)
      (9L, 99L)                        // singleton: own keeper
    ).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.resolveKeepers(corpus, pairs, "doc_id", $"quality")
      .select($"doc_id", $"cluster_id", $"keeper_id", $"is_kept")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((1L, 2L, false))) // min-id cluster label, quality keeper
    assert(out(2L) === ((1L, 2L, true)))
    assert(out(3L) === ((1L, 2L, false)))
    assert(out(9L) === ((9L, 9L, true)))
  }

  test("contentDefinedChunks: chunks tile each document exactly") {
    val corpus = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val chunks = Dedup.contentDefinedChunks(corpus, "text", "doc_id").cache()
    // per doc: Σlen == doc length, first start == 1, starts contiguous
    val bad = chunks
      .groupBy($"doc_id")
      .agg(sum($"chunk_len").as("total"), min($"chunk_start").as("first"),
        count(lit(1)).as("n"), max($"chunk_start" + $"chunk_len").as("end"))
      .join(corpus.select($"doc_id", length($"text").cast("long").as("len")), "doc_id")
      .filter($"total" =!= $"len" || $"first" =!= 1 || $"end" =!= $"len" + 1)
    assert(bad.count() === 0)
    assert(chunks.filter($"chunk_len" <= 0).count() === 0)
    // contiguity: chunk i+1 starts where chunk i ends
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"chunk_idx")
    val gaps = chunks
      .withColumn("prev_end", lag($"chunk_start" + $"chunk_len", 1).over(w))
      .filter($"prev_end".isNotNull && $"chunk_start" =!= $"prev_end")
    assert(gaps.count() === 0)
    chunks.unpersist()
  }

  test("contentDefinedChunks: degenerate docs yield exactly one whole-doc chunk") {
    // shorter than gramSize+1 no cut can fire (a cut needs i+4 <= len with
    // i >= 1); empty text pins the one zero-length-chunk convention
    val tiny = Seq((1L, ""), (2L, "ab"), (3L, "abcd"), (4L, "abcde"))
      .toDF("doc_id", "text")
    val ch = Dedup.contentDefinedChunks(tiny, "text", "doc_id")
      .select($"doc_id", $"chunk_idx", $"chunk_start", $"chunk_len")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(ch.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L), "one chunk per doc")
    assert(ch.forall { case (_, idx, start, _) => idx == 0L && start == 1L })
    assert(ch.map(_._4).toSeq === Seq(0L, 2L, 4L, 5L), "chunk spans the whole doc")
  }

  test("contentDefinedChunks: an edit only changes local chunk identities") {
    // boundary stability — the property fixed-size blocks lack: editing one
    // chunk leaves every other chunk's content hash unchanged
    val words = (1 to 400).map(i => s"tok${i * 7919 % 4096}")
    val base = words.mkString(" ")
    val edited = words.updated(200, "EDITED").updated(201, "RIGHT").mkString(" ")
    val two = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val ch = Dedup.contentDefinedChunks(two, "text", "doc_id")
      .select($"doc_id", $"chunk_md5").cache()
    val a = ch.filter($"doc_id" === 1).select("chunk_md5").as[String].collect().toSet
    val b = ch.filter($"doc_id" === 2).select("chunk_md5").as[String].collect().toSet
    // most chunks shared, at least one differs
    assert((a intersect b).nonEmpty, "no shared chunks — boundaries not content-defined")
    assert((a diff b).nonEmpty && (b diff a).nonEmpty)
    assert((a intersect b).size >= a.size - 3,
      s"edit invalidated ${a.size - (a intersect b).size} of ${a.size} chunks")
    ch.unpersist()
  }

  test("tfCosinePairs: identical docs hit 1e6; tf and singleton norms count") {
    val d = Seq(
      (1L, "a b c a b c a b c a b c"), // "a b c"×4, "b c a"×3, "c a b"×3
      (2L, "a b c a b c a b c a b c"), // identical to 1
      (3L, "a b c x y z w q r"))       // shares "a b c" once; 6 unique trigrams
      .toDF("doc_id", "text")
    val got = Dedup.tfCosinePairs(d, "text", "doc_id", minCos2Ppm = 0L)
      .select($"id_a", $"id_b", $"dot", $"cos2_ppm")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // identical multiset vectors: cos² exactly 1e6
    assert(got((1L, 2L)) === ((34L, 1000000L))) // dot = 16+9+9
    // tf weighting: the ×4 repeat drives dot to 4, and doc 3's six
    // SINGLETON trigrams stay in its norm (n2 = 7) — cos² = 16e6/(34·7)
    assert(got((1L, 3L)) === ((4L, 16000000L / (34L * 7L))))
    // default threshold keeps only the identical pair
    val thresholded = Dedup.tfCosinePairs(d, "text", "doc_id")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(thresholded === Set((1L, 2L)))
    // df cap removes over-shared shingles from the vector space entirely:
    // "a b c" (df=3) cut at cap 2 → pair (1,3) loses its only common term
    val capped = Dedup.tfCosinePairs(d, "text", "doc_id", dfCap = 2L, minCos2Ppm = 0L)
      .select($"id_a", $"id_b", $"cos2_ppm").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(capped === Map((1L, 2L) -> 1000000L))
  }

  test("lshIncrementalPortable reuses an existing band index: the second " +
    "ingest never re-hashes the corpus") {
    val idx = java.nio.file.Files.createTempDirectory("lsh-idx-spec-").toString
    val corpus = docs.filter($"doc_id" <= 2) // contains the text of doc 1/2
    val batch = docs.filter($"doc_id" > 2)
    val first = Dedup.lshIncrementalPortable(corpus, batch, "text", "doc_id", idx)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // docs 3/4 near-dup the corpus text; 5 is clean
    assert(first(5L) === "keep")
    // second call hands a DIFFERENT (empty) corpus but the same indexDir:
    // with a valid index present the corpus argument must be ignored —
    // classifications still come from the PERSISTED index, proving the
    // O(batch) reuse path (an unconditional rebuild would classify
    // everything "keep" against the empty corpus)
    val second = Dedup.lshIncrementalPortable(
        corpus.limit(0), batch, "text", "doc_id", idx)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(second === first)
  }

  test("appendLshBandIndex: keepers' rows append without rewriting standing " +
    "files, the maintained index equals a rebuild, and the next ingest sees " +
    "night-1 keepers as corpus") {
    def files(dir: String): Map[String, Long] = {
      val root = java.nio.file.Paths.get(dir)
      val st = java.nio.file.Files.walk(root)
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p))
        .toMap
      finally st.close()
    }
    val idx = java.nio.file.Files.createTempDirectory("lsh-idx-app-").toString
    val rebuilt = java.nio.file.Files.createTempDirectory("lsh-idx-reb-").toString
    try {
      // corpus: docs 1-2; night 1: docs 3-4 (3/4 near-dup the corpus text →
      // dropped); night-1 keeper: doc 5 (clean); night 2: doc 6 = doc 5's
      // text → must route near_dup_of_corpus ONLY through the maintained
      // index (the original corpus never saw doc 5's text)
      val corpus = docs.filter($"doc_id" <= 2)
      val b1 = docs.filter($"doc_id" > 2)
      Dedup.buildLshBandIndex(corpus, "text", "doc_id", idx)
      val standing = files(idx)
      val c1 = Dedup.lshIngestClassifyBucketed(Dedup.bandIndex(idx).read(spark), b1,
          "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(c1(5L) === "keep" && c1(3L) != "keep")
      val keepers1 = b1.join(
        Seq(5L).toDF("doc_id"), Seq("doc_id"))
      Dedup.appendLshBandIndex(keepers1, "text", "doc_id", idx)
      val after = files(idx)
      // standing files byte-identical in place; the append only ADDED
      standing.foreach { case (f, size) =>
        assert(after.get(f).contains(size), s"standing file $f rewritten")
      }
      assert(after.size > standing.size)
      // maintained rows == a rebuild over corpus ∪ keepers
      Dedup.buildLshBandIndex(corpus.unionByName(keepers1), "text", "doc_id",
        rebuilt)
      def rows(d: String) = spark.read.parquet(d)
        .select($"id", $"band", $"band_key").as[(Long, Int, String)]
        .collect().toSet
      assert(rows(idx) === rows(rebuilt))
      // night 2: a dup of the night-1 keeper routes near_dup_of_corpus
      val b2 = docs.filter($"doc_id" === 5L)
        .select(lit(6L).as("doc_id"), $"text")
      val c2 = Dedup.lshIngestClassifyBucketed(Dedup.bandIndex(idx).read(spark), b2,
          "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(c2(6L) === "near_dup_of_corpus")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(rebuilt))
    }
  }

  test("band-key-bucketed index probe: classify and discover read the " +
    "persisted index PARTITION-PRUNED to the batch's buckets (non-empty " +
    "PartitionFilters on bkb, strict directory subset) and land results " +
    "identical to the full-scan frame form") {
    val idx = java.nio.file.Files.createTempDirectory("lsh-idx-bkb-").toString
    try {
      // 60 distinct docs -> ~480 distinct (band, band_key) rows fill the 32
      // bkb directories; the 1-doc batch touches at most 8 of them
      val corpus = (1 to 60).map(i => (i.toLong,
          s"corpus doc $i tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e " +
            s"tok${i}f tok${i}g tok${i}h"))
        .toDF("doc_id", "text")
      Dedup.buildLshBandIndex(corpus, "text", "doc_id", idx)
      val batch = Seq((100L,
          "corpus doc 7 tok7a tok7b tok7c tok7d tok7e tok7f tok7g extra"))
        .toDF("doc_id", "text")
      val bucketDirs = new java.io.File(idx).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bkb=")).length
      assert(bucketDirs > 8,
        s"corpus fills only $bucketDirs buckets — fixture too small to show pruning")
      val batchBuckets = Dedup.bandIndex(idx).withBuckets(
          Dedup.buildLshBandRows(batch, "text", "doc_id"), Dedup.LshIndexBuckets)
        .select($"bkb").distinct().count()
      assert(batchBuckets <= 8 && batchBuckets < bucketDirs)
      val index = Dedup.bandIndex(idx).read(spark)
      val idxDf = index.rows
      // classify: pruned plan + equality with the full-scan frame form
      val pruned = Dedup.lshIngestClassifyBucketed(index, batch, "text", "doc_id")
      val plan = pruned.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*bkb".r.findFirstIn(plan).isDefined,
        s"expected non-empty partition filter on `bkb`, got:\n$plan")
      val full = Dedup.lshIngestClassify(idxDf.drop("bkb"), batch,
        "text", "doc_id")
      def asMap(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      val prunedMap = asMap(pruned)
      assert(prunedMap === asMap(full))
      // over-pruning guard: the colliding corpus rows ARE in the pruned
      // read — the batch's near-dup of doc 7 still routes to the corpus
      assert(prunedMap(100L) === "near_dup_of_corpus", s"got $prunedMap")
      // discovery twin: identical verified pair set, and it finds (7, 100)
      val corpusSh = Dedup.shingleCounts(corpus, "text", "doc_id", n = 3)
        .select($"id", $"shingle")
      val batchSh = Dedup.shingleCounts(batch, "text", "doc_id", n = 3)
        .select($"id", $"shingle")
      // the corpus shingle side is a bucketed shingle index (kept as
      // frames) -> the verification read is also pruned (to
      // candidate-endpoint buckets)
      val discPruned = Dedup.lshDiscoverVerifiedPairsBucketed(index,
          Right(Dedup.shingleIndex(s"$idx-shingles")
            .bucketed(corpusSh, Dedup.LshIndexBuckets)),
          batchSh, minJaccard = 0.3)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val discFull = Dedup.lshDiscoverVerifiedPairs(idxDf.drop("bkb"),
          corpusSh, batchSh, minJaccard = 0.3)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(discPruned === discFull && discPruned.contains((7L, 100L)),
        s"pruned $discPruned vs full $discFull")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    }
  }

  test("compactLshBandIndex: over-threshold buckets rewrite to one file, " +
    "under-threshold buckets stay byte-identical, probe-after-compact " +
    "equals probe-before and a rebuild, and a second compact is a no-op") {
    def files(dir: String): Map[String, Long] = {
      val root = java.nio.file.Paths.get(dir)
      val st = java.nio.file.Files.walk(root)
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p))
        .toMap
      finally st.close()
    }
    val idx = java.nio.file.Files.createTempDirectory("lsh-idx-cmp-").toString
    val rebuilt = java.nio.file.Files.createTempDirectory("lsh-idx-crb-").toString
    try {
      val corpus = (1 to 40).map(i => (i.toLong,
          s"corpus doc $i tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e"))
        .toDF("doc_id", "text")
      val keepers = (100 to 140).map(i => (i.toLong,
          s"keeper doc $i new${i}a new${i}b new${i}c new${i}d new${i}e"))
        .toDF("doc_id", "text")
      Dedup.buildLshBandIndex(corpus, "text", "doc_id", idx)
      Dedup.appendLshBandIndex(keepers, "text", "doc_id", idx)
      val before = files(idx)
      def bucketCounts(fs: Map[String, Long]) = fs.keys
        .groupBy(_.split("/")(0)).map { case (b, f) => b -> f.size }
      val multi = bucketCounts(before).filter(_._2 > 1)
      assert(multi.nonEmpty, s"append produced no multi-file bucket: $before")
      // probe BEFORE compaction (a batch near-dup of keeper 120)
      val batch = Seq((500L,
          "keeper doc 120 new120a new120b new120c new120d extra"))
        .toDF("doc_id", "text")
      def classify() = Dedup.lshIngestClassifyBucketed(
          Dedup.bandIndex(idx).read(spark), batch, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      val preCompact = classify()
      val n = Dedup.bandIndex(idx).compact(spark, maxFilesPerPartition = 1)
      assert(n === multi.size, s"compacted $n of ${multi.size} multi-file buckets")
      val after = files(idx)
      // every bucket now one file; untouched buckets byte-identical in place
      assert(bucketCounts(after).forall(_._2 == 1), s"multi-file bucket left: $after")
      before.keys.filter(f => !multi.contains(f.split("/")(0))).foreach { f =>
        assert(after.get(f) === before.get(f), s"untouched file $f changed")
      }
      // probe unchanged by the rewrite, and equal to a full rebuild's
      assert(classify() === preCompact)
      assert(preCompact(500L) === "near_dup_of_corpus")
      Dedup.buildLshBandIndex(corpus.unionByName(keepers), "text", "doc_id",
        rebuilt)
      def rows(d: String) = spark.read.parquet(d)
        .select($"id", $"band", $"band_key").as[(Long, Int, String)]
        .collect().toSet
      assert(rows(idx) === rows(rebuilt))
      // idempotence: nothing left over threshold
      assert(Dedup.bandIndex(idx).compact(spark, maxFilesPerPartition = 1) === 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(rebuilt))
    }
  }

  test("digest index lifecycle: build is one file per bucket, the probe is " +
    "partition-pruned on shab with routing equal to the frame form, append " +
    "only adds files and equals a rebuild, compact converges, and a night-2 " +
    "copy of a night-1 keeper routes drop_vs_corpus") {
    def files(dir: String): Map[String, Long] = {
      val root = java.nio.file.Paths.get(dir)
      val st = java.nio.file.Files.walk(root)
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p))
        .toMap
      finally st.close()
    }
    val idx = java.nio.file.Files.createTempDirectory("sha-idx-spec-").toString
    val rebuilt = java.nio.file.Files.createTempDirectory("sha-idx-reb-").toString
    try {
      val corpus = (1 to 60).map(i => (i.toLong, s"standing document $i"))
        .toDF("doc_id", "text")
      Dedup.buildDigestIndex(corpus, "text", idx)
      val built = files(idx)
      // one file per bucket directory (the repartition discipline)
      assert(built.keys.map(_.split("/")(0)).toSeq.distinct.size === built.size)
      // night 1: 100 dups corpus doc 7; 101/102 same NEW text (one keeps);
      // 103 unique
      val b1 = Seq((100L, "standing document 7"), (101L, "night one text"),
        (102L, "night one text"), (103L, "another night one text"))
        .toDF("doc_id", "text")
      val pruned = Dedup.exactIncrementalBucketed(Dedup.digestIndex(idx).read(spark),
        b1, "text", "doc_id")
      val plan = pruned.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*shab".r.findFirstIn(plan).isDefined,
        s"expected non-empty partition filter on `shab`, got:\n$plan")
      def asMap(df: org.apache.spark.sql.DataFrame) = df
        .select($"doc_id", $"action").as[(Long, String)].collect().toMap
      val c1 = asMap(pruned)
      assert(c1 === asMap(
        Dedup.exactIncremental(b1, corpus, "text", "doc_id")))
      assert(c1 === Map(100L -> "drop_vs_corpus", 101L -> "keep",
        102L -> "drop_within_batch", 103L -> "keep"))
      val keepers1 = b1.filter($"doc_id".isin(101L, 103L))
      Dedup.appendDigestIndex(keepers1, "text", idx)
      val after = files(idx)
      built.foreach { case (f, size) =>
        assert(after.get(f).contains(size), s"standing file $f rewritten")
      }
      assert(after.size > built.size)
      // compact converges and moves no rows
      assert(Dedup.digestIndex(idx).compact(spark, maxFilesPerPartition = 1) > 0)
      assert(Dedup.digestIndex(idx).compact(spark, maxFilesPerPartition = 1) === 0)
      Dedup.buildDigestIndex(corpus.unionByName(keepers1), "text", rebuilt)
      def shas(d: String) = spark.read.parquet(d)
        .select($"text_sha").as[String].collect().toSet
      assert(shas(idx) === shas(rebuilt))
      // night 2: a copy of night-1 keeper 101 routes drop_vs_corpus
      val b2 = Seq((200L, "night one text"), (201L, "brand new night two"))
        .toDF("doc_id", "text")
      val c2 = asMap(Dedup.exactIncrementalBucketed(
        Dedup.digestIndex(idx).read(spark), b2, "text", "doc_id"))
      assert(c2 === Map(200L -> "drop_vs_corpus", 201L -> "keep"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(rebuilt))
    }
  }

  test("noveltyScores: first copy keeps full score, later copies lose theirs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),       // 2 shingles, both first-seen here
      (2L, "a b c d e f"),       // identical — everything already seen
      (3L, "a b c d e f g h i"), // 5 shingles: 2 seen (from doc 1), 3 new
      (4L, "x y"))               // < 5 words — no shingles, no row
      .toDF("doc_id", "text")
    val got = Dedup.noveltyScores(docs, "text", "doc_id", n = 5)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((2L, 0L, 1000000L)))
    assert(got(2L) === ((2L, 2L, 0L)))
    assert(got(3L) === ((5L, 2L, 600000L))) // 3 of 5 novel
    assert(!got.contains(4L))
  }

  test("winnowing: a shared substring >= w+k-1 chars always leaves a shared " +
      "fingerprint; unrelated docs don't collide") {
    import spark.implicits._
    // docs 1 and 2 share the 16-char run "quartz sphinx jk" embedded at
    // DIFFERENT offsets (position-robustness is the point of winnowing);
    // doc 3 has a disjoint character inventory. k=8, w=4 -> guarantee
    // threshold w+k-1 = 11 chars.
    val docs = Seq(
      (1L, "aaaa quartz sphinx jk bbbb cccc dddd"),
      (2L, "eeeeeeeeeeee ffff quartz sphinx jk gggg"),
      (3L, "0123456789 0123456789 0123456789"))
      .toDF("doc_id", "text")
    val sel = Dedup.winnowSelected(docs, "text", "doc_id", k = 8, w = 4)
      .select($"doc_id", $"h").as[(Long, String)].collect()
    val byDoc = sel.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "shared 16-char substring left no shared fingerprint")
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty)
    assert((byDoc(2L) intersect byDoc(3L)).isEmpty)
  }

  test("winnowing: the codegen byte-offset Expression selects EXACTLY the " +
      "windowed-SQL set — corpus, 100KB long docs, multi-byte UTF-8") {
    import spark.implicits._
    def rows(sel: org.apache.spark.sql.DataFrame) =
      sel.select($"doc_id", $"pos".cast("long"), $"h", $"n_grams")
        .as[(Long, Long, String, Long)].collect().toSet
    def both(df: org.apache.spark.sql.DataFrame) = {
      val expr = rows(Dedup.winnowSelected(df, "text", "doc_id", k = 8, w = 4))
      assert(expr === rows(
        DedupTwins.winnowSelectedWindowed(df, "text", "doc_id", k = 8, w = 4)),
        "Expression and windowed-SQL selections diverge")
      expr
    }
    // the real corpus
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(both(corpus).nonEmpty)
    // 100 KB docs — the scale regime the byte-offset walk exists for (the
    // windowed form's substring head-rescan is O(len) per gram here)
    val long = spark.range(2).select($"id".as("doc_id"),
      concat_ws(" ", flatten(array_repeat(
        split(concat(lit("alpha bravo charlie delta echo foxtrot golf "),
          $"id"), " "), 2000))).as("text"))
    val longSel = both(long)
    assert(longSel.nonEmpty &&
      longSel.groupBy(_._1).forall(_._2.size > 1000))
    // multi-byte UTF-8: char positions != byte offsets — certifies the
    // char-boundary walk (k-grams must align to chars, not bytes)
    val utf8 = Seq(
      (1L, "žluťoučký kůň úpěl ďábelské ódy žluťoučký kůň úpěl"),
      (2L, "日本語のテキストで文字とバイトが違う場合の検証です"),
      (3L, "mixed ascii および マルチバイト text in one doc here"),
      (4L, "emoji 🎄 four-byte 🚀 code points 🎄 count as one char 🚀 each"))
      .toDF("doc_id", "text")
    val utf8Sel = both(utf8)
    assert(utf8Sel.map(_._1) === Set(1L, 2L, 3L, 4L))
  }

  test("winnowing: every window selects (gap between selected positions " +
      "<= w) and the census matches the selection") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "pack my box with five dozen liquor jugs and some more text"))
      .toDF("doc_id", "text")
    val sel = Dedup.winnowSelected(docs, "text", "doc_id", k = 8, w = 4)
      .select($"doc_id", $"pos").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toList).toMap
    sel.foreach { case (id, poss) =>
      assert(poss.head <= 4, s"doc $id: first full window left unselected")
      poss.sliding(2).foreach {
        case Seq(a, b) => assert(b - a <= 4,
          s"doc $id: selection gap ${b - a} > w between pos $a and $b")
        case _ => ()
      }
    }
    val census = Dedup.winnowFingerprints(docs, "text", "doc_id")
      .select($"doc_id", $"n_selected", $"n_fingerprints", $"density_ppm")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    sel.foreach { case (id, poss) =>
      assert(census(id)._2 === poss.size.toLong)
      assert(census(id)._3 <= census(id)._2) // distinct <= selected
      assert(census(id)._4 > 0L && census(id)._4 <= 1000000L)
    }
  }

  /** The `partCol=` directory values under `dir`, as ints. */
  private def bucketDirs(dir: String, partCol: String): Seq[Int] = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(s"$partCol=")).map(_.stripPrefix(s"$partCol=").toInt).toSeq
    finally s.close()
  }

  test("bucket-count contract: build records the sidecar, readers return " +
    "it, and append and the portable probe adopt the recorded count") {
    val band = java.nio.file.Files.createTempDirectory("lsh-idx-meta-").toString
    val sha = java.nio.file.Files.createTempDirectory("sha-idx-meta-").toString
    try {
      val corpus = (1 to 60).map(i => (i.toLong,
          s"corpus doc $i tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e"))
        .toDF("doc_id", "text")
      // band index built with a NON-default bucket count
      Dedup.buildLshBandIndex(corpus, "text", "doc_id", band, nBuckets = 8)
      val bandN = Dedup.bandIndex(band).read(spark).n
      assert(bandN === 8)
      // the append buckets under the recorded 8, not the default 32: every
      // directory stays below 8, and the sidecar is unchanged
      Dedup.appendLshBandIndex(docs, "text", "doc_id", band)
      assert(bucketDirs(band, "bkb").forall(_ < 8), bucketDirs(band, "bkb"))
      assert(Dedup.bandIndex(band).read(spark).n === 8)
      // the portable probe reads the count from the sidecar: its
      // classification equals the explicit nBuckets=8 call (a default-32
      // probe would prune the wrong directories)
      val batch = Seq((200L,
          "corpus doc 7 tok7a tok7b tok7c tok7d extra")).toDF("doc_id", "text")
      def asMap(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      val viaPortable = asMap(Dedup.lshIncrementalPortable(
        corpus.limit(0), batch, "text", "doc_id", band))
      val viaExplicit = asMap(Dedup.lshIngestClassifyBucketed(
        Bucketed(Dedup.bandIndex(band), spark.read.parquet(band), 8), batch,
        "text", "doc_id"))
      assert(viaPortable === viaExplicit)
      assert(viaPortable(200L) === "near_dup_of_corpus")
      // digest family: same contract
      Dedup.buildDigestIndex(corpus, "text", sha, nBuckets = 8)
      assert(Dedup.digestIndex(sha).read(spark).n === 8)
      Dedup.appendDigestIndex(docs, "text", sha)
      assert(bucketDirs(sha, "shab").forall(_ < 8), bucketDirs(sha, "shab"))
      assert(Dedup.digestIndex(sha).read(spark).n === 8)
    } finally {
      Seq(band, sha).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  test("index append, read and the portable probe fail a store of the old " +
    "layout or with a bad marker, naming the sidecar, and leave it untouched") {
    import graft.tables.BucketMeta
    def tree(root: String): Seq[(String, Long)] = {
      val p = java.nio.file.Paths.get(root)
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.map(f => (p.relativize(f).toString,
        if (java.nio.file.Files.isRegularFile(f)) java.nio.file.Files.size(f) else -1L))
        .toSeq.sorted
      finally s.close()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    def marker(text: String)(dir: String): Unit = {
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, BucketMeta.File),
        text.getBytes("UTF-8"))
      ()
    }
    // the fixture cache serves an existing entry through the store's read:
    // make the store under test the entry (a link to it)
    def fixtureRead(dir: String): Any = {
      val entry = FixtureCache.entryDir(dir, "refusal-band-index", "v0").toPath
      java.nio.file.Files.createDirectories(entry.getParent)
      java.nio.file.Files.createSymbolicLink(entry, java.nio.file.Paths.get(dir))
      try FixtureCache.cachedStore(spark, dir, "refusal-band-index", "v0",
        Dedup.bandIndex, Dedup.LshIndexBuckets)(fail("a cache entry is rebuilt"))
      finally java.nio.file.Files.delete(entry)
    }
    // each call with the partition column its index family buckets by
    val calls: Seq[(String, String, String => Any)] = Seq(
      ("appendDigestIndex", "shab", Dedup.appendDigestIndex(docs, "text", _)),
      ("appendLshBandIndex", "bkb", Dedup.appendLshBandIndex(docs, "text", "doc_id", _)),
      ("digestIndex.read", "shab", Dedup.digestIndex(_).read(spark)),
      ("bandIndex.read", "bkb", Dedup.bandIndex(_).read(spark)),
      ("appendIvfIndexInt", "list", Similarity.appendIvfIndexInt(spark,
        Seq((0L, Seq(1.0f, 1.0f))).toDF("vec_id", "embedding"),
        Array((0L, Array(1000L, 1000L))), _)),
      ("phraseFromIndex", "bucket", TextOps.phraseFromIndex(spark, _, Seq("hash", "join"))),
      ("FixtureCache.cachedStore", "bkb", fixtureRead),
      ("lshIncrementalPortable", "bkb",
        Dedup.lshIncrementalPortable(docs, docs, "text", "doc_id", _)))
    val cases: Seq[(String, String => String => Unit)] = Seq(
      // partCol= directories, no sidecar
      "old layout" -> { c => dir =>
        Seq((1L, 2L)).toDF("id", "band").write.parquet(s"$dir/$c=5") },
      "non-numeric marker" -> (c => marker(s"$c=four")),
      "zero buckets" -> (c => marker(s"$c=0")),
      "another partition column" -> (c => marker(s"${if (c == "bkb") "shab" else "bkb"}=4")))
    for ((what, setUp) <- cases; (call, partCol, run) <- calls) {
      val dir = java.nio.file.Files.createTempDirectory("idx-layout-").toString
      try {
        setUp(partCol)(dir)
        val before = tree(dir)
        val e = intercept[Exception](run(dir))
        assert(msgs(e).exists(_.contains(BucketMeta.File)),
          s"$what / $call: ${msgs(e).take(2)}")
        assert(tree(dir) === before, s"$what / $call: the store must be untouched")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    // no store at all: append and read need one built first (the portable
    // probe builds it)
    for ((call, _, run) <- calls.filterNot(_._1 == "lshIncrementalPortable")) {
      val dir = java.nio.file.Files.createTempDirectory("idx-none-").toString
      try {
        val e = intercept[IllegalStateException](run(dir))
        assert(e.getMessage.contains("build it first"), s"$call: ${e.getMessage}")
        assert(tree(dir) === Seq(("", -1L)), s"$call: nothing may be written")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    // a band index the fixture cache builds records its count like any store
    val src = java.nio.file.Files.createTempDirectory("fixture-src-").toString
    val entry = FixtureCache.entryDir(src, "refusal-sidecar", "v0")
    try {
      FixtureCache.cachedStore(spark, src, "refusal-sidecar", "v0", Dedup.bandIndex,
        Dedup.LshIndexBuckets)(Dedup.buildLshBandRows(docs, "text", "doc_id"))
      assert(new String(java.nio.file.Files.readAllBytes(
        entry.toPath.resolve(BucketMeta.File)), "UTF-8") === "bkb=32")
    } finally Seq(entry, new java.io.File(src))
      .foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }

  test("measured pruning payoff: a bucket-subset probe reads STRICTLY " +
    "fewer index files and bytes than the full-scan twin, for the band " +
    "(bkb), digest (shab) and shingle (idb) layouts — scan-node listing " +
    "vs on-disk ground truth") {
    import graft.ScanStats
    val band = java.nio.file.Files.createTempDirectory("lsh-idx-fp-").toString
    val sha = java.nio.file.Files.createTempDirectory("sha-idx-fp-").toString
    val shingles = java.nio.file.Files.createTempDirectory("shg-idx-fp-").toString
    try {
      spark.catalog.clearCache()
      val corpus = (1 to 60).map(i => (i.toLong,
          s"corpus doc $i tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e " +
            s"tok${i}f tok${i}g tok${i}h"))
        .toDF("doc_id", "text")
      val batch = Seq((100L,
          "corpus doc 7 tok7a tok7b tok7c tok7d tok7e tok7f tok7g extra"))
        .toDF("doc_id", "text")
      // ---- band index: classify probe --------------------------------
      Dedup.buildLshBandIndex(corpus, "text", "doc_id", band)
      val index = Dedup.bandIndex(band).read(spark)
      val idxDf = index.rows
      val (fullF, fullB) = ScanStats.indexScanFootprint(
        Dedup.lshIngestClassify(idxDf.drop("bkb"), batch, "text", "doc_id"),
        band)
      val (fsF, fsB) = ScanStats.dirFootprint(band)
      // the un-pruned twin selects the WHOLE index — the baseline is real
      assert((fullF, fullB) === ((fsF, fsB)))
      val (prF, prB) = ScanStats.indexScanFootprint(
        Dedup.lshIngestClassifyBucketed(index, batch, "text", "doc_id"),
        band)
      // measured at this fixture: the 1-doc batch touches 7 of 32 bkb
      // directories — 7/32 files, 0.22x bytes (digest below: 1/30 files,
      // 0.03x; shingles: 1/27, 0.04x); at a production corpus/batch ratio
      // the saving is ~|batch buckets|/nBuckets of the standing index
      assert(prF < fullF && prB < fullB,
        s"band probe not cheaper: files $prF/$fullF bytes $prB/$fullB")
      // ---- digest index: exact routing probe (vs on-disk ground truth,
      // which IS what the unfiltered scan of the frame form selects) ----
      Dedup.buildDigestIndex(corpus, "text", sha)
      val shaIdx = Dedup.digestIndex(sha).read(spark)
      val (dFsF, dFsB) = ScanStats.dirFootprint(sha)
      val (dPrF, dPrB) = ScanStats.indexScanFootprint(
        Dedup.exactIncrementalBucketed(shaIdx, batch, "text", "doc_id"),
        sha)
      assert(dPrF < dFsF && dPrB < dFsB,
        s"digest probe not cheaper: files $dPrF/$dFsF bytes $dPrB/$dFsB")
      // ---- shingle artifact: verification-side probe -----------------
      Dedup.shingleIndex(shingles).create(
        Dedup.shingleCounts(corpus, "text", "doc_id", n = 3)
          .select($"id", $"shingle"), Dedup.LshIndexBuckets)
      val ids = Seq(7L).toDF("id")
      val (sPrF, sPrB) = ScanStats.indexScanFootprint(
        Dedup.shingleIndex(shingles).read(spark).probe(ids), shingles)
      val (sFsF, sFsB) = ScanStats.dirFootprint(shingles)
      assert(sPrF < sFsF && sPrB < sFsB,
        s"shingle probe not cheaper: files $sPrF/$sFsF bytes $sPrB/$sFsB")
      info(f"band $prF/$fullF files ${prB.toDouble / fullB}%.2fx bytes; " +
        f"digest $dPrF/$dFsF files ${dPrB.toDouble / dFsB}%.2fx bytes; " +
        f"shingles $sPrF/$sFsF files ${sPrB.toDouble / sFsB}%.2fx bytes")
    } finally {
      Seq(band, sha, shingles).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }

  test("empty-batch probes: a nightly with no new documents routes to an " +
    "empty result through the bucketed probes (zero collected buckets -> " +
    "empty literal IN), never an error") {
    val band = java.nio.file.Files.createTempDirectory("lsh-idx-empty-").toString
    val sha = java.nio.file.Files.createTempDirectory("sha-idx-empty-").toString
    try {
      val corpus = (1 to 10).map(i => (i.toLong, s"doc $i a$i b$i c$i d$i"))
        .toDF("doc_id", "text")
      val empty = corpus.limit(0)
      Dedup.buildLshBandIndex(corpus, "text", "doc_id", band)
      Dedup.buildDigestIndex(corpus, "text", sha)
      assert(Dedup.lshIngestClassifyBucketed(
        Dedup.bandIndex(band).read(spark), empty, "text", "doc_id").count() === 0)
      assert(Dedup.exactIncrementalBucketed(
        Dedup.digestIndex(sha).read(spark), empty, "text", "doc_id").count() === 0)
      assert(Dedup.lshDiscoverVerifiedPairsBucketed(
        Dedup.bandIndex(band).read(spark),
        Left(Dedup.shingleCounts(corpus, "text", "doc_id", n = 3)
          .select($"id", $"shingle")),
        Dedup.shingleCounts(empty, "text", "doc_id", n = 3)
          .select($"id", $"shingle"),
        minJaccard = 0.3).count() === 0)
      // a batch colliding in NO standing bucket (all-new content) keeps
      // everything — the pruned seen-side is empty, not wrong
      val novel = Seq((100L, "entirely novel content qq ww ee rr tt"))
        .toDF("doc_id", "text")
      val got = Dedup.exactIncrementalBucketed(
          Dedup.digestIndex(sha).read(spark), novel, "text", "doc_id")
        .select($"doc_id", $"action")
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(got === Map(100L -> "keep"))
    } finally {
      Seq(band, sha).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    }
  }
}
