package graft.ops

import graft.SparkSpec
import graft.queries.CurationQueries
import org.apache.spark.sql.functions._

/** Dataset-curation operators (X7): split stability, quota enforcement,
  * packing invariants, interleave is a balanced permutation. Runs on the
  * sf0.001 documents table (the smallest driver-generated fixture). */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = graft.tables.Tables.documents(spark, dir)

  test("X7a split: covers all docs, is id-stable, fractions near 90/5/5") {
    val out = CurationQueries.x7_split_assign(spark, dir).cache()
    val n = docs.count()
    assert(out.count() === n)
    val byWay = out.groupBy($"split").count().as[(String, Long)].collect().toMap
    assert(byWay.keySet.subsetOf(Set("train", "val", "test")))
    // hash split on a small fixture: train should dominate, both holdouts exist
    assert(byWay("train") > n * 7 / 10, s"train=${byWay.get("train")} of $n")
    assert(byWay.getOrElse("val", 0L) > 0 && byWay.getOrElse("test", 0L) > 0)
    // determinism: same assignment on re-evaluation
    val again = CurationQueries.x7_split_assign(spark, dir)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    out.unpersist()
  }

  test("X7g'' scalable curriculum: phases 1..4 cover every doc, tied scores " +
    "share a phase, and cleaner docs never land in a later phase") {
    val out = CurationQueries.x7_curriculum_scalable(spark, dir)
      .select($"doc_id", $"q_ppm", $"phase").as[(Long, Long, Long)]
      .collect()
    assert(out.length === docs.count())
    assert(out.forall(r => r._3 >= 1 && r._3 <= 4), "phase out of range")
    // threshold semantics: one phase per distinct score
    val byScore = out.groupBy(_._2).view.mapValues(_.map(_._3).distinct)
    assert(byScore.forall(_._2.size == 1), "tied scores split across phases")
    // monotone: descending quality walks phases non-decreasingly
    val walk = byScore.toSeq.sortBy(-_._1).map(_._2.head)
    assert(walk.zip(walk.drop(1)).forall { case (a, b) => a <= b },
      s"phase not monotone over descending quality: $walk")
    // all four phases exist on this corpus
    assert(out.map(_._3).distinct.sorted === Seq(1L, 2L, 3L, 4L))
  }

  test("X7b quota cap: at most 20 per source, kept rows are each source's longest") {
    val out = CurationQueries.x7_quota_cap(spark, dir).cache()
    val per = out.groupBy($"source").count().as[(String, Long)].collect()
    assert(per.nonEmpty && per.forall(_._2 <= 20))
    // no dropped doc may be strictly longer than a kept doc of the same source
    val minKept = out.groupBy($"source").agg(min($"n_chars").as("min_kept"))
    val dropped = docs.join(out.select($"doc_id"), Seq("doc_id"), "left_anti")
    val violations = dropped.join(minKept, "source")
      .filter($"n_chars" > $"min_kept").count()
    assert(violations === 0)
    out.unpersist()
  }

  test("X7c bin-pack: offsets are gapless cumulative sums, bin = offset div budget") {
    val out = CurationQueries.x7_binpack(spark, dir).cache()
    assert(out.count() === docs.count())
    // per lang: offsets start at 0 and each row's offset = previous offset + previous n_tok
    val bad = out.withColumn("expected",
        coalesce(lag($"start_offset" + $"n_tok", 1).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"lang").orderBy($"doc_id")),
          lit(0L)))
      .filter($"start_offset" =!= $"expected").count()
    assert(bad === 0)
    val wrongBin = out.filter($"bin" =!= floor($"start_offset" / 2048.0).cast("bigint")).count()
    assert(wrongBin === 0)
    out.unpersist()
  }

  test("X8 decontaminate: counts shared distinct shingles against the eval set only") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // shares 'a b c' tail
      (2L, "a b c d e"),                                   // 3 shingles, all in eval doc 100
      (3L, "totally unrelated words here none shared")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "a b c d e f"),                               // shingles: a b c, b c d, c d e, d e f
      (101L, "the quick brown fox sat")
    ).toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, eval, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(out(2L) === 3L)  // a-b-c, b-c-d, c-d-e
    assert(out(1L) === 2L)  // 'the quick brown', 'quick brown fox'
    assert(!out.contains(3L))
    // driver-query shape: eval ids never appear, counts at least 1
    val q = CurationQueries.x8_decontaminate(spark, dir)
    assert(q.filter($"doc_id" % 97 === 0).count() === 0)
    assert(q.filter($"n_common" < 1).count() === 0)
  }

  test("X7d interleave: a permutation — every doc exactly once, shards balanced, pos dense") {
    val out = CurationQueries.x7_interleave(spark, dir).cache()
    val n = docs.count()
    assert(out.count() === n)
    assert(out.select($"doc_id").distinct().count() === n)
    // dense positions per shard: max(pos) == count
    val dense = out.groupBy($"shard")
      .agg(count(lit(1)).as("cnt"), max($"pos").as("maxp"))
      .filter($"cnt" =!= $"maxp").count()
    assert(dense === 0)
    // Lehmer permutation spreads ids: no shard may hoard (> 2x fair share)
    val maxShard = out.groupBy($"shard").count().agg(max($"count")).as[Long].head()
    assert(maxShard < 2 * n / 8 + 8, s"max shard size $maxShard of $n")
    out.unpersist()
  }

  test("X7e z-order: interleave matches reference bit math and is locality-preserving") {
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(b => (((x >> b) & 1) << (2 * b)) | (((y >> b) & 1) << (2 * b + 1))).sum
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (1023L, 1023L))
    val got = rows.toDF("x", "y")
      .select(Curation.zOrder($"x", $"y", bits = 10).as("z"))
      .as[Long].collect()
    assert(got.toSeq === rows.map { case (x, y) => ref(x, y, 10) })
    // interleave of max 10-bit values fills 20 bits exactly
    assert(ref(1023L, 1023L, 10) === (1L << 20) - 1)
  }

  test("X7f stratified sample: deterministic, per-stratum rates, nested under upsampling") {
    val rows = (0L until 400L).map(i => (i, if (i % 2 == 0) "en" else "es"))
      .toDF("id", "lang")
    def sample(enBp: Int, esBp: Int): Set[Long] =
      Curation.stratifiedSample(rows, $"lang", $"id",
        Map("en" -> enBp, "es" -> esBp)).select($"id").as[Long].collect().toSet
    val s1 = sample(5000, 1000)
    assert(s1 === sample(5000, 1000)) // rerun-stable
    // rates land near expectation (md5 uniform; 200 ids per stratum)
    val en = s1.count(_ % 2 == 0); val es = s1.count(_ % 2 == 1)
    assert(en > 70 && en < 130, s"en kept $en of 200 at 50%")
    assert(es > 5 && es < 45, s"es kept $es of 200 at 10%")
    // upsampling a stratum strictly grows its kept set (nested samples)
    val s2 = sample(8000, 1000)
    assert(s1.filter(_ % 2 == 0).subsetOf(s2.filter(_ % 2 == 0)))
    // unlisted strata fall back to defaultBp = 0
    assert(Curation.stratifiedSample(rows, $"lang", $"id", Map("en" -> 5000))
      .filter($"lang" === "es").count() === 0)
  }

  test("X7g temperature mix: sqrt-weights upweight low-resource strata, rates exact, nested") {
    // 320 en vs 20 zh: α=0.5 flattens the ratio from 16:1 to 4:1
    val rows = ((0L until 320L).map(i => (i, "en")) ++ (1000L until 1020L).map(i => (i, "zh")))
      .toDF("id", "lang")
    val rates = Curation.temperatureRates(rows, "lang", targetBp = 5000)
      .select($"stratum", $"n_total", $"weight", $"rate_bp")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // weights = floor(sqrt(n)*1000), independently recomputed
    assert(rates("en")._3 === math.floor(math.sqrt(320.0) * 1000.0).toLong)
    assert(rates("zh")._3 === math.floor(math.sqrt(20.0) * 1000.0).toLong)
    // exact expected bp: round_half_up(10000 * 0.5 * N * w_s / (W * n_s)), capped
    def expectedBp(w: Long, n: Long): Long = {
      val (wTot, nTot) = (rates.values.map(_._3).sum, rates.values.map(_._2).sum)
      val numer = 2L * 5000L * nTot * w + wTot * n
      math.min(10000L, numer / (2L * wTot * n))
    }
    assert(rates("en")._4 === expectedBp(rates("en")._3, 320L))
    assert(rates("zh")._4 === expectedBp(rates("zh")._3, 20L))
    // low-resource stratum keeps a strictly higher rate
    assert(rates("zh")._4 > rates("en")._4)
    // applying the mix keeps only rows under their stratum's rate, rerun-stable
    def kept(bp: Int): Set[Long] =
      Curation.temperatureMix(rows, "lang", "id", bp).select($"id").as[Long].collect().toSet
    val k1 = kept(5000)
    assert(k1 === kept(5000))
    // nested: a larger overall target never drops a previously kept row
    assert(k1.subsetOf(kept(8000)))
  }

  test("X7h weighted sample: priority is deterministic, weight-monotone, " +
    "and the heavy stratum dominates the top-k") {
    val rows = (0L until 400L)
      .map(i => (i, if (i < 200) 100L else 1L))
      .toDF("id", "w")
    def topK(k: Int) = rows
      .select($"id", Curation.samplePriority($"id", $"w").as("pri"))
      .orderBy($"pri".asc, $"id".asc).limit(k)
      .select($"id").as[Long].collect().toSeq
    // rerun-stable: same ids in the same order
    val t1 = topK(50)
    assert(t1 === topK(50))
    // inclusion-probability skew: the 100×-weighted half should take nearly
    // every one of the 50 slots (expected miss count ≈ 50/101)
    assert(t1.count(_ < 200L) >= 45, s"heavy stratum underrepresented: $t1")
    // strict weight monotonicity for a fixed id: doubling the weight
    // strictly lowers the priority (u > 0 for every md5)
    val pris = rows.limit(20)
      .select(Curation.samplePriority($"id", $"w").as("p1"),
        Curation.samplePriority($"id", $"w" * 2).as("p2"))
      .as[(Double, Double)].collect()
    assert(pris.forall { case (p1, p2) => p2 < p1 })
  }

  test("LSH pair discovery: band-collision candidates + exact verification " +
    "recover exactly the exact-Jaccard pairs; sub-threshold collisions are " +
    "rejected; work never touches non-candidate corpus docs") {
    // corpus: 0/1 a near-dup family; 2 unrelated; batch: 10 near-dups 0,
    // 11 near-dups 10 (batch-internal), 12 unrelated to everything
    def nd(tag: String) =
      s"alpha beta gamma delta epsilon zeta eta theta iota kappa $tag"
    val corpus = Seq((0L, nd("x")), (1L, nd("y")),
      (2L, "completely different words with no shared trigram at all here"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, nd("z")), (11L, nd("z") + " tail"),
      (12L, "another unrelated document about entirely disjoint topics now"))
      .toDF("doc_id", "text")
    val corpusSh = Dedup.shingleCounts(corpus, "text", "doc_id", n = 3)
      .select($"id", $"shingle")
    val batchSh = Dedup.shingleCounts(batch, "text", "doc_id", n = 3)
      .select($"id", $"shingle")
    val bandIdx = Dedup.buildLshBandRowsFromShingles(corpusSh)
    val got = Dedup.lshDiscoverVerifiedPairs(bandIdx, corpusSh, batchSh,
        minJaccard = 0.3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // ground truth: exact Jaccard >= 0.3 over the merged corpus, restricted
    // to pairs touching the batch
    val exact = Dedup.ngramJaccardPairsFromShingles(
        corpusSh.unionByName(batchSh), minJaccard = 0.3)
      .filter($"id_b" >= 10L)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got === exact, s"discovered $got != exact $exact")
    // the crafted family actually exercises both collision sides
    assert(got.exists(p => p._1 < 10L), "no corpus-batch pair discovered")
    assert(got.exists(p => p._1 >= 10L), "no batch-batch pair discovered")
    // verification is the gate, not banding: loosening the verify threshold
    // admits more collisions, so candidates DID include sub-0.3 pairs that
    // the exact check rejected (10/11 share grams with 0/1 via the common
    // prefix, but the 'tail' suffix dilutes some pairs under higher cuts)
    val loose = Dedup.lshDiscoverVerifiedPairs(bandIdx, corpusSh, batchSh,
        minJaccard = 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(loose.subsetOf(got) && loose.size < got.size,
      s"tightening the verify cut should shrink the set: $loose vs $got")
  }

  test("x10 discovery probes the standing band index PARTITION-PRUNED by " +
    "band-key bucket: the persisted fixture scan carries a non-empty " +
    "PartitionFilters on bkb (round-17 verdict #1 — the last per-ingest " +
    "O(corpus) scan in the nightly loop, now a pruned read)") {
    CurationQueries.prewarmFixtures(spark, dir)
    val st = CurationQueries.x10StandingState(spark, dir)
    val thr = CurationQueries.x10Threshold(spark, dir).as[Long].collect().head
    val delta = docs.filter($"doc_id" >= thr).select($"doc_id", $"lang", $"text")
    // the probe discoverTouching builds: the batch's band rows prune the
    // bucketed fixture read (the discovery subtree is localCheckpoint'd in
    // the entry, so the pruning must be asserted on the probe frame itself)
    val probe = st.bandIdx.probe(Dedup.buildLshBandRows(delta, "text", "doc_id"))
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bkb".r.findFirstIn(plan).isDefined,
      s"expected non-empty partition filter on `bkb`, got:\n$plan")
    assert(plan.contains("x10-std-bands"),
      s"probe does not scan the persisted band-index fixture:\n$plan")
    // the VERIFICATION artifact gets the same discipline: the standing
    // shingle fixture is read pruned to the candidate endpoints' buckets
    val shProbe = st.shingleIdx.probe(delta.select($"doc_id".as("id")))
    val shPlan = shProbe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*idb".r.findFirstIn(shPlan).isDefined,
      s"expected non-empty partition filter on `idb`, got:\n$shPlan")
    assert(shPlan.contains("x10-std-shingles"),
      s"probe does not scan the persisted shingle fixture:\n$shPlan")
  }

  test("x10 pair discovery recall on the LIVE fixture: the discovered set " +
    "EQUALS the exact >=0.3 delta-touching pair set, so a band-recall miss " +
    "fails HERE with a pointed message instead of surfacing downstream as " +
    "an inscrutable census hash mismatch (round-17 ADVICE)") {
    CurationQueries.prewarmFixtures(spark, dir)
    val st = CurationQueries.x10StandingState(spark, dir)
    val thr = CurationQueries.x10Threshold(spark, dir)
      .as[Long].collect().head
    val delta = docs.filter($"doc_id" >= thr).select($"doc_id", $"lang", $"text")
    val got = CurationQueries.discoverTouching(st, delta)
      .as[(Long, Long)].collect().toSet
    // ground truth: exact Jaccard >= 0.3 over standing exact-kept shingles
    // (discovery's corpus side) union the whole delta, restricted to pairs
    // touching the delta (delta ids are the top slice, so id_b >= thr)
    val deltaSh = Dedup.shingleCounts(delta, "text", "doc_id", n = 3)
      .select($"id", $"shingle")
    val exact = Dedup.ngramJaccardPairsFromShingles(
        st.shingleIdx.rows.drop("idb").unionByName(deltaSh), minJaccard = 0.3)
      .filter($"id_b" >= thr)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got === exact,
      s"LSH band discovery diverged from the exact >=0.3 pair set on this " +
        s"fixture — missed=${exact -- got} extra=${got -- exact}. A missed " +
        "pair means the 8x2 band family's recall no longer covers the " +
        "fixture's duplicate Jaccard range (miss prob (1-J^2)^8); fix the " +
        "family or the fixture, do NOT chase the census hash downstream.")
  }

  test("x10 contraction lookup cannot fan out: the standing reps' doc_ids " +
    "and the delta's exact-kept ids are disjoint on the standing-state and " +
    "night-one fixtures (incrementalMergeState's unioned lookup)") {
    CurationQueries.prewarmFixtures(spark, dir)
    val delta = docs.crossJoin(CurationQueries.x10Threshold(spark, dir))
      .filter($"doc_id" >= $"thr").select($"doc_id", $"lang", $"text")
    Seq("standing" -> CurationQueries.x10StandingState(spark, dir),
        "night-one" -> CurationQueries.x10NightOneState(spark, dir))
      .foreach { case (label, st) =>
        val (kept, _) = CurationQueries.incrementalMergeState(st.digests,
          st.reps, CurationQueries.discoverTouching(st, delta), delta)
        val keptIds = kept.select($"doc_id")
        assert(keptIds.count() > 0 && st.reps.count() > 0,
          s"$label: empty side, the check would be vacuous")
        val shared = st.reps.select($"doc_id").intersect(keptIds)
          .as[Long].collect()
        assert(shared.isEmpty,
          s"$label: reps and delta exact-kept ids overlap on " +
            s"${shared.sorted.take(10).mkString(",")} — the unioned " +
            "contraction lookup would fan out")
      }
  }

  test("x10_pipeline_incremental plan discovers pairs instead of scanning " +
    "the full-corpus pair fixture (round-16 verdict #3)") {
    spark.catalog.clearCache()
    // warm the standing-state fixtures so the builder serves parquet reads
    CurationQueries.prewarmFixtures(spark, dir)
    graft.queries.FixtureCache.clearReport()
    val df = CurationQueries.x10_pipeline_incremental(spark, dir)
    // neither the serving plan NOR any build-time lookup (the discovery
    // subtrees are localCheckpoint'd, so their scans run at build time and
    // would not show in the final plan string) touches the pair fixture
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("neardup-pairs"),
      "incremental pipeline plan still scans the full-corpus pair fixture")
    val looked = graft.queries.FixtureCache.lookupReport.keySet
    assert(!looked.exists(_.contains("neardup-pairs")),
      s"builder still consulted the pair fixture: $looked")
    // and discovery DID read its own artifacts: the standing band index +
    // the standing shingle rows
    assert(looked.exists(_.contains("x10-std-bands")), s"no band-index read: $looked")
    assert(looked.exists(_.contains("x10-std-shingles")), s"no shingle read: $looked")
  }

  test("incremental curation core: cluster merge retracts the losing " +
    "canonical, exact gates fire, and the patched census equals the batch " +
    "stages on the merged corpus (crafted micro-fixture)") {
    // quality-passing text (stopword ratio 0.9 -> score 0.6) distinct per i;
    // fail(i) scores 0.01
    def t(i: Int) = s"the a of and to in is w$i the a"
    def fail(i: Int) = s"zzz$i"
    val standing = Seq(
      (0L, "en", t(0)), (1L, "en", t(1)), (2L, "en", t(2)), (3L, "en", t(3)))
    // delta exercises every path: 10 bridges the two standing clusters
    // (merge -> rep 2 retracted, 10 itself non-canonical), 11 is a sha dup
    // of standing 3 (exact gate), 12 is fresh and kept, 13 is fresh but
    // quality-failing (kept by dedup, no census contribution), 14/15 are a
    // batch-internal sha dup (min id 14 wins)
    val delta = Seq(
      (10L, "en", t(10)), (11L, "en", t(3)), (12L, "en", t(12)),
      (13L, "en", fail(13)), (14L, "en", t(14)), (15L, "en", t(14)))
    val standingDf = standing.toDF("doc_id", "lang", "text")
    val deltaDf = delta.toDF("doc_id", "lang", "text")
    val standingPairs = Seq((0L, 1L), (2L, 3L)).toDF("id_a", "id_b")
    // touching pairs include (3, 11) whose delta endpoint is exact-DROPPED —
    // the core must ignore it, as the batch pipeline never sees it
    val touching = Seq((0L, 10L), (2L, 10L), (3L, 11L)).toDF("id_a", "id_b")

    // standing state, built with the same stages the fixtures use
    val digests = standingDf.select(sha2($"text", 256).as("sha")).distinct()
    val reps = Seq((0L, 0L), (1L, 0L), (2L, 2L), (3L, 2L)).toDF("doc_id", "rep")
    val kept = standingDf
      .join(reps.filter($"rep" === $"doc_id").select($"doc_id"), Seq("doc_id"))
      .filter(TextOps.qualityScore($"text") >= 0.5)
      .select($"doc_id", $"lang", Curation.splitAssign($"doc_id").as("split"),
        TextOps.wordCount($"text").cast("long").as("n_words"))
    val census = kept.groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("total_words"))

    val incremental = CurationQueries.incrementalCensusCore(
        digests, reps, kept, census, touching, deltaDf)
      .as[(String, String, Long, Long)].collect().toSet

    // the batch stages on the merged corpus (exact window -> CC over the
    // survivor-restricted pair graph -> anti-join -> quality -> census)
    val merged = standingDf.unionByName(deltaDf)
    val survivors = merged
      .withColumn("__keep",
        min($"doc_id").over(org.apache.spark.sql.expressions.Window
          .partitionBy(sha2($"text", 256))))
      .filter($"doc_id" === $"__keep").drop("__keep")
    val sIds = survivors.select($"doc_id")
    val mergedPairs = standingPairs.unionByName(touching)
      .join(sIds.select($"doc_id".as("id_a")), Seq("id_a"), "left_semi")
      .join(sIds.select($"doc_id".as("id_b")), Seq("id_b"), "left_semi")
    val clusters = Dedup.connectedComponents(mergedPairs)
    val batch = survivors
      .join(clusters.filter($"id" =!= $"cluster_id").select($"id".as("doc_id")),
        Seq("doc_id"), "left_anti")
      .filter(TextOps.qualityScore($"text") >= 0.5)
      .select($"lang", Curation.splitAssign($"doc_id").as("split"),
        TextOps.wordCount($"text").cast("long").as("n_words"))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("total_words"))
      .as[(String, String, Long, Long)].collect().toSet
    assert(incremental === batch)
    // the retraction actually happened: standing rep 2's group lost a doc
    // (kept docs after the increment are exactly {0, 12, 14})
    val totalDocs = incremental.toSeq.map(_._3).sum
    assert(totalDocs === 3L, s"expected 3 kept quality docs, got $totalDocs")

    // the STATE-UPDATE half on the same fixture: the updated contraction
    // map equals the batch-recomputed one — cluster merge relabels the
    // losing canonical's whole cluster (2, 3 -> 0), the bridging delta doc
    // takes the merged canonical, fresh keepers map to themselves, and
    // exact-dropped delta docs (11, 15) never appear
    val newReps = CurationQueries.incrementalRepsCore(
        digests, reps, touching, deltaDf)
      .as[(Long, Long)].collect().toMap
    val batchReps = survivors.select($"doc_id")
      .join(clusters.select($"id".as("doc_id"), $"cluster_id"),
        Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("rep"))
      .as[(Long, Long)].collect().toMap
    assert(newReps === batchReps)
    assert(newReps(2L) === 0L && newReps(3L) === 0L && newReps(10L) === 0L)
    assert(newReps(12L) === 12L && newReps(14L) === 14L)
    assert(!newReps.contains(11L) && !newReps.contains(15L))
  }
}
