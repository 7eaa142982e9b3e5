package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  lazy val df = Seq(
    (1L, "the quick brown fox"),
    (2L, "a a a a"),
    (3L, "xyzzy plugh"),
    (4L, "el la de es words here"),
  ).toDF("doc_id", "text")

  test("word count / token estimate / avg word len") {
    val r = df.filter($"doc_id" === 1).select(
      TextOps.wordCount($"text"),
      TextOps.tokenEstimate($"text"),
      TextOps.avgWordLen($"text")).as[(Int, Int, Double)].head()
    assert(r === ((4, 4, 4.0))) // (3+5+5+3)/4
  }

  test("stopword ratio and quality bounds") {
    val r = df.select($"doc_id", TextOps.stopwordRatio($"text"), TextOps.qualityScore($"text"))
      .as[(Long, Double, Double)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r(2L)._1 === 1.0) // all stopwords
    assert(r(3L)._1 === 0.0)
    r.values.foreach { case (sr, q) => assert(sr >= 0 && sr <= 1 && q >= 0 && q <= 1) }
  }

  test("langId: marker argmax with 'und' fallback") {
    val r = df.select($"doc_id", TextOps.langId($"text"))
      .as[(Long, String)].collect().toMap
    assert(r(1L) === "en")
    assert(r(3L) === "und")
    assert(r(4L) === "es") // 4 es-markers vs 1 en ('a'? no: el,la,de,es hit 4)
  }

  test("fingerprint is whitespace/case-normalized sha256") {
    val fp = Seq("A  B c", "a b C").toDF("t")
      .select(TextOps.fingerprint($"t")).as[String].collect()
    assert(fp(0) === fp(1))
    assert(fp(0).matches("[0-9a-f]{64}"))
  }

  test("rolling hash is order-sensitive, deterministic") {
    val h = Seq("a b", "b a", "a b").toDF("t")
      .select(TextOps.rollingHash($"t")).as[Long].collect()
    assert(h(0) !== h(1))
    assert(h(0) === h(2))
  }

  test("chunking: overlap preserved, short tail dropped, tiny doc = one chunk") {
    val corpus = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 words
      (2L, "a b"),                                    // shorter than one window
    ).toDF("doc_id", "text")
    val chunks = TextOps.chunkWords(corpus, "text", "doc_id", chunkSize = 4, overlap = 2)
      .as[(Long, Int, String, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // stride 2: starts 1,3,5,7,9 -> windows of 4,4,4,4,2; the length-2 tail
    // (== overlap) is dropped
    assert(chunks(1L).map(_._3).toSeq === Seq(
      "w1 w2 w3 w4", "w3 w4 w5 w6", "w5 w6 w7 w8", "w7 w8 w9 w10"))
    assert(chunks(1L).map(_._2).toSeq === Seq(0, 1, 2, 3))
    assert(chunks(2L).map(_._3).toSeq === Seq("a b"))
  }

  test("bm25: term-free docs absent, higher tf wins, rarer term outranks common") {
    val corpus = Seq(
      (1L, "cat cat cat dog"),   // tf(cat)=3
      (2L, "cat dog dog dog"),   // tf(cat)=1, same length
      (3L, "bird bird bird uncommon"), // rare term, no cat
      (4L, "dog dog dog dog"),   // no query terms at all
    ).toDF("doc_id", "text")
    val scores = TextOps.bm25(corpus, "text", "doc_id", Seq("cat", "uncommon"))
      .as[(Long, Double)].collect().toMap
    assert(!scores.contains(4L)) // no query term -> no row
    assert(scores(1L) > scores(2L)) // more cat occurrences, equal doc length
    // 'uncommon' appears in 1 of 4 docs, 'cat' in 2 of 4: idf favors doc 3
    assert(scores(3L) > scores(2L))
    scores.values.foreach(s => assert(s > 0))
  }

  test("word entropy: 0 for repetition, log2(n) for all-distinct, +0.0 for one word") {
    val out = Seq(
      (1L, "a a a a"),          // zero entropy, boilerplate
      (2L, "a b c d"),          // uniform over 4 distinct -> exactly 2 bits
      (3L, "x"),                // single word: -1*log2(1) must be +0.0, not -0.0
      (4L, "a a b")             // -(2/3)log2(2/3) - (1/3)log2(1/3) ~ 0.9183
    ).toDF("doc_id", "text")
      .select($"doc_id", TextOps.wordEntropy($"text").as("h"))
      .as[(Long, Double)].collect().toMap
    assert(out(1L) === 0.0)
    assert(out(2L) === 2.0)
    assert(out(3L) === 0.0 &&
      java.lang.Double.doubleToLongBits(out(3L)) === 0L) // not -0.0
    assert(out(4L) === 0.9183)
  }

  test("cross-entropy: model words cheap, OOV expensive, exact tiny case") {
    val model = typedLit(Map("a" -> 8L, "b" -> 2L))
    val out = Seq((1L, "a a b"), (2L, "z z"), (3L, "a a a a"))
      .toDF("doc_id", "text")
      .select($"doc_id",
        TextOps.crossEntropyArr(split($"text", " "), model, lit(10L)).as("ce"),
        TextOps.modelHitsArr(split($"text", " "), model).as("hits"))
      .as[(Long, Double, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._1 === 0.6852) // 2/3·ln(10/8) + 1/3·ln(10/2)
    assert(out(2L)._1 === 2.9957) // ln(10/0.5): the smoothed OOV cost
    assert(out(3L)._1 === 0.2231) // ln(1.25): all high-frequency words
    assert(out(1L)._2 === 2 && out(2L)._2 === 0 && out(3L)._2 === 1)
    assert(out(2L)._1 > out(1L)._1 && out(1L)._1 > out(3L)._1)
  }

  test("repetition ratio: looped text near 1, unique text 0, short text 0") {
    val out = Seq(
      (1L, "a b c a b c a b c"), // 7 shingles, 3 distinct -> 4/7
      (2L, "a b c d e"),         // all distinct -> 0
      (3L, "a b")                // < 3 words -> no shingles -> 0
    ).toDF("doc_id", "text")
      .select($"doc_id",
        TextOps.repetitionRatioArr(split($"text", " ")).as("r"),
        TextOps.topWordRatioArr(split($"text", " ")).as("t"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._1 === 0.5714)
    assert(out(2L)._1 === 0.0)
    assert(out(3L)._1 === 0.0)
    assert(out(1L)._2 === 0.3333) // 'a' 3 of 9
    assert(out(2L)._2 === 0.2)
  }

  test("redactPii: emails then phones, all occurrences, no false fires") {
    val out = Seq(
      "mail a@b.co and c.d+x@e-f.org now",
      "call 555-123-4567 or 555-1234-4567",
      "v1.2.3 @handle 12-34 555-12-3456 plain" // shapes that must NOT fire
    ).toDF("text").select(TextOps.redactPii($"text").as("r"))
      .as[String].collect()
    assert(out(0) === "mail <EMAIL> and <EMAIL> now")
    assert(out(1) === "call <PHONE> or <PHONE>")
    assert(out(2) === "v1.2.3 @handle 12-34 555-12-3456 plain")
  }

  test("phraseSearch: overlapping hits counted, repeated-word phrases, misses dropped") {
    val docs = Seq(
      (1L, "x hash join y hash join z"), // 2 separated occurrences
      (2L, "a a a"),                     // overlapping 'a a' at pos 0 and 1
      (3L, "hash x join"),               // terms present, never adjacent
      (4L, "join hash")                  // reversed order must not match
    ).toDF("doc_id", "text")
    val hj = TextOps.phraseSearch(docs, "text", "doc_id", Seq("hash", "join"))
      .as[(Long, Long)].collect().toMap
    assert(hj === Map(1L -> 2L))
    val aa = TextOps.phraseSearch(docs, "text", "doc_id", Seq("a", "a"))
      .as[(Long, Long)].collect().toMap
    assert(aa === Map(2L -> 2L))
    // 3-word phrase exercises the k-way join shape
    val three = TextOps.phraseSearch(docs, "text", "doc_id", Seq("y", "hash", "join"))
      .as[(Long, Long)].collect().toMap
    assert(three === Map(1L -> 1L))
  }

  test("postings index: pruned-read phrase query matches inline phraseSearch") {
    val docs = Seq(
      (1L, "x hash join y hash join z"),
      (2L, "hash x join"),
      (3L, "q w e hash join"),
      (4L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("postings_idx").toString
    try {
      TextOps.writePostingsIndex(docs, "text", "doc_id", dir, nBuckets = 16)
      val fromIndex = TextOps.phraseFromIndex(spark, dir, Seq("hash", "join"))
      val inline = TextOps.phraseSearch(docs, "text", "doc_id", Seq("hash", "join"))
      assert(fromIndex.as[(Long, Long)].collect().toSet ===
        inline.as[(Long, Long)].collect().toSet)
      // the read must prune on the bucket partition column, not scan+filter
      val plan = fromIndex.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") && plan.contains("bucket"),
        s"expected bucket-pruned postings scan, got:\n$plan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("postings index: a probe takes the bucket count the index recorded, " +
    "not a default") {
    val docs = Seq(
      (1L, "alpha beta gamma delta alpha beta"),
      (2L, "beta gamma delta epsilon"),
      (3L, "gamma delta alpha beta gamma delta"),
      (4L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val phrase = Seq("alpha", "beta", "gamma", "delta")
    // witness: some term's bucket under the old default count (64) lies
    // outside a 16-bucket index, so a probe under that count misses it
    val under64 = phrase.toDF("w")
      .select(pmod(xxhash64($"w"), lit(64)).as("b")).as[Long].collect()
    assert(under64.exists(_ >= 16), s"fixture has no witness term: $under64")
    val dir = java.nio.file.Files.createTempDirectory("postings_idx16").toString
    try {
      TextOps.writePostingsIndex(docs, "text", "doc_id", dir, nBuckets = 16)
      val inline = TextOps.phraseSearch(docs, "text", "doc_id", phrase)
        .as[(Long, Long)].collect().toSet
      assert(inline === Set((1L, 1L), (3L, 1L)))
      assert(TextOps.phraseFromIndex(spark, dir, phrase).as[(Long, Long)]
        .collect().toSet === inline)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("significantTerms: doc-frequency counts, ppm floors, jlh sign") {
    val docs = Seq(
      (1L, "zh", "dup dup common"), // 'dup' counted ONCE for doc 1
      (2L, "zh", "dup common"),
      (3L, "zh", "common"),
      (4L, "en", "common other"),
      (5L, "en", "common other")
    ).toDF("doc_id", "lang", "text")
    val out = TextOps.significantTerms(docs, "text", "doc_id",
        isFg = $"lang" === "zh", minFgDocs = 1)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // dup: fg 2/3 docs, bg 2/5 docs
    assert(out("dup")._2 === 2 && out("dup")._3 === 2)
    assert(out("dup")._4 === 666666L && out("dup")._5 === 400000L)
    assert(out("dup")._6 === (666666L - 400000L) * 666666L)
    // common: everywhere -> fg_ppm = bg_ppm = 1e6, jlh 0
    assert(out("common")._6 === 0L)
    // other: absent from fg -> filtered by minFgDocs=1
    assert(!out.contains("other"))
  }

  test("containmentPairs: directed asymmetry a Jaccard threshold misses") {
    val short = "q w e r t" // 3 shingles, all inside the long doc
    val long = "q w e r t a b c d e f g h i j k l m n o p"
    val docs = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "text", "doc_id",
        shingleSize = 3, minPpm = 0L)
      .select("id_a", "id_b", "containment_ppm")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 2L)) === 1000000L) // short fully contained
    assert(out((2L, 1L)) === 157894L)  // 3 of 19 shingles -> floor(3e6/19)
    // while Jaccard of the same pair is 3/19 = 0.158 — under any dedup cut
  }

  test("trained language-ID: perfect on labels that carry character " +
      "structure; profiles are deterministic and bounded") {
    // three synthetic languages with DISJOINT character inventories, mild
    // per-doc variation via rotation — the regime the classifier is FOR
    // (the driver entry's corpus is the structureless worst case; see
    // x4_lang_profile's scaladoc)
    val vocab = Map(
      "aa" -> Seq("abba", "bacca", "cabad"),
      "bb" -> Seq("deeff", "effgd", "gedfe"),
      "cc" -> Seq("hiijk", "jkkhi", "kihjj"))
    val docs = (0 until 60).map { i =>
      val lang = Seq("aa", "bb", "cc")(i % 3)
      val ws = vocab(lang)
      val text = (0 until 8).map(j => ws((i + j) % 3)).mkString(" ")
      (i.toLong, lang, text)
    }.toDF("doc_id", "lang", "text")
    val train = docs.filter($"doc_id" % 5 =!= 0)
    val test = docs.filter($"doc_id" % 5 === 0)
    val profiles = TextOps.langProfiles(train, "text", "lang", topM = 20)
    // bounded: at most topM rows per language, weights in [1, topM]
    val perLang = profiles.groupBy("lang").count().as[(String, Long)].collect()
    assert(perLang.forall(_._2 <= 20) && perLang.length === 3)
    assert(profiles.filter($"weight" < 1 || $"weight" > 20).count() === 0)
    val pred = TextOps.langClassify(test, profiles, "text", "doc_id")
      .join(test.select($"doc_id", $"lang"), Seq("doc_id"))
    assert(pred.count() === test.count()) // exactly one prediction per doc
    val wrong = pred.filter($"predicted" =!= $"lang").count()
    assert(wrong === 0L, s"$wrong misclassified docs on disjoint-vocabulary languages")
  }

  test("heavyHitters: exact on a skewed corpus, candidates stay bounded") {
    // 2 true heavy tokens (1/3 of the stream each) + a 97-token uniform
    // tail, spread over 8 partitions
    val docs = spark.range(0, 200).select(
      concat_ws(" ", lit("alpha"), lit("beta"),
        concat(lit("tail"), $"id" % 97)).as("text"))
      .repartition(8)
    val got = TextOps.heavyHitters(docs, "text", supportBp = 2000)
      .as[(String, Long)].collect().toMap
    assert(got === Map("alpha" -> 200L, "beta" -> 200L))
    // exact-census cross-check (the oracle the driver runs, in-process)
    val words = docs.select(explode(split($"text", " ")).as("w"))
    val n = words.count()
    val exact = words.groupBy($"w").count()
      .filter($"count" * 10000 >= n * 2000)
      .as[(String, Long)].collect().toMap
    assert(got === exact)
    // the candidate pass is bounded by partitions × k, not vocabulary size
    val k = 10000 / 2000 + 1
    val cand = TextOps.heavyHitterCandidates(docs, "text", k).count()
    assert(cand <= 8L * k, s"candidate set $cand exceeds partitions×k")
  }

  test("collocations: exact counts and lift; minCount gates rare pairs") {
    import spark.implicits._
    // "new york" appears 3×; "the the" 3× but from a high-frequency word;
    // "rare pair" once (below minCount)
    val docs = Seq(
      "new york is big the the the end",
      "i love new york and the the sea",
      "new york wins rare pair the the today").toDF("text")
    val got = TextOps.collocations(docs, "text", minCount = 3)
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    val ny = got(("new", "york"))
    assert(ny._1 === 3L && ny._2 === 3L && ny._3 === 3L)
    assert(ny._4 === 10000000000L / 3L) // 3·10¹⁰ div (3·3)
    // "the the": 4 adjacent pairs, but 'the' appears 7× overall
    val tt = got(("the", "the"))
    assert(tt._1 === 4L && tt._2 === 7L && tt._3 === 7L)
    assert(tt._4 === 4L * 10000000000L / 49L)
    assert(ny._4 > tt._4) // genuine collocation outranks frequent-word noise
    assert(!got.contains(("rare", "pair"))) // below minCount
  }

  test("BPE merge training equals a driver-side greedy replay on the real " +
    "corpus, with deterministic tie-breaks") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = 6
    val got = TextOps.bpeMerges(docs, "text", n)
      .orderBy($"merge_rank")
      .as[(Long, String, String, String, Long)].collect()
    // plain-Scala replay of the identical algorithm over the same
    // word-frequency table: count pairs, pick (count desc, a asc, b asc),
    // merge left-to-right non-overlapping, repeat
    var words: Map[Vector[String], Long] = docs
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].collect()
      .map { case (w, f) =>
        (w.split("").filter(_.nonEmpty).toVector, f) }.toMap
    val expected = (1 to n).map { r =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      words.foreach { case (toks, f) =>
        toks.zip(toks.tail).foreach(p =>
          counts(p) = counts.getOrElse(p, 0L) + f)
      }
      val ((a, b), cnt) = counts.toSeq
        .minBy { case ((x, y), c) => (-c, x, y) }
      def mergeWord(toks: Vector[String]): Vector[String] = {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < toks.length) {
          if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += toks(i); i += 1 }
        }
        out.result()
      }
      words = words.groupBy { case (toks, _) => mergeWord(toks) }
        .map { case (t, m) => (t, m.values.sum) }
      (r.toLong, a, b, a + b, cnt)
    }
    assert(got.toSeq === expected)
    // counts need not be monotone across rounds; rule equality above is the gate
  }

  test("meanMidpointClassify: trained directions, midpoint/equal-mean/vote " +
      "ties all deterministic toward the negative class") {
    // train: pos class mean f1=10, f2=100; neg mean f1=20, f2=50 —
    // f1 votes pos BELOW midpoint 15, f2 votes pos ABOVE midpoint 75;
    // f3 has EQUAL class means (learned nothing -> always negative vote)
    val train = Seq(
      ("p", 8L, 90L, 7L), ("p", 12L, 110L, 7L),
      ("n", 18L, 40L, 5L), ("n", 22L, 60L, 9L))
      .toDF("label", "f1", "f2", "f3")
    val test = Seq(
      (1L, 10L, 100L, 0L), // both informative features pos -> pos (2 of 3)
      (2L, 20L, 50L, 0L),  // both neg -> neg
      (3L, 10L, 50L, 0L),  // split 1-1 + f3 neg -> neg (majority not reached)
      (4L, 15L, 100L, 0L)) // f1 exactly ON the midpoint -> negative vote -> 1-2 neg
      .toDF("id", "f1", "f2", "f3")
    val got = TextOps.meanMidpointClassify(train, test,
        Seq("f1", "f2", "f3"), "label", posLabel = "p", negLabel = "n")
      .select($"id", $"votes_pos", $"predicted")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, 2L, "p"), (2L, 0L, "n"), (3L, 1L, "n"),
      (4L, 1L, "n")))
  }

  test("x4_quality_clf: held-out accuracy floor on the separable injected " +
      "labels (the trained-quality-floor contract)") {
    val conf = graft.queries.LlmOps.x4_quality_clf(spark, "/root/testdata/sf0.001")
      .select($"label", $"predicted", $"n_docs")
      .as[(String, String, Long)].collect()
    val total = conf.map(_._3).sum
    val correct = conf.filter(c => c._1 == c._2).map(_._3).sum
    assert(total > 0)
    // separable-by-construction labels (template spam vs the original doc):
    // the trained midpoint-vote model must clear 95% held-out accuracy
    assert(correct * 100 >= total * 95,
      s"held-out accuracy ${correct}/$total below the 95% floor: " +
        conf.mkString(", "))
  }

  test("bpeApply with TRAINED rules equals a driver-side greedy tokenize") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rules = TextOps.bpeMerges(docs, "text", numMerges = 6)
      .orderBy($"merge_rank")
      .select($"left", $"right").as[(String, String)].collect().toSeq
    assert(rules.nonEmpty)
    val got = TextOps.bpeApply(docs, "text", "doc_id", rules)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def applyRule(toks: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += toks(i); i += 1 }
      }
      out.result()
    }
    val expected = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, text) =>
        val words = text.split(" ").filter(_.nonEmpty)
        val nToks = words.map { w =>
          rules.foldLeft(w.split("").filter(_.nonEmpty).toVector) {
            case (t, (a, b)) => applyRule(t, a, b)
          }.length.toLong
        }.sum
        id -> ((words.length.toLong, nToks))
      }.filter(_._2._1 > 0).toMap
    assert(got === expected)
    // merges actually fired: total tokens < total chars for at least one doc
    assert(got.exists { case (id, (_, nt)) => nt > 0 })
  }
}
