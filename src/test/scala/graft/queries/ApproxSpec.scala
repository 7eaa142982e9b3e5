package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Accuracy contract for the sketch-based entries that are rows-only in the
  * driver gate (no cross-engine oracle exists for HLL bytes): the estimate
  * must sit inside the advertised error envelope of the EXACT answer. */
class ApproxSpec extends SparkSpec {
  import spark.implicits._

  test("approx_percentile sits within the advertised accuracy of exact percentiles") {
    val dir = "/root/testdata/sf0.001"
    val li = graft.tables.Tables.lineitem(spark, dir)
    // accuracy a => rank error <= n/a; translate to a VALUE envelope by
    // bracketing the exact percentiles at ranks p ± n/a
    val accuracy = 1000
    val n = li.count()
    val qs = Seq(0.5, 0.95, 0.99)
    val approx = li.agg(percentile_approx($"l_extendedprice",
        array(qs.map(lit): _*), lit(accuracy)).as("ap"))
      .as[Seq[Double]].head()
    val sorted = li.select($"l_extendedprice".cast("double"))
      .orderBy($"l_extendedprice").as[Double].collect()
    qs.zip(approx).foreach { case (q, est) =>
      val rank = (q * (n - 1)).toLong
      val slack = n / accuracy + 1
      val lo = sorted(math.max(0, (rank - slack).toInt))
      val hi = sorted(math.min(sorted.length - 1, (rank + slack).toInt))
      assert(est >= lo && est <= hi,
        s"p$q estimate $est outside exact-rank envelope [$lo, $hi]")
    }
  }

  test("q10's emitted err_ppm evidence columns sit inside the 4-sigma rsd envelope") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("q10_approx_distinct")(spark, dir)
      .select($"l_returnflag", $"orders_err_ppm", $"parts_err_ppm")
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (flag, oErr, pErr) =>
      // 4 sigma of the default 5% rsd = 200_000 ppm
      assert(oErr >= 0 && oErr <= 200000, s"flag=$flag orders_err_ppm=$oErr")
      assert(pErr >= 0 && pErr <= 200000, s"flag=$flag parts_err_ppm=$pErr")
    }
  }

  test("float-ANN entries' emitted recall_pm evidence meets each entry's floor") {
    // Floors are the honest per-method expectations ON THIS CORPUS: the
    // synthetic embeddings are near-isotropic (no cluster structure), which
    // is the known worst case for bucketing ANN. PQ's ADC+rerank holds its
    // documented >= 0.8 even here; IVF (data-adaptive centroids, nProbe=4
    // of 16) lands mid-range; sign-plane LSH with Hamming-1 multiprobe
    // scans ~9/256 of the corpus and structurally cannot exceed ~0.15
    // without structure — its >= 0.8 contract is pinned on clustered data
    // in SimilaritySpec. The point of the emitted column is that the
    // MEASURED value now rides in the driver artifact for each entry.
    val floors = Map("x3_ann_lsh" -> 80.0, "x3_ann_ivf" -> 400.0,
      "x3_ann_pq" -> 800.0)
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01");
         (q, floor) <- floors) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val mean = df.select(avg($"recall_pm")).as[Double].head()
      info(s"$dir $q mean recall_pm = $mean")
      assert(mean >= floor, s"$q mean recall_pm $mean < floor $floor at $dir")
      // evidence is per query point and bounded
      val bad = df.filter($"recall_pm" < 0 || $"recall_pm" > 1000).count()
      assert(bad === 0L, s"$q has $bad out-of-range recall_pm rows")
      // x3_ann_lsh additionally carries its clustered-regime evidence
      // (round-13 verdict #5): same operator + parameters over the derived
      // clustered corpus, where the >= 0.8 deployment contract applies
      if (q == "x3_ann_lsh") {
        val cMean = df.select(avg($"clustered_recall_pm")).as[Double].head()
        info(s"$dir $q mean clustered_recall_pm = $cMean")
        assert(cMean >= 800.0,
          s"$q mean clustered_recall_pm $cMean < 800 at $dir")
        val cBad = df.filter(
          $"clustered_recall_pm" < 0 || $"clustered_recall_pm" > 1000).count()
        assert(cBad === 0L, s"$q has $cBad out-of-range clustered rows")
      }
    }
  }

  test("sentinel spine modes agree: the round-16 materialized spine emits " +
    "exactly the round-15 live-scan rows (sentinels included)") {
    val dir = "/root/testdata/sf0.001"
    val materialized = graft.SparkEntry.queries("x3_ann_pq")(spark, dir)
    val liveScan = LlmOps.x3AnnPq(spark, dir, spine => spine)
    assert(materialized.collect().map(_.toSeq).toSeq ===
      liveScan.collect().map(_.toSeq).toSeq)
  }

  test("sketch pair entries' exact_jaccard_pm evidence is a valid ground-truth column") {
    val dir = "/root/testdata/sf0.001"
    for (q <- Seq("x2_minhash_lsh", "x2_simhash")) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      // sentinel or a value from the exact pair graph (threshold 0.3)
      val bad = df.filter($"exact_jaccard_pm" =!= -1L &&
        ($"exact_jaccard_pm" < 300 || $"exact_jaccard_pm" > 1000)).count()
      assert(bad === 0L, s"$q has $bad out-of-range exact_jaccard_pm rows")
    }
    // the minhash estimate must track ground truth where both exist:
    // mean |est*1000 - exact_pm| within the 16-hash sketch's coarse grid
    val mh = graft.SparkEntry.queries("x2_minhash_lsh")(spark, dir)
      .filter($"exact_jaccard_pm" =!= -1L)
      .select(avg(abs($"est_jaccard" * 1000 - $"exact_jaccard_pm")))
      .as[Double].collect().headOption.flatMap(Option(_))
    mh.foreach(err => assert(err <= 350.0,
      s"minhash estimate strays $err per-mille from exact on average"))
  }

  test("q10 HLL estimates are within the advertised rsd of exact distinct counts") {
    val dir = "/root/testdata/sf0.001"
    val li = graft.tables.Tables.lineitem(spark, dir)
    val rows = li.groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_orderkey").as("approx"),
           countDistinct($"l_orderkey").as("exact"))
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (flag, approx, exact) =>
      // default rsd is 5%; allow 4 sigma so the test is deterministic-safe
      val tol = math.max(4 * 0.05 * exact, 8.0)
      assert(math.abs(approx - exact) <= tol,
        s"flag=$flag approx=$approx exact=$exact outside ±$tol")
    }
  }
}
