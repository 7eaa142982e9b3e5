package graft.ops

import graft.SparkSpec
import graft.tables.BucketedStore
import org.apache.spark.sql.functions._

/** The staged-swap CRASH REPAIR contract (round-18 verdict #3: the
  * recovery procedure was prose; this spec pins the operator): a
  * compaction killed in the duplicate window — staged
  * files renamed in, displaced standing files not yet deleted, staging dir
  * still present — must be (a) detectable, (b) rolled FORWARD by
  * [[BucketedStore.repair]] to exactly the state the
  * completed compaction would have left, with probe-after-repair ≡ the
  * pre-crash probe ≡ a rebuild, for both the band (`bkb`) and IVF
  * (`list`) layouts. */
class IndexMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def filesPerPartition(dir: String): Map[String, Seq[String]] = {
    val root = java.nio.file.Paths.get(dir)
    val st = java.nio.file.Files.walk(root)
    try st.filter(java.nio.file.Files.isRegularFile(_))
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => root.relativize(p).getName(0).toString ->
        root.relativize(p).toString)
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    finally st.close()
  }

  private def stagingDirsOf(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    f.getParentFile.listFiles()
      .filter(_.getName.startsWith(f.getName + ".compact-staging"))
      .toSeq
  }

  test("band layout: a compaction crashed in the duplicate window is " +
    "detectable, repair rolls it forward to the completed-compaction " +
    "state, and probe-after-repair equals the pre-crash probe and a " +
    "rebuild") {
    val idx = java.nio.file.Files.createTempDirectory("lsh-idx-crash-").toString
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
      val overThreshold = filesPerPartition(idx).count(_._2.size > 1)
      assert(overThreshold > 1,
        "fixture must leave staged work in BOTH repair arms: a partition " +
          "crashed mid-swap AND partitions whose staged files never moved")
      def rows(d: String) = spark.read.parquet(d)
        .select($"id", $"band", $"band_key").as[(Long, Int, String)]
        .collect().toSeq
      val batch = Seq((500L,
          "keeper doc 120 new120a new120b new120c new120d extra"))
        .toDF("doc_id", "text")
      def classify() = Dedup.lshIngestClassifyBucketed(
          Dedup.bandIndex(idx).read(spark), batch, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      val rowsBefore = rows(idx).toSet
      val classifyBefore = classify()
      assert(classifyBefore(500L) === "near_dup_of_corpus")
      // crash after the FIRST partition's staged file renamed in, BEFORE
      // its displaced standing files delete — the duplicate window
      intercept[BucketedStore.SimulatedCompactionCrash] {
        Dedup.bandIndex(idx).compact(spark,
          maxFilesPerPartition = 1, crashAfterRenames = 1)
      }
      // DETECT: the staging dir is still present, and the index holds
      // duplicate rows (never missing ones — the add-then-remove ordering)
      assert(stagingDirsOf(idx).nonEmpty, "crash left no staging dir")
      val crashed = rows(idx)
      assert(crashed.size > crashed.toSet.size,
        "crash in the duplicate window must leave duplicate rows")
      assert(crashed.toSet === rowsBefore, "crash lost rows — worse than dup")
      // REPAIR rolls forward: every manifest partition ends at the
      // completed-compaction state (one staged file, no displaced dups)
      val repaired = Dedup.bandIndex(idx).repair(spark)
      assert(repaired === overThreshold,
        s"repaired $repaired of $overThreshold crashed partitions")
      assert(stagingDirsOf(idx).isEmpty, "repair left the staging dir")
      val after = rows(idx)
      assert(after.size === after.toSet.size, "repair left duplicates")
      assert(after.toSet === rowsBefore, "repair changed the row set")
      assert(filesPerPartition(idx).values.forall(_.size == 1),
        "repair did not finish the compaction's one-file-per-bucket state")
      // probe-after-repair ≡ pre-crash probe ≡ rebuild
      assert(classify() === classifyBefore)
      Dedup.buildLshBandIndex(corpus.unionByName(keepers), "text", "doc_id",
        rebuilt)
      assert(after.toSet === rows(rebuilt).toSet)
      // idempotent: nothing left to repair, nothing left to compact
      assert(Dedup.bandIndex(idx).repair(spark) === 0)
      assert(Dedup.bandIndex(idx).compact(spark, maxFilesPerPartition = 1) === 0)
      // the bucket-count sidecar survives the crash + repair + compact
      // cycle (compaction/repair touch partition dirs, never root files)
      assert(Dedup.bandIndex(idx).read(spark).n === Dedup.LshIndexBuckets)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(rebuilt))
    }
  }

  test("IVF layout: crash-repair preserves the serve bit-identically " +
    "against the full rebuild") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("ivf_crash").toString
    val fullDir = java.nio.file.Files.createTempDirectory("ivf_crash_full").toString
    try {
      val cents = Similarity.writeIvfIndexInt(emb.filter($"vec_id" < 400),
        nLists = 16, path = dir)
      Similarity.appendIvfIndexInt(spark,
        emb.filter($"vec_id" >= 400 && $"vec_id" < 450), cents, dir)
      Similarity.appendIvfIndexInt(spark, emb.filter($"vec_id" >= 450),
        cents, dir)
      def serve() = Similarity.ivfTopKFromIndexInt(spark,
          emb.filter($"vec_id" >= 20 && $"vec_id" < 40), dir, cents,
          k = 5, nProbe = 4)
        .select($"query_id", $"rank", $"neighbor_id", $"list_id", $"d2m")
        .as[(Long, Int, Long, Long, Long)].collect().toSet
      val serveBefore = serve()
      intercept[BucketedStore.SimulatedCompactionCrash] {
        Similarity.ivfIndex(dir).compact(spark,
          maxFilesPerPartition = 1, crashAfterRenames = 1)
      }
      assert(stagingDirsOf(dir).nonEmpty)
      val ids = spark.read.parquet(dir).select($"vec_id").as[Long].collect()
      assert(ids.length > ids.distinct.length,
        "crash in the duplicate window must leave duplicate vec_ids")
      assert(Similarity.ivfIndex(dir).repair(spark) > 0)
      assert(stagingDirsOf(dir).isEmpty)
      val idsAfter = spark.read.parquet(dir).select($"vec_id").as[Long].collect()
      assert(idsAfter.length === idsAfter.distinct.length)
      // serve ≡ pre-crash ≡ full rebuild (rows only moved, never changed)
      assert(serve() === serveBefore)
      val centsFull = Similarity.writeIvfIndexInt(emb, nLists = 16,
        path = fullDir)
      val serveFull = Similarity.ivfTopKFromIndexInt(spark,
          emb.filter($"vec_id" >= 20 && $"vec_id" < 40), fullDir, centsFull,
          k = 5, nProbe = 4)
        .select($"query_id", $"rank", $"neighbor_id", $"list_id", $"d2m")
        .as[(Long, Int, Long, Long, Long)].collect().toSet
      assert(serve() === serveFull)
      assert(Similarity.ivfIndex(dir).compact(spark, maxFilesPerPartition = 1) === 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(fullDir))
    }
  }

  test("fresh-deployment startup sweep: repair on a not-yet-created index " +
    "(and a not-yet-created parent dir) reports nothing to repair instead " +
    "of throwing") {
    val base = java.nio.file.Files.createTempDirectory("repair-fresh-").toString
    try {
      // the documented discipline runs the sweep at EVERY pipeline
      // startup; on the first-ever startup neither the index nor (for a
      // nested layout) its parent exists yet (round-19 ADVICE)
      assert(Dedup.bandIndex(s"$base/nested/never-built-idx").repair(spark) === 0)
      assert(Dedup.bandIndex(s"$base/never-built-idx").repair(spark) === 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("a manifest-less staging dir (pre-rename crash) is swept with the " +
    "standing index untouched") {
    val idx = java.nio.file.Files.createTempDirectory("lsh-idx-sweep-").toString
    try {
      val corpus = (1 to 10).map(i => (i.toLong, s"doc $i a$i b$i c$i d$i"))
        .toDF("doc_id", "text")
      Dedup.buildLshBandIndex(corpus, "text", "doc_id", idx)
      val before = filesPerPartition(idx)
      // a staging dir that died before its manifest write — no rename ever
      // happened, so the standing index is intact and repair just sweeps
      val staging = new java.io.File(idx + ".compact-staging-99999")
      assert(staging.mkdir())
      assert(Dedup.bandIndex(idx).repair(spark) === 0)
      assert(!staging.exists(), "abandoned staging dir not swept")
      assert(filesPerPartition(idx) === before, "sweep touched the index")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    }
  }
}
