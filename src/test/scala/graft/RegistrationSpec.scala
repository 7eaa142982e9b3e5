package graft

import scala.jdk.CollectionConverters._

/** The registration gate (round-12 postmortem): `cdc_dedup_stream` landed in
  * the driver map with an analysis-time `UNRESOLVED_COLUMN` because nothing
  * forced a registered builder to ever run before the snapshot commit. This
  * spec makes that class of failure impossible to ship: every entry in
  * [[SparkEntry.queries]] must at least BUILD (Spark analyzes a DataFrame
  * eagerly at construction, and the streaming census builders execute their
  * micro-batches inside the builder) on the sf0.001 tables. It deliberately
  * does NOT execute batch plans — correctness belongs to the DuckDB oracle
  * gate (`tools/verify_local.py`); this is the cheap "can it analyze at all"
  * floor that runs on every `sbt test`.
  */
class RegistrationSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("every oracle SQL key has a registered builder") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL with no builder (dead oracle): $orphans")
  }

  test("rows-only entries are exactly the declared structural set") {
    // entries without oracle SQL get only the driver's weaker rows-only
    // check — each of these is rows-only for a DECLARED structural reason
    // (engine-specific xxhash sketch family, recall-bounded float ANN,
    // HLL/sketch stores, the environmental codec stub), and every one
    // carries measured evidence columns or a certified integer twin. A new
    // entry landing here by accident (forgot the oracle) must fail loudly,
    // not silently downgrade its own gate.
    val declared = Set(
      "q10_approx_distinct",     // HLL NDV — evidence: ndv_err_ppm + exact sibling q9
      "q48_analyze_stats_approx",// sketch ANALYZE — evidence: *_err_ppm + exact q48
      "q51_hll_store",           // re-aggregatable HLL store — spec-bounded ±4σ; exact bitmap sibling q47
      "x2_minhash_lsh",          // xxhash64 MinHash — md5-portable twin oracle-checked; exact_jaccard_pm per pair
      "x2_simhash",              // xxhash64 SimHash — md5-portable twin oracle-checked; exact_jaccard_pm per pair
      "x3_ann_ivf",              // float ANN — measured recall_pm per query; certified-int twin x3_ann_ivf_int
      "x3_ann_lsh",              // float ANN — measured recall_pm; certified-int twin x3_ann_lsh_int
      "x3_ann_pq",               // float ANN — measured recall_pm; certified-int twin x3_ann_pq_int
      "x5_media_features")       // declared codec stub — int64 twin x5_media_features_int hash-green
    val actual = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(actual === declared,
      s"undeclared rows-only entries (write the oracle or declare here): ${actual -- declared}; " +
        s"stale declarations: ${declared -- actual}")
    // the explicit board tally (round-13 verdict #7): registered =
    // oracle-checked + declared rows-only, so a missing-oracle typo can
    // never reach the driver as a silent `no_oracle` downgrade
    val oracled = (SparkEntry.queries.keySet & SparkEntry.oracleSql.keySet).size
    assert(SparkEntry.queries.size === oracled + declared.size,
      s"board tally drifted: ${SparkEntry.queries.size} registered != " +
        s"$oracled oracled + ${declared.size} declared rows-only")
  }

  /** Every main source file with its text. */
  private def mainSources: Seq[(java.nio.file.Path, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => f -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
      .toList
    finally files.close()
  }

  /** Group 1 of every match of `literal` in the main sources. */
  private def mainLiterals(literal: scala.util.matching.Regex): Set[String] =
    mainSources.flatMap { case (_, txt) => literal.findAllMatchIn(txt).map(_.group(1)) }
      .toSet

  test("main source reads no graft.* conf switch") {
    // Every `graft.*` session conf in main is a second code path; the
    // cross-validation twins specs compare against live in test scope.
    // Literals with a capitalized segment name a class (`"graft.Bench"`),
    // not a key.
    val keys = mainLiterals("\"graft\\.([^\"]*)\"".r)
      .filterNot(_.split('.').exists(_.headOption.exists(_.isUpper)))
    assert(keys === Set.empty[String])
  }

  test("main source materializes only through Materialize") {
    // A raw checkpoint hides its input's plan from the plan gate
    // (PlanBudget.audit sees only what Materialize records).
    val raw = mainSources.collect {
      case (f, txt) if f.getFileName.toString != "Materialize.scala" &&
          "\\.(localCheckpoint|checkpoint)\\(".r.findFirstIn(txt).nonEmpty => f.toString
    }
    assert(raw.isEmpty, s"raw checkpoint calls outside Materialize.scala: ${raw.sorted}")
  }

  test("main source decides a store's bucket count only in BucketMeta") {
    // BucketMeta.bucketCount is the one rule for what a bucketed store's
    // sidecar (or its absence) means; a second reader of the sidecar or of
    // the partition directories is a second copy of that rule.
    val readers = mainSources.collect {
      case (f, txt) if !f.endsWith(java.nio.file.Paths.get("tables", "BucketMeta.scala")) &&
          "BucketMeta\\.(read|partitionValues)\\b".r.findFirstIn(txt).nonEmpty => f.toString
    }
    assert(readers.isEmpty, s"BucketMeta.read/partitionValues outside BucketMeta.scala: ${readers.sorted}")
  }

  test("main source writes a partitioned layout only through graft.tables") {
    // A raw DataFrameWriter partitionBy outside graft/tables/ is a layout no
    // store owns: no recorded bucket count, no compaction or repair. The
    // writes partitioned by column values rather than a bucket are named.
    val writer = ("\\.write(?:Stream)?(?:\\s*\\.\\w+\\((?:[^()]|\\([^()]*\\))*\\))*" +
      "\\s*\\.partitionBy\\(([^)]*)\\)").r
    val tables = java.nio.file.Paths.get("graft", "tables")
    val raw = mainSources.filterNot(_._1.getParent.endsWith(tables)).flatMap {
      case (f, txt) => writer.findAllMatchIn(txt).map(m => s"${f.getFileName}: ${m.group(1)}")
    }
    assert(raw.toSet === Set(
      "CdcPipeline.scala: \"table\", \"event_date\"", // eventStoreSink
      "CdcQueries.scala: \"tbl\", \"day\""))          // cdc_store_pruned
  }

  test("main source reads parquet without a schema only through graft.tables") {
    // A schema-less read runs a footer-inference job per query; Tables.parquet
    // infers a path's schema once. Every other read passes the schema it knows.
    val reader = ("\\.read((?:\\s*\\.\\w+\\((?:[^()]|\\([^()]*\\))*\\))*)" +
      "\\s*\\.parquet\\(([^)]*)\\)").r
    val tables = java.nio.file.Paths.get("graft", "tables")
    val raw = mainSources.filterNot(_._1.getParent.endsWith(tables)).flatMap {
      case (f, txt) => reader.findAllMatchIn(txt).filterNot(_.group(1).contains(".schema("))
        .map(m => s"${f.getFileName}: ${m.group(2)}")
    }
    assert(raw.toSet === Set.empty[String])
  }

  test("main source derives a CDC key only through CdcApply.envelopePk") {
    // One key for every apply operator and the streaming sink. A `pkCol`
    // knob, or a second read of the `id` cell in graft/cdc/, is a second key
    // rule, and on a composite-key feed it keys every row on null.
    val knobs = mainSources.collect {
      case (f, txt) if "\\bpkCol\\b".r.findFirstIn(txt).nonEmpty => f.toString
    }
    assert(knobs.isEmpty, s"pkCol in main: ${knobs.sorted}")
    val idCell = "element_at\\(\\s*(?:col\\(\"data\"\\)|\\$\"data\")\\s*,\\s*\"id\"\\s*\\)".r
    val envelopePk = "(?s)def envelopePk\\b.*?\\n\\s*\\n".r
    val cdc = java.nio.file.Paths.get("graft", "cdc")
    val idReads = mainSources.filter(_._1.getParent.endsWith(cdc)).flatMap { case (f, txt) =>
      idCell.findAllMatchIn(envelopePk.replaceAllIn(txt, "")).map(_ => f.getFileName.toString)
    }
    assert(idReads.isEmpty, s"id-cell key reads in graft/cdc/ outside envelopePk: $idReads")
  }

  test("main source reads exactly the ten SPARK_GRAFT environment names") {
    // Every env knob is a second way to run the bench or the fixtures. Bench
    // reads the driver's inputs plus its parent-to-child FORKED/SINGLE_RUN
    // signals; FixtureCache reads its bypass. A new knob must replace one.
    assert(mainLiterals("\"SPARK_GRAFT_([A-Z0-9_]*)\"".r) === Set("SF_DIR",
      "CPUS", "ONLY", "NO_FORK", "DETAIL", "PRIOR_DETAIL", "BUDGET_S", "FORKED",
      "SINGLE_RUN", "NO_FIXTURE_CACHE"))
  }

  test("no duplicate names across module query maps") {
    val maps = Seq(
      graft.queries.Relational.queries, graft.queries.MetricsOps.queries,
      graft.queries.LlmOps.queries, graft.queries.CurationQueries.queries,
      graft.queries.CdcQueries.queries)
    val dupes = maps.flatMap(_.keys).groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"entry name collides across modules (later map silently wins): $dupes")
  }

  test("the flagship entry analyzes (the driver's t1 smoke surface)") {
    assert(SparkEntry.entry(spark).schema.nonEmpty)
  }

  test("every registered builder analyzes on sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, sf).schema; None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | "))
        }
    }
    assert(failures.isEmpty,
      s"${failures.size} entries fail analysis:\n${failures.mkString("\n")}")
  }
}
