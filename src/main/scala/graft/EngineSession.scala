package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession configuration for this engine — the settings every
  * entry point (driver mains, tests, and library users) needs for correct and
  * scale-stable behavior:
  *
  *   - AQE on: runtime shuffle coalescing + skew-join splitting, the 100 TB
  *     posture for the fact-fact joins this engine leaves un-broadcast;
  *   - UTC session time zone: all oracle SQL and CDC `es` epoch handling is
  *     timezone-free by contract (SURVEY.md §7.4);
  *   - `InferFiltersFromGenerate` excluded: the rule plants a not-empty
  *     filter under every explode, and predicate pushdown then substitutes
  *     the generator input's alias into it — for the CDC path that alias is
  *     a (non-codegen, per-call-expensive) from_json, so the "optimization"
  *     triples the JSON parse work per message (see [[graft.cdc.CanalJson]]
  *     .flatten). The filter's only benefit is skipping empty arrays, which
  *     explode's own semantics already provide.
  *   - `spark.sql.legacy.parquet.nanosAsLong` on: a parquet
  *     TIMESTAMP(NANOS) column reads as its raw long instead of failing
  *     ([[graft.tables.Tables.events]] converts it). Set once here, not by
  *     the read, so a session's parquet settings — and with them
  *     [[graft.tables.Tables.parquet]]'s memo stamp — never depend on
  *     whether an events query has run yet;
  *   - the local file system is [[SpawnFreeLocalFs]]'s: without libhadoop,
  *     Hadoop's forks `chmod` per created file or dir and `readlink` per
  *     rename, 2627 processes (125 per micro-batch, 77 of them dedup
  *     state-store commits) in one `cdc_trickle` run, now 0;
  *   - the codegen cache holds 4096 classes, not Spark's 100: one `Verify`
  *     pass over every entry at sf0.01 compiles 3129 distinct classes (4096
  *     leaves ~30 % headroom), and one pass of perfbench's 8-entry
  *     `query_mix` about 190, so under the default, least-recently-used
  *     eviction threw out every class before its query ran again (226
  *     Janino compiles of 5–40 ms each on every repeated pass, now 0). A
  *     static setting: the JVM's first `CodeGenerator` use fixes the size;
  *   - `spark.sql.codegen.useIdInClassName` off: the class name is part of
  *     the cached source, and under AQE a stage's codegen id depends on the
  *     order in which the query's stages finish, so the same stage body came
  *     back as `GeneratedIteratorForCodegenStage19`, `…21` or `…22` and
  *     missed the cache (5–12 compiles per `x3_ann_pq_trained` run with an
  *     unbounded cache). Every stage class is `GeneratedIterator` instead.
  */
object EngineSession {
  val excludedRules: String =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.excludedRules", excludedRules)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", 4096)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.hadoop.fs.file.impl", classOf[SpawnFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[SpawnFreeLocalFs].getName)
      // graft's Catalyst surface: native SQL functions + the top-k
      // candidate-prefilter optimizer rule (SURVEY.md §2.8 / §4)
      .withExtensions(new GraftExtensions)

  /** Production streaming-state configuration: the RocksDB provider spills
    * state to local disk instead of holding it in an executor heap map —
    * the difference between "state fits in RAM" and "state fits on disk"
    * for long-horizon dedup/session/alert state at 100 TB ingest. Changelog
    * checkpointing ships per-batch deltas to the checkpoint location rather
    * than full snapshots. Per-QUERY conf: apply via `spark.conf.set` (or at
    * session build) before starting the stream. */
  val rocksDbStateConfigs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
}
