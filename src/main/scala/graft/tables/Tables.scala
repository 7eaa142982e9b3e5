package graft.tables

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's parquet testdata (TESTDATA.md / FIXTURES.md §B),
  * and [[parquet]], the engine's one schema-less parquet read.
  *
  * All reads go through `spark.read.parquet` so Catalyst's parquet scan gets
  * column pruning + predicate pushdown for free. At 100 TB the same call
  * pattern holds — the scan is partition-pruned by whatever directory layout
  * the production store uses. Nothing here materializes or caches rows; the
  * only state kept is [[parquet]]'s per-JVM memo of each path's inferred
  * schema.
  */
object Tables {

  /** The parquet files at `path` (a file, or a directory with its
    * `col=value` partition columns), with the schema Spark infers for them.
    *
    * Inferring a schema runs a one-task Spark job that reads a footer, and
    * a relation's schema is known before execution: it need not be
    * rediscovered per query. The first read of a path infers as a plain
    * `spark.read.parquet` does and keeps the result; a later read whose
    * [[fingerprint]] (every file's relative name, length and mtime) and
    * inference settings are unchanged reads with the kept schema and runs
    * no job. Any other read infers again and replaces the path's entry, so
    * the memo holds one schema per distinct path, and at most `MaxPaths`
    * of them, least recently read first out (a fresh temp-dir store is
    * read once and never again). A path that is not on the local file
    * system, or whose listing fails, is read plainly.
    *
    * The fingerprint is taken before inference: files that change while a
    * schema is inferred leave a stale stamp, which the next read misses. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val stamp = localFingerprint(path).map(_ -> InferenceConfs.map(spark.conf.getOption))
    val kept = stamp.flatMap(s => schemas.synchronized(Option(schemas.get(path)))
      .collect { case (`s`, schema) => schema })
    kept match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        stamp.foreach(s => schemas.synchronized(schemas.put(path, (s, df.schema))))
        df
    }
  }

  /** The session settings that change what parquet schema inference returns
    * for the same files. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive")

  private val MaxPaths = 1024

  private type Entry = ((String, Seq[Option[String]]), StructType)

  /** path → ((fingerprint, inference settings), the schema inferred under
    * them), in access order. */
  private val schemas = new java.util.LinkedHashMap[String, Entry](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
      size() > MaxPaths
  }

  /** The schema [[parquet]] keeps for `path`, if any. */
  private[graft] def memoized(path: String): Option[StructType] =
    schemas.synchronized(Option(schemas.get(path)).map(_._2))

  private def localFingerprint(path: String): Option[String] =
    try if (Files.exists(Paths.get(path))) Some(fingerprint(path)) else None
    catch { case _: java.io.IOException | _: java.io.UncheckedIOException |
                 _: java.nio.file.InvalidPathException => None }

  /** Cheap content fingerprint of a file or directory: fold every file's
    * (relative name, length, mtime) into one hash — a driver-side listing,
    * no data read. Collision across regenerations would need identical
    * byte counts AND mtimes, which a rewrite can't produce. */
  private[graft] def fingerprint(path: String): String = {
    val base = Paths.get(path)
    var h = 1125899906842597L // FNV-ish seeded fold, order-independent (sum)
    if (Files.exists(base)) {
      val st = Files.walk(base)
      try {
        st.filter(Files.isRegularFile(_)).forEach { p =>
          val rel = base.relativize(p).toString
          var fh = 0L
          rel.foreach(c => fh = fh * 31 + c)
          fh = fh * 31 + Files.size(p)
          fh = fh * 31 + Files.getLastModifiedTime(p).toMillis
          h += fh // commutative: directory-walk order can't change the key
        }
      } finally st.close()
    }
    java.lang.Long.toHexString(h)
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, dir: String): DataFrame = table(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame = table(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = table(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = table(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = table(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame = table(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame = table(s, dir, "region")
  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS) across testdata generations, so adapt to the file's
    * schema instead of assuming one era. Nanos: Spark's vectorized reader
    * rejects the physical type, so read raw longs (the legacy
    * `nanosAsLong` flag, which [[graft.EngineSession.builder]] sets for the
    * whole session) and integer-divide down to microseconds — the same
    * truncation DuckDB applies. Micros: pass through. Either way the
    * post-load contract is a `timestamp_ntz` column named `ts`, which
    * everything downstream builds on. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val df = table(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _ =>
        df.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame = table(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = table(s, dir, "embeddings")
}
