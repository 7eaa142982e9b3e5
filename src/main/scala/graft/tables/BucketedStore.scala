package graft.tables

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** A directory-partitioned parquet store whose partition column `partCol`
  * holds each row's bucket: `key(n)`, a column expression over the row's
  * key columns under the store's bucket count `n`. The one store type of
  * the engine: the digest (`shab`), LSH band (`bkb`), shingle (`idb`), IVF
  * (`list`) and postings (`bucket`) index families and the CDC
  * materialize sink (`bucket`) are each a key function on it.
  *
  * `n` is a property of the store: recorded as `partCol=n` in the
  * [[BucketMeta]] sidecar when the store is created, and taken from there
  * by every later append, read and probe ([[BucketMeta.bucketCount]]'s
  * rule). A caller chooses a count only where it creates a store.
  *
  * The lifecycle:
  *   - CREATE: rows land `partitionBy(partCol)`, by default one task per
  *     bucket so each partition is born as one file ([[create]]);
  *   - APPEND: rows add one file per touched partition; standing files are
  *     never rewritten ([[append]]);
  *   - READ / PROBE: the rows with their recorded count ([[read]]), probed
  *     by a static partition filter on the buckets a batch's keys fall in
  *     ([[Bucketed.probe]]);
  *   - OVERWRITE: a dynamic overwrite of some buckets from their prior
  *     state, deleting those left with no rows ([[overwriteBuckets]]);
  *   - COMPACT: over-threshold partitions rewrite to one file via a staged
  *     swap ([[compact]]);
  *   - REPAIR: roll a crashed swap forward from its manifest ([[repair]]).
  *
  * Single-writer contract for every step that writes. */
final case class BucketedStore(dir: String, partCol: String, key: Int => Column) {
  import BucketedStore._

  /** `rows` with their bucket under `n` in `partCol`. */
  def withBuckets(rows: DataFrame, n: Int): DataFrame = rows.withColumn(partCol, key(n))

  /** `rows` bucketed as this store buckets them, in memory: nothing is
    * written (a store that is kept as frames, or rows about to join one). */
  def bucketed(rows: DataFrame, n: Int): Bucketed = Bucketed(this, withBuckets(rows, n), n)

  /** The recorded count, or for a new store record `n` (no rows) and
    * return it. */
  def open(spark: SparkSession, n: => Int): Int =
    BucketMeta.bucketCount(spark, dir, partCol) {
      val m = n
      BucketMeta.write(spark, dir, partCol, m)
      m
    }

  /** Build (or rebuild) the store from `rows` under `n` buckets and record
    * the count. `onePerPartition = false` keeps the rows' own partitioning
    * (a task writes a file into every partition it holds rows for). */
  def create(rows: DataFrame, n: Int, onePerPartition: Boolean = true): Unit = {
    write(withBuckets(rows, n), overwrite = true, onePerPartition)
    BucketMeta.write(rows.sparkSession, dir, partCol, n)
  }

  /** Add `rows` to the existing store, bucketed under its recorded count. */
  def append(rows: DataFrame, onePerPartition: Boolean = true): Unit = {
    val n = BucketMeta.bucketCount(rows.sparkSession, dir, partCol)(noStore)
    write(withBuckets(rows, n), overwrite = false, onePerPartition)
  }

  /** The existing store's rows with its recorded count. */
  def read(spark: SparkSession): Bucketed = readOr(spark)(noStore)

  /** [[read]], creating the store first by `newStore` (which returns the
    * count it recorded) when there is none. */
  def readOr(spark: SparkSession)(newStore: => Int): Bucketed = {
    val n = BucketMeta.bucketCount(spark, dir, partCol)(newStore)
    Bucketed(this, Tables.parquet(spark, dir), n)
  }

  private def noStore: Nothing = throw new IllegalStateException(
    s"no $partCol store at $dir (no ${BucketMeta.File} sidecar): build it first")

  private def write(rows: DataFrame, overwrite: Boolean, onePerPartition: Boolean): Unit = {
    val out = if (onePerPartition) rows.repartition(col(partCol)) else rows
    out.write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy(partCol).parquet(dir)
  }

  /** Rewrite the `buckets` directories by a dynamic partition overwrite of
    * `rewrite(prior)`, where `prior` is those buckets' current rows (read
    * with `schema`, no footer sampled up front) or None when none of them
    * holds any. Only a bucket directory that does not exist means "no
    * prior rows": an unreadable file fails the write job before its commit.
    *
    * Dynamic overwrite never touches a partition with no output rows, so a
    * rewritten bucket left empty would keep its old files: each bucket
    * directory is listed before the write, and one whose file names did
    * not change is deleted after it. A crash between the commit and
    * that delete is replayed: the bucket still holds its old files, the
    * rewrite again leaves it empty, and the replay deletes it. */
  def overwriteBuckets(spark: SparkSession, buckets: Seq[Int], schema: StructType)
                      (rewrite: Option[DataFrame] => DataFrame): Unit = {
    val fs = fsFor(spark, new Path(dir))
    val before = buckets.map(b => new Path(dir, s"$partCol=$b"))
      .flatMap(d => fileNames(fs, d).map(d -> _))
    val prior =
      if (before.isEmpty) None
      else Some(spark.read.schema(schema).option("basePath", dir)
        .parquet(before.map(_._1.toString): _*))
    rewrite(prior).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(dir)
    before.foreach { case (d, names) =>
      if (fileNames(fs, d).contains(names)) fs.delete(d, true)
    }
  }

  /** Rewrite only the partitions holding more than `maxFilesPerPartition`
    * data files, each to one file; returns how many were rewritten.
    * Appends add a file per touched partition per ingest, and a probed
    * partition's read cost then goes to per-file open and footer overhead.
    *
    * The swap: a partition-pruned read of exactly the over-threshold
    * partitions lands one staged file per partition; the staging dir
    * records a MANIFEST of the staged files; then per partition the staged
    * files RENAME IN FIRST and the displaced standing files delete after.
    * A crash mid-swap leaves duplicate rows (the staging dir is still
    * there), never missing ones, and [[repair]] rolls it forward. A rename
    * that reports failure aborts before any displaced delete. Rows are only
    * moved, never changed, so every probe answers as before; partitions at
    * or under the threshold keep their files byte-for-byte. A production
    * deployment would wrap the swap in a table format's atomic commit. */
  def compact(spark: SparkSession, maxFilesPerPartition: Int): Int =
    compact(spark, maxFilesPerPartition, crashAfterRenames = Int.MaxValue)

  /** [[compact]] with a simulated crash after `crashAfterRenames` renames,
    * in the duplicate window (staged files renamed in, displaced files not
    * yet deleted): the crash-repair specs' hook. */
  private[graft] def compact(spark: SparkSession, maxFilesPerPartition: Int,
                             crashAfterRenames: Int): Int = {
    val root = new Path(dir)
    val fs = fsFor(spark, root)
    val prefix = s"$partCol="
    val over = fs.listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith(prefix))
      .filter(d => dataFiles(fs, d.getPath).length > maxFilesPerPartition)
      .map(_.getPath.getName.stripPrefix(prefix))
      .sorted
    if (over.isEmpty) return 0
    val staging = new Path(dir + s"$StagingInfix${ProcessHandle.current().pid()}")
    // typed literals keep the filter a static partition filter
    Tables.parquet(spark, dir)
      .filter(col(partCol).isin(over.map(_.toInt).toSeq: _*))
      .repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(staging.toString)
    // once renamed in, a staged file is indistinguishable from a standing
    // one by name, so the repair needs the staged set recorded first
    val manifest = over.flatMap { v =>
      dataFiles(fs, new Path(staging, s"$prefix$v")).map(f => s"$prefix$v/${f.getPath.getName}")
    }
    val mf = fs.create(new Path(staging, ManifestFile), true)
    try mf.write(manifest.mkString("\n").getBytes(StandardCharsets.UTF_8)) finally mf.close()
    var renames = 0
    over.foreach { v =>
      val dst = new Path(root, s"$prefix$v")
      val displaced = dataFiles(fs, dst)
      dataFiles(fs, new Path(staging, s"$prefix$v")).foreach { f =>
        val moved = new Path(dst, f.getPath.getName)
        if (!fs.rename(f.getPath, moved))
          throw new IOException(s"compact: rename ${f.getPath} -> $moved failed; " +
            "aborting with standing files intact (repair rolls it forward)")
        renames += 1
      }
      if (renames >= crashAfterRenames) throw new SimulatedCompactionCrash
      displaced.foreach(f => fs.delete(f.getPath, false))
    }
    fs.delete(staging, true)
    over.length
  }

  /** Roll forward every compaction of this store that crashed mid-swap;
    * returns the number of partitions repaired. For each partition the
    * manifest names: staged files still in staging move in, then every data
    * file the manifest does not name (a displaced standing file) is
    * deleted. Add-then-remove again, so a crash mid-repair re-enters the
    * same duplicate state and repair is idempotent. A staging dir with no
    * manifest died before any rename: the store is untouched and the dir is
    * removed. A store (or parent) that does not exist yet has nothing to
    * repair. Run it at pipeline startup, before any other writer. */
  def repair(spark: SparkSession): Int = {
    val root = new Path(dir)
    val fs = fsFor(spark, root)
    val parent = root.getParent
    if (parent == null || !fs.exists(parent)) return 0
    val stagings = fs.listStatus(parent)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith(root.getName + StagingInfix))
      .map(_.getPath)
    var repaired = 0
    stagings.foreach { staging =>
      val mfPath = new Path(staging, ManifestFile)
      if (fs.exists(mfPath)) {
        val in = fs.open(mfPath)
        val lines = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
        lines.split("\n").filter(_.contains("/")).toSeq
          .map { l => val Array(p, f) = l.split("/", 2); (p, f) }
          .groupBy(_._1).foreach { case (partDir, staged) =>
            val stagedNames = staged.map(_._2).toSet
            val dst = new Path(root, partDir)
            val src = new Path(staging, partDir)
            if (fs.exists(src)) fs.listStatus(src)
              .filter(f => f.isFile && stagedNames(f.getPath.getName))
              .foreach { f =>
                val moved = new Path(dst, f.getPath.getName)
                if (!fs.exists(moved) && !fs.rename(f.getPath, moved))
                  throw new IOException(s"repair: rename ${f.getPath} -> $moved failed")
              }
            dataFiles(fs, dst).filterNot(f => stagedNames(f.getPath.getName))
              .foreach(f => fs.delete(f.getPath, false))
            repaired += 1
          }
      }
      fs.delete(staging, true)
    }
    repaired
  }
}

object BucketedStore {

  /** Thrown by [[BucketedStore.compact]]'s crash hook. */
  private[graft] final class SimulatedCompactionCrash
    extends RuntimeException("simulated mid-swap crash (test hook)")

  /** The manifest a compaction writes into its staging dir before any rename. */
  private val ManifestFile = "_compact_manifest"

  /** A compaction stages in the sibling `<store>.compact-staging-<pid>`. */
  private val StagingInfix = ".compact-staging-"

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(fs: FileSystem, dir: Path) =
    fs.listStatus(dir).filter(f => f.isFile && f.getPath.getName.startsWith("part-"))

  /** The names of the files in `dir`, or None if it does not exist. */
  private def fileNames(fs: FileSystem, dir: Path): Option[Set[String]] =
    try Some(fs.listStatus(dir).map(_.getPath.getName).toSet)
    catch { case _: FileNotFoundException => None }
}

/** Rows of a [[BucketedStore]] carrying its partition column, bucketed
  * under `n`: what a read returns, and what a store kept as frames holds. */
final case class Bucketed(store: BucketedStore, rows: DataFrame, n: Int) {

  /** These rows plus `more`, bucketed under the same count: an append in
    * memory. */
  def union(more: DataFrame): Bucketed =
    copy(rows = rows.unionByName(store.withBuckets(more, n)))

  /** The rows in the buckets `keys` fall in: collect the keys' distinct
    * buckets (at most `n` values of driver metadata, never row data) and
    * filter with a literal IN. Over a store read that is a static partition
    * filter, so the scan lists and reads only those directories. The
    * bucket is a function of the key, so the probe is a superset filter: a
    * batch touching every bucket degrades to the full scan, never to a
    * wrong answer. */
  def probe(keys: DataFrame): DataFrame = {
    val ids = keys.select(store.key(n)).distinct().collect().map(_.get(0))
    rows.filter(col(store.partCol).isin(ids.toSeq: _*))
  }
}
