package graft.tables

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The bucket-count sidecar of a directory-partitioned parquet store: a
  * hidden file at the store's root holding `partCol=n`, the modulus its
  * `partCol=` directories were computed under. The leading `_` keeps it out
  * of `spark.read.parquet(dir)`.
  *
  * Every [[BucketedStore]] records one when it is created: the index
  * families and the CDC materialize sink alike. Which count a store was
  * built under is decided by [[bucketCount]] alone, for all of them: the
  * store's sidecar is the only source of its layout, never the caller. */
object BucketMeta {

  val File = "_nbuckets"

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Record `partCol=n` at `dir`, replacing any earlier value. The value is
    * written to a temporary file and renamed into place, so a reader never
    * sees a partial sidecar. */
  def write(spark: SparkSession, dir: String, partCol: String, n: Int): Unit = {
    val p = new Path(dir, File)
    val tmp = new Path(dir, File + ".tmp")
    val fs = fsFor(spark, p)
    val out = fs.create(tmp, true)
    try out.write(s"$partCol=$n".getBytes(StandardCharsets.UTF_8)) finally out.close()
    // a file system whose rename does not replace (HDFS) needs the old one gone
    if (!fs.rename(tmp, p) && !(fs.delete(p, false) && fs.rename(tmp, p)))
      throw new IOException(s"could not write $p")
  }

  /** The recorded (partCol, n) at `dir`, or None if it has no sidecar.
    * Content that is not `partCol=n` with a positive `n` throws: a damaged
    * sidecar is not a missing one. */
  def read(spark: SparkSession, dir: String): Option[(String, Int)] = {
    val p = new Path(dir, File)
    val text =
      try {
        val in = fsFor(spark, p).open(p)
        try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      } catch { case _: FileNotFoundException => return None }
    text.trim.split("=") match {
      case Array(c, n) if c.nonEmpty && n.toIntOption.exists(_ > 0) => Some(c -> n.toInt)
      case _ => throw new IllegalStateException(
        s"$p must hold partCol=<positive bucket count>, found '${text.take(40)}'")
    }
  }

  /** The bucket count of the store at `dir`, partitioned by `partCol` —
    * the one rule every bucketed store follows, checked before anything is
    * written or probed:
    *   - a sidecar recording `partCol` gives the count, whatever the
    *     caller's session or parameters;
    *   - a damaged sidecar (not `partCol=n` with a positive `n`), or one
    *     recording another column, fails;
    *   - no sidecar but `partCol=` directories present fails: a store of an
    *     older layout, or a build that died before recording its count,
    *     whose modulus nothing can prove;
    *   - no sidecar and no directory is a new store: `newStore` creates it
    *     (the sink records its session's count, an index build writes its
    *     rows and its count) and returns the count it recorded. A caller
    *     that needs an existing store (an index append or read) throws from
    *     `newStore` instead.
    * Every failure names the sidecar file. */
  def bucketCount(spark: SparkSession, dir: String, partCol: String)(newStore: => Int): Int =
    read(spark, dir) match {
      case Some((`partCol`, n)) => n
      case Some((c, _)) => throw new IllegalStateException(
        s"$dir/$File records $c buckets, not $partCol")
      case None if partitionValues(spark, dir, partCol).nonEmpty =>
        throw new IllegalStateException(
          s"$dir has $partCol= directories but no $File sidecar, so the modulus they " +
            "were bucketed under is unknown (an older layout, or a build that did not " +
            "finish); rerun the index build, or replay the feed into a new state path")
      case None => newStore
    }

  /** The values of the `partCol=` directories directly under `dir`; empty
    * if `dir` does not exist. */
  def partitionValues(spark: SparkSession, dir: String, partCol: String): Seq[String] = {
    val root = new Path(dir)
    try fsFor(spark, root).listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .map(_.getPath.getName.stripPrefix(s"$partCol="))
    catch { case _: FileNotFoundException => Nil }
  }
}
