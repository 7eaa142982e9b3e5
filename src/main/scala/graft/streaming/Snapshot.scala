package graft.streaming

import java.io.{FileInputStream, FileOutputStream}
import java.nio.file.{Files, Paths}
import java.util.Properties
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot export / restore (SURVEY.md S5 — scripts/backup.sh:10-20 and
  * scripts/restore.sh:19-26, the dumpling/lightning + ES-snapshot analog).
  *
  * A snapshot is the materialized state as parquet plus a manifest recording
  * row count and caller metadata (e.g. the source's offset watermark). A
  * Structured Streaming checkpoint dir + one of these = a full restore
  * point: restore the state, point the stream's checkpoint at the recorded
  * offsets, and the pipeline resumes exactly-once.
  *
  * Scale posture: the export is a straight distributed parquet write of
  * whatever partitioning the state already has (no collect, no re-shuffle);
  * the manifest is a driver-side few bytes.
  */
object Snapshot {

  /** Export `state` to `snapDir` with a manifest. Overwrites any previous
    * snapshot at the same path. */
  def export(state: DataFrame, snapDir: String,
             meta: Map[String, String] = Map.empty): Unit = {
    state.write.mode("overwrite").parquet(s"$snapDir/data")
    val rows = state.sparkSession.read.schema(state.schema).parquet(s"$snapDir/data").count()
    val props = new Properties()
    meta.foreach { case (k, v) => props.setProperty(k, v) }
    props.setProperty("row_count", rows.toString)
    Files.createDirectories(Paths.get(snapDir))
    val out = new FileOutputStream(s"$snapDir/MANIFEST.properties")
    try props.store(out, "graft snapshot manifest")
    finally out.close()
  }

  /** Restore the snapshot data. Fails loudly if the manifest's recorded row
    * count doesn't match what was read back (torn/partial snapshot). */
  def restore(spark: SparkSession, snapDir: String): DataFrame = {
    val df = graft.tables.Tables.parquet(spark, s"$snapDir/data")
    val expected = manifest(snapDir).get("row_count").map(_.toLong)
    expected.foreach { n =>
      val actual = df.count()
      require(actual == n,
        s"snapshot $snapDir is torn: manifest says $n rows, read $actual")
    }
    df
  }

  /** Snapshot diff — "what changed since the backup": full outer join of
    * two state frames on the key, each surviving key classified as `added`
    * (only in `b`), `deleted` (only in `a`), `changed` (both, any compared
    * column differs) or `unchanged`. The ops answer behind incident
    * review ("which rows moved between these two restore points") and
    * incremental backup sizing. One co-partitioned shuffle per side on the
    * key; compared columns travel as a single struct so the equality test
    * is one codegen'd comparison regardless of arity. */
  def diff(a: DataFrame, b: DataFrame, key: String,
           compareCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    def pack(df: DataFrame, side: String) =
      df.select(col(key), struct(compareCols.map(col): _*).as(s"__$side"))
    pack(a, "a").join(pack(b, "b"), Seq(key), "full_outer")
      .select(col(key),
        when(col("__a").isNull, "added")
          .when(col("__b").isNull, "deleted")
          .when(col("__a") =!= col("__b"), "changed")
          .otherwise("unchanged").as("change"),
        col("__a").as("before"), col("__b").as("after"))
  }

  /** Read the manifest key-values. */
  def manifest(snapDir: String): Map[String, String] = {
    val props = new Properties()
    val in = new FileInputStream(s"$snapDir/MANIFEST.properties")
    try props.load(in)
    finally in.close()
    props.asScala.toMap
  }
}
