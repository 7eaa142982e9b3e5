package graft.queries

import org.apache.spark.sql.SparkSession

/** Session tuning for the embedded streaming census entries (p27/p28/p29,
  * cdc_dedup_stream, the health pipeline): their fixtures are a few hundred
  * rows, so the engine session's 32 shuffle partitions are pure per-trigger
  * state-store commit overhead (every micro-batch commits one store per
  * partition per stateful operator), and the no-data micro-batches Spark
  * schedules after each watermark advance double the trigger count for
  * entries whose OUTPUT doesn't depend on them.
  *
  * Round-13 interleaved A/B (same session, 3 rounds, identical census
  * hashes): p29 4.67→2.60 s, p28 4.76→3.31 s (partitions only), p27
  * 1.92→1.61 s, cdc_dedup_stream 1.84→1.44 s. RocksDB state store was
  * also A/B'd for p29 and is ~18% SLOWER than the default HDFS-backed
  * provider here (2.31 vs 1.95 s median, identical hash): JNI + disk
  * commit costs dwarf any benefit when per-query state is a few hundred
  * keys — RocksDB earns its keep only when state outgrows executor heap.
  *
  * `noDataBatches = false` turns no-data batches OFF. Entries whose
  * results ride a state timeout or watermark eviction (p28, p32) run that
  * way too: since round 15 they drive the timeout batch with an explicit
  * sentinel tick instead of the scheduler's no-data batch. Only the health
  * pipeline (CdcQueries `runHealthPipeline`) keeps them on, because its
  * surface reports the scheduler's trigger gauges.
  *
  * This is per-entry bench tuning of the EMBEDDED census fixtures, not a
  * production default: a real deployment sizes shuffle partitions to its
  * ingest rate and leaves no-data batches on for timely eviction/timeouts.
  */
object CensusConf {
  /** Previous session values to hand back to [[restore]], plus the tmpfs
    * checkpoint dir this census run owns (None when /dev/shm is absent). */
  final case class Prev(shuffle: String, noData: String,
                        prevCkpt: Option[String], ckptDir: Option[String])

  /** Apply the tuning; pass the returned previous values to [[restore]] in
    * the caller's `finally`.
    *
    * Checkpoint placement (round-14 interleaved A/B on p32, identical
    * hashes: disk 6.0-6.7 s vs tmpfs 5.0-5.1 s steady-state): every
    * micro-batch commits an offset WAL entry plus one state-store delta
    * per store per partition under the checkpoint location — for these
    * few-hundred-row fixtures that's pure fsync-adjacent disk latency, so
    * the census window points `spark.sql.streaming.checkpointLocation` at
    * a per-run /dev/shm directory (RAM-backed tmpfs) and deletes it in
    * [[restore]]. Unique per narrow() call, so concurrent sessions can't
    * collide; queries with an EXPLICIT checkpointLocation option (the
    * event-store sink) are unaffected. Production posture unchanged: a
    * real deployment checkpoints to durable storage — this is bench/test
    * tuning of embedded fixtures whose state is disposable by design. */
  def narrow(s: SparkSession, noDataBatches: Boolean): Prev = {
    val prev = Prev(
      s.conf.get("spark.sql.shuffle.partitions"),
      s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled"),
      s.conf.getOption("spark.sql.streaming.checkpointLocation"),
      mkShmCkptDir())
    s.conf.set("spark.sql.shuffle.partitions", "1")
    if (!noDataBatches)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    prev.ckptDir.foreach(d =>
      s.conf.set("spark.sql.streaming.checkpointLocation", d))
    prev
  }

  private def mkShmCkptDir(): Option[String] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (!java.nio.file.Files.isWritable(shm)) None
    else try {
      val d = shm.resolve(
        "graft-census-" + java.util.UUID.randomUUID().toString.take(8))
      java.nio.file.Files.createDirectories(d)
      Some(d.toString)
    } catch { case _: Throwable => None }
  }

  def restore(s: SparkSession, prev: Prev): Unit = {
    s.conf.set("spark.sql.shuffle.partitions", prev.shuffle)
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev.noData)
    prev.ckptDir.foreach { d =>
      prev.prevCkpt match {
        case Some(v) => s.conf.set("spark.sql.streaming.checkpointLocation", v)
        case None => s.conf.unset("spark.sql.streaming.checkpointLocation")
      }
      // the census queries are stopped by the time the caller's finally
      // reaches here; reclaim the RAM-backed state (best effort)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      try rm(new java.io.File(d)) catch { case _: Throwable => () }
    }
  }
}
