package graft.queries

import graft.tables.{Bucketed, BucketedStore, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Run-level derived-data cache shared by the query modules: persist a
  * deterministic, generator-derived DataFrame ONCE as parquet under
  * java.io.tmpdir and serve every later call — including later forked JVMs
  * of the same bench run — from the parquet. Born as CdcQueries' wire-
  * fixture cache (the parse was 29% of the round-7 bench because every
  * forked child re-generated it); generalized in round 9 because the LSH
  * band index has the identical economics. This is also the production
  * shape: a real pipeline lands derived columnar artifacts once and reads
  * them thereafter, it never re-derives per downstream query.
  *
  * `version` MUST be bumped whenever the generator's output changes — the
  * cache outlives the JVM by design, so a stale entry would silently serve
  * the previous artifact. The key ALSO folds in a fingerprint of the
  * source data directory ([[Tables.fingerprint]]): regenerated
  * testdata at an unchanged path (new seed, new scale) invalidates the
  * cache without a code change — the version-bump discipline only covers
  * generator changes (round-8 ADVICE). Writers land in a pid-suffixed temp
  * dir and rename into place, so a concurrent writer (parallel test
  * suites, a verify overlapping a bench) can never expose a half-written
  * directory; a rename loser reads the winner's copy and deletes its own
  * orphaned temp dir. SPARK_GRAFT_NO_FIXTURE_CACHE=1 bypasses entirely. */
private[graft] object FixtureCache {

  /** Per-JVM record of the cache lookups this process made: fixture name →
    * served-from-existing-parquet. A name that missed on ANY lookup stays
    * `false` (the miss is the diagnostic event). The bench child publishes
    * this into its JSON line so `BENCH_DETAIL.json` carries per-query
    * `cache_hit` evidence — round-9 verdict #1: the driver's 14.6 s
    * `cdc_wire_parse` vs the builder's 1.9 s could not be adjudicated
    * (cache miss vs machine swing) from the artifact alone. */
  private val lookups = scala.collection.concurrent.TrieMap.empty[String, Boolean]
  def lookupReport: Map[String, Boolean] = lookups.toMap
  def clearReport(): Unit = lookups.clear()
  private def record(name: String, hit: Boolean): Unit = {
    lookups.updateWith(name) {
      case Some(prev) => Some(prev && hit)
      case None       => Some(hit)
    }
    ()
  }

  def cached(s: SparkSession, dir: String, name: String,
             version: String)(gen: => DataFrame): DataFrame =
    cachedImpl(dir, name, version)(gen)(gen.write.mode("overwrite").parquet(_))(
      Tables.parquet(s, _))

  /** [[cached]] for a fixture that is itself a bucketed store (the LSH
    * band index, the shingle artifact): `gen`'s rows land as the store
    * `store(entry)` created with `n` buckets, so the fixture records its
    * count like any store, and every read returns the rows with the count
    * from the entry's sidecar. */
  def cachedStore(s: SparkSession, dir: String, name: String, version: String,
                  store: String => BucketedStore, n: Int)
                 (gen: => DataFrame): Bucketed =
    cachedImpl(dir, name, version)(store(name).bucketed(gen, n))(
      store(_).create(gen, n))(store(_).read(s))

  /** The cache entry directory of fixture `name` at `version` over the
    * data directory `dir`. */
  private[graft] def entryDir(dir: String, name: String, version: String): java.io.File = {
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = new java.io.File(System.getProperty("java.io.tmpdir"), "graft-fixture-cache")
    new java.io.File(root, s"$name-$version-$safe-${Tables.fingerprint(dir)}")
  }

  /** `write` lands the fixture in a fresh directory and `read` serves it
    * from one; `bypass` is the uncached value. The fixture is built with
    * [[graft.Materialize]] recording suspended: a fixture build is a
    * run-level artifact, not the work of the entry that asks for it, so a
    * cold and a warm cache record the same sub-plans. */
  private def cachedImpl[T](dir: String, name: String, version: String)
                           (bypass: => T)(write: String => Unit)(read: String => T): T =
    if (sys.env.get("SPARK_GRAFT_NO_FIXTURE_CACHE").contains("1"))
      graft.Materialize.suspended(bypass)
    else {
      val dst = entryDir(dir, name, version)
      // an entry only ever appears by the rename of a finished write
      def ready = dst.isDirectory
      val src: java.io.File = this.synchronized {
        if (ready) { record(name, hit = true); dst }
        else {
          record(name, hit = false)
          val tmp = new java.io.File(dst.getParentFile,
            s"${dst.getName}.tmp-${ProcessHandle.current().pid()}")
          graft.Materialize.suspended(write(tmp.getPath))
          if (!ready && tmp.renameTo(dst)) dst
          else if (ready) { deleteRecursively(tmp); dst } // lost the race; equal copy
          else tmp            // rename failed with no winner visible: serve ours
        }
      }
      read(src.getPath)
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete()
    ()
  }
}
