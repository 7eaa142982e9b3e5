package graft.tables

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.TimeUnit
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import graft.{EngineSession, SparkSpec}
import graft.queries.FixtureCache
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** [[Tables.parquet]]: the first read of a path infers its schema, a later
  * read of the unchanged files runs no Spark job and returns what a plain
  * `spark.read.parquet` returns; changed files or inference settings infer
  * again. */
class TablesSpec extends SparkSpec {
  import TablesSpec._

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  /** Jobs started by `body`, once a fence job run after it has reached the
    * listener (the listener bus delivers events in order). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val tag = "tables.spec.tag"
    val id = s"call-${System.nanoTime()}"
    val jobs = TrieMap.empty[Int, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag)))
          .foreach(t => jobs.put(e.jobId, t))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, id)
      val r = try body finally sc.setLocalProperty(tag, null)
      sc.setLocalProperty(tag, s"$id-fence")
      try spark.range(1).collect() finally sc.setLocalProperty(tag, null)
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.values.exists(_ == s"$id-fence") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.values.exists(_ == s"$id-fence"), "fence job never reached the listener")
      (r, jobs.values.count(_ == id))
    } finally sc.removeSparkListener(listener)
  }

  test("a second read of an unchanged path runs no Spark job and equals a plain read") {
    val path = tmp("graft_tables_memo").resolve("t.parquet").toString
    spark.range(50).select(col("id"), (col("id") % 7).as("m"), col("id").cast("string").as("s"))
      .write.parquet(path)
    val (_, inferJobs) = jobsOf(Tables.parquet(spark, path))
    assert(inferJobs >= 1, "the first read infers, with a footer job")
    val (df, jobs) = jobsOf(Tables.parquet(spark, path))
    assert(jobs === 0)
    val plain = spark.read.parquet(path)
    assert(df.schema === plain.schema)
    assert(rows(df) === rows(plain))
    // one plan for both: the scan, its pushed filters and read schema
    def plan(d: DataFrame) = d.filter(col("m") === 3).select(col("s"))
      .queryExecution.executedPlan.toString
      .replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
    assert(plan(df) === plan(plain))
  }

  test("a rewrite with another schema or an added file infers again") {
    val path = tmp("graft_tables_rewrite").resolve("t.parquet").toString
    spark.range(5).select(col("id").as("a")).write.parquet(path)
    assert(Tables.parquet(spark, path).schema.fieldNames.toSeq === Seq("a"))
    spark.range(5).select(col("id").as("b"), lit("x").as("c")).write.mode("overwrite").parquet(path)
    val rewritten = Tables.parquet(spark, path)
    assert(rewritten.schema === spark.read.parquet(path).schema)
    assert(rewritten.schema.fieldNames.toSeq === Seq("b", "c"))
    assert(jobsOf(Tables.parquet(spark, path))._2 === 0)
    spark.range(5, 8).select(col("id").as("b"), lit("y").as("c")).write.mode("append").parquet(path)
    val (added, jobs) = jobsOf(Tables.parquet(spark, path))
    assert(jobs >= 1, "an added file must re-infer")
    assert(added.count() === 8L)
  }

  test("events under nanosAsLong true and false never share a memo entry") {
    val dir = tmp("graft_tables_nanos")
    writeNanosEvents(dir.resolve("events.parquet"))
    val path = dir.resolve("events.parquet").toString
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try {
      val events = Tables.events(spark, dir.toString)
      assert(Tables.memoized(path).map(_("ts").dataType) === Some(LongType))
      assert(rows(events.select(col("ts").cast("string"))) ===
        Seq("2024-01-01 00:00:00.000001", "2024-01-01 00:00:01.000002"))
      spark.conf.set(key, "false")
      // without the flag Spark has no type for TIMESTAMP(NANOS): the read
      // must infer (and fail as a plain read does), not serve the flag's
      // long-typed schema
      val (memo, jobs) = jobsOf(scala.util.Try(Tables.parquet(spark, path).schema))
      assert(jobs >= 1, "an entry inferred under the flag served a read without it")
      val plain = scala.util.Try(spark.read.parquet(path).schema)
      assert(memo.map(_.toString) === plain.map(_.toString) || memo.isFailure && plain.isFailure)
      assert(memo.toOption.forall(_("ts").dataType != LongType))
      spark.conf.set(key, "true")
      assert(Tables.parquet(spark, path).schema("ts").dataType === LongType)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("Tables.events leaves the session's nanosAsLong setting as it finds it") {
    // the flag is a session setting EngineSession makes; a read that set it
    // would make every later parquet read's memo stamp depend on whether an
    // events query had run
    val dir = tmp("graft_tables_micros")
    spark.range(2).select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000001L) + col("id")).as("ts"))
      .write.parquet(dir.resolve("events.parquet").toString)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      val events = Tables.events(spark, dir.toString)
      assert(spark.conf.get(key) === "false")
      assert(rows(events.select(col("ts").cast("string"))) ===
        Seq("2024-01-01 00:00:00.000001", "2024-01-01 00:00:00.000002"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("a BucketedStore read has a raw read's schema and partition-column type") {
    val dir = tmp("graft_tables_store").resolve("store").toString
    val store = BucketedStore(dir, "bucket", n => pmod(xxhash64(col("k")), lit(n)).cast("int"))
    store.create(spark.range(40).select(col("id").as("k"), (col("id") * 3).as("v")), 4)
    val first = store.read(spark)
    val (second, jobs) = jobsOf(store.read(spark))
    assert(jobs === 0)
    val raw = spark.read.parquet(dir)
    assert(first.rows.schema === raw.schema && second.rows.schema === raw.schema)
    assert(second.rows.schema("bucket").dataType === IntegerType)
    assert(second.n === 4)
    assert(rows(second.rows) === rows(raw))
    val keys = spark.range(3).select(col("id").as("k"))
    val buckets = keys.select(store.key(4)).distinct().collect().map(_.get(0)).toSeq
    assert(rows(second.probe(keys)) === rows(raw.filter(col("bucket").isin(buckets: _*))))
  }

  test("SPARK_GRAFT_NO_FIXTURE_CACHE=1 still returns the generated frame and memoizes nothing") {
    val run = tmp("graft_tables_bypass")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.tables.FixtureBypassChild", run.toString)
    val pb = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(run.resolve("child.out").toFile)
    pb.environment().put("SPARK_GRAFT_NO_FIXTURE_CACHE", "1")
    val proc = pb.start()
    if (!proc.waitFor(300, TimeUnit.SECONDS)) proc.destroyForcibly().waitFor()
    val out = new String(Files.readAllBytes(run.resolve("child.out")), UTF_8)
    assert(proc.exitValue() === 0, out.takeRight(4000))
    // the same call with the cache on serves, and memoizes, the entry
    val name = s"tables-spec-${System.nanoTime()}"
    val entry = FixtureCache.entryDir(run.toString, name, "v1")
    try {
      assert(rows(FixtureCache.cached(spark, run.toString, name, "v1")(fixture(spark))) === Expected)
      assert(Tables.memoized(entry.getPath).nonEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(entry)
  }
}

object TablesSpec {
  /** The rows a fixture generator returns, and their collected form. */
  def fixture(s: SparkSession): DataFrame = s.range(3).select(col("id"), (col("id") * 2).as("twice"))
  val Expected: Seq[String] = Seq("0|0", "1|2", "2|4")

  /** An events-shaped parquet file whose `ts` is INT64 TIMESTAMP(NANOS),
    * the physical type one testdata generation shipped (Spark cannot write
    * it). */
  def writeNanosEvents(file: JPath): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1L -> 1704067200000001000L, 2L -> 1704067201000002999L).foreach { case (id, ns) =>
      writer.write(groups.newGroup().append("event_id", id).append("ts", ns))
    } finally writer.close()
  }
}

/** Child JVM of [[TablesSpec]]'s bypass check, run with
  * SPARK_GRAFT_NO_FIXTURE_CACHE=1: the fixture must come back as the
  * generated rows, with no cache entry written and no schema memoized for
  * it; exits non-zero otherwise. */
object FixtureBypassChild {
  def main(args: Array[String]): Unit =
    sys.exit(try check(args(0)) catch { case e: Throwable => e.printStackTrace(); 1 })

  private def check(dir: String): Int = {
    require(sys.env.get("SPARK_GRAFT_NO_FIXTURE_CACHE").contains("1"), "run with the bypass set")
    val spark = EngineSession.builder("local[1]", 1).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val name = "tables-bypass"
    val df = FixtureCache.cached(spark, dir, name, "v1")(TablesSpec.fixture(spark))
    val got = df.collect().toSeq.map(_.toSeq.mkString("|")).sorted
    val entry = FixtureCache.entryDir(dir, name, "v1")
    require(got == TablesSpec.Expected, s"bypass returned $got")
    require(!entry.exists(), s"bypass wrote $entry")
    require(Tables.memoized(entry.getPath).isEmpty, "bypass memoized a schema it never read")
    spark.stop()
    0
  }
}
