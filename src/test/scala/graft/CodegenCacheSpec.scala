package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import graft.cdc.CanalJson
import graft.functions.BatchTime
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** [[EngineSession]]'s codegen settings: a plan shape run again compiles no
  * class. The counts come from a child JVM with its own EngineSession
  * ([[CodegenCacheChild]]), because Spark fixes the codegen cache's size
  * when its `CodeGenerator` first loads: in the shared test JVM the first
  * suite to compile anything would have fixed it for every later one. */
class CodegenCacheSpec extends SparkSpec {

  private lazy val counts: Map[String, Long] = {
    val dir = Files.createTempDirectory("graft_codegen_cache")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.CodegenCacheChild", dir.toString)
    val out = dir.resolve("child.out")
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(out.toFile).start()
    if (!proc.waitFor(300, TimeUnit.SECONDS)) proc.destroyForcibly().waitFor()
    val text = new String(Files.readAllBytes(out), UTF_8)
    assert(proc.exitValue() === 0, text.takeRight(4000))
    "(?m)^codegen\\.([a-z_0-9]+)=([0-9]+)$".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  test("a plan run again after more than 100 other classes compiled compiles nothing") {
    assert(counts("others") > 200, "the filler must overflow Spark's default 100-entry cache")
    assert(counts("entry_first") > 0)
    assert(counts("entry_again") === 0)
  }

  test("an AQE query whose stages finish in the other order compiles nothing on its second run") {
    assert(counts("aqe_first") > 0)
    assert(counts("aqe_again") === 0)
  }

  test("canal-json micro-batches 2 and 3 compile at most one class each") {
    assert(counts("batch_1") > 0)
    assert(counts("batch_2") <= 1)
    assert(counts("batch_3") <= 1)
  }

  test("BatchTime.now is the query's current_timestamp and stays out of the generated code") {
    val rows = spark.range(3).select(BatchTime.now.as("a"), current_timestamp().as("b")).collect()
    assert(rows.map(_.getTimestamp(0)).distinct.length === 1)
    assert(rows.forall(r => r.getTimestamp(0) == r.getTimestamp(1)))
    // a timestamp literal within an hour of now, in the stage's Java
    val now = System.currentTimeMillis() * 1000L
    def literalInCode(c: org.apache.spark.sql.Column): Boolean =
      org.apache.spark.sql.execution.debug.codegenStringSeq(
        spark.range(3).select(c.as("t")).queryExecution.executedPlan)
        .exists(code => "\\b(\\d{16})L".r.findAllMatchIn(code._2)
          .exists(m => math.abs(m.group(1).toLong - now) < 3600L * 1000000L))
    assert(literalInCode(current_timestamp()))
    assert(!literalInCode(BatchTime.now))
  }
}

/** Child JVM of [[CodegenCacheSpec]]: one fresh EngineSession, three
  * workloads, one `codegen.<name>=<compilations>` line per measured step;
  * exits non-zero if a step throws. */
object CodegenCacheChild {
  /** Which union branch the test UDF delays (read on the executor threads,
    * which share this JVM). */
  @volatile var slowBranch: Int = 0

  def main(args: Array[String]): Unit =
    sys.exit(try { run(); 0 } catch { case e: Throwable => e.printStackTrace(); 1 })

  private def compiled[T](name: String)(body: => T): T = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = body
    println(s"codegen.$name=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0}")
    r
  }

  private def run(): Unit = {
    val spark = EngineSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // (a) one entry, 250 distinct classes, the entry again
    def entry() = spark.range(0, 2000, 1, 4)
      .groupBy((col("id") % 13).as("k")).agg(sum("id").as("s")).collect()
    compiled("entry_first")(entry())
    compiled("others")((1 to 250).foreach(i =>
      spark.range(0, 2, 1, 1).select((col("id") * lit(i.toLong)).as("x")).collect()))
    compiled("entry_again")(entry())

    // (b) two union branches of two shuffles each: AQE creates each
    // branch's second stage when its first finishes, so the order decides
    // its codegen stage id. A delay on one task of one branch makes run 1
    // finish branch 2 first and run 2 finish branch 1 first; the second
    // stages differ (`n % 3` against `n % 4`), so swapped ids are new
    // source.
    val slow = udf((branch: Int, id: Long) => {
      if (id == 0 && branch == slowBranch) Thread.sleep(800)
      id
    })
    def branch(b: Int, m: Int) = spark.range(0, 4000, 1, 4)
      .select(slow(lit(b), col("id")).as("id"))
      .groupBy((col("id") % m).as("g")).agg(count(lit(1)).as("n"))
      .groupBy((col("n") % (b + 2)).as("k")).agg(sum("n").as("s"))
    def aqe() = branch(1, 97).unionByName(branch(2, 89)).collect()
    slowBranch = 1
    compiled("aqe_first")(aqe())
    slowBranch = 2
    compiled("aqe_again")(aqe())

    // (c) canal-json micro-batches: the processing-time fallback is the
    // batch timestamp, a new value every batch
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[String]
    val q = CanalJson.events(mem.toDF())
      .writeStream.format("memory").queryName("codegen_cache_events").start()
    val lines = CanalJson.fixtureLines.map(_._1)
    (1 to 3).foreach { b =>
      mem.addData(lines: _*)
      compiled(s"batch_$b")(q.processAllAvailable())
    }
    q.stop()
    require(spark.table("codegen_cache_events").count() > 0, "the stream applied no event")
    spark.stop()
  }
}
