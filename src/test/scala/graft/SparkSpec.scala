package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (UTC, small shuffle fan-out). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session: never stop per-suite
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = EngineSession.builder("local[4]", 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with the session's `spark.sql.shuffle.partitions` at `n`
    * (the bucket count a new `CdcPipeline.materializeSink` store records),
    * restoring the previous value after. */
  def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = session.conf.get(key)
    session.conf.set(key, n.toLong)
    try body finally session.conf.set(key, prev)
  }
}
