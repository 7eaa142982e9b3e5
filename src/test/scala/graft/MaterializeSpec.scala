package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import scala.collection.concurrent.TrieMap

/** [[Materialize]]'s recorder and the plan gate that reads it: the work a
  * checkpoint hides from the final plan must reach `PlanBudget.auditFrame`,
  * fixture builds must not, and outside a recording scope the helper is a
  * plain local checkpoint. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def frame = spark.range(0, 1000, 1, 4).select($"id", ($"id" * 2).as("v"))

  test("a cartesian behind a materialization counts in the audit, not in the final plan") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val a = spark.range(0, 20, 1, 2).toDF("a")
      val b = spark.range(0, 30, 1, 2).toDF("b")
      var returned: org.apache.spark.sql.DataFrame = null
      val audited = PlanBudget.auditFrame {
        returned = Materialize.once(a.crossJoin(b), "cross")
        returned
      }
      assert(audited.cartesian === 1)
      assert(PlanBudget.counts(returned.queryExecution.executedPlan.toString).cartesian === 0)
      assert(returned.count() === 600L)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("outside a recording scope nothing is recorded and rows equal a raw checkpoint") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.as[(Long, Long)].collect().toSet
    val lazyRows = rows(Materialize.once(frame, "unscoped"))
    val eagerRows = rows(Materialize.eager(frame, "unscoped"))
    // the unscoped calls left nothing behind for the next scope
    val (_, recorded) = Materialize.recording(Materialize.once(frame, "scoped"))
    assert(recorded.map(_._1) === Seq("scoped"))
    assert(recorded.head._2.contains("Range"), recorded.head._2)
    val (_, suspended) = Materialize.recording {
      Materialize.suspended(Materialize.once(frame, "suspended"))
    }
    assert(suspended.isEmpty)
    val raw = rows(frame.localCheckpoint(false))
    assert(raw.size === 1000)
    assert(lazyRows === raw && eagerRows === raw)
  }

  test("eager runs a Spark job at the call, once does not") {
    val tag = "materialize.spec.tag"
    val jobs = TrieMap.empty[Int, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag)))
          .foreach(t => jobs.put(e.jobId, t))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    /** Jobs seen under `t`, once a fence job run after the call is seen
      * (the listener bus delivers events in order). */
    def jobsUnder(t: String)(body: => Unit): Int = {
      sc.setLocalProperty(tag, t)
      try body finally sc.setLocalProperty(tag, null)
      val fence = s"$t-fence"
      sc.setLocalProperty(tag, fence)
      try spark.range(1).collect() finally sc.setLocalProperty(tag, null)
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.values.exists(_ == fence) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.values.exists(_ == fence), "fence job never reached the listener")
      jobs.values.count(_ == t)
    }
    try {
      assert(jobsUnder("once")(Materialize.once(frame, "lazy")) === 0)
      assert(jobsUnder("eager")(Materialize.eager(frame, "eager")) >= 1)
    } finally sc.removeSparkListener(listener)
  }

  test("a FixtureCache generator's materializations are not recorded") {
    val dir = java.nio.file.Files.createTempDirectory("materialize-spec").toString
    val name = s"materialize-spec-${System.nanoTime()}"
    var ran = false
    val (df, recorded) = Materialize.recording {
      graft.queries.FixtureCache.cached(spark, dir, name, "v1") {
        ran = true
        Materialize.once(frame, "fixture build")
      }
    }
    try {
      assert(ran, "the generator must run (a cache miss) for this test to mean anything")
      assert(recorded.isEmpty)
      assert(df.count() === 1000L)
    } finally {
      val root = new java.io.File(System.getProperty("java.io.tmpdir"), "graft-fixture-cache")
      Option(root.listFiles()).toSeq.flatten.filter(_.getName.startsWith(name))
        .foreach(deleteRecursively)
      deleteRecursively(new java.io.File(dir))
    }
  }

  test("x3_eval_int8's audit sees the exchanges its materializations hide") {
    val build = SparkEntry.queries("x3_eval_int8")
    val dir = "/root/testdata/sf0.001"
    val finalOnly = PlanBudget.counts(build(spark, dir).queryExecution.executedPlan.toString)
    val audited = PlanBudget.auditFrame(build(spark, dir))
    assert(audited.exchanges > finalOnly.exchanges, s"audited $audited, final plan $finalOnly")
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
    ()
  }
}
