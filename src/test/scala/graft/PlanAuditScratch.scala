package graft

/** Throwaway board-wide plan smell sweep: build every registered entry on
  * sf0.001 and flag plans with many exchanges, repeated scans of one
  * parquet file (the multi-branch re-scan pathology the maintainSums audit
  * caught), or any SortAggregate / ObjectHashAggregate (usually a
  * dropDuplicates/first() whose buffer type HashAggregate cannot hold).
  * Counts cover the final plan plus the sub-plans the build materialized
  * ([[PlanBudget.auditFrame]]). Build-only — streaming census builders do execute, so this takes about
  * as long as RegistrationSpec.
  * `sbt "Test/runMain graft.PlanAuditScratch [minExchanges]"`. */
object PlanAuditScratch {
  def main(args: Array[String]): Unit = {
    val minEx = args.headOption.map(_.toInt).getOrElse(4)
    val dir = "/root/testdata/sf0.001"
    val spark = EngineSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val (df, sub) = Materialize.recording(fn(spark, dir))
        val plans = df.queryExecution.executedPlan.toString +: sub.map(_._2)
        // a line's node name starts at its first letter (after the
        // tree-drawing prefix)
        def count(prefix: String) = plans.map(_.linesIterator.count(
          _.dropWhile(!_.isLetter).startsWith(prefix))).sum
        val sortAgg = count("SortAggregate")
        val objHashAgg = count("ObjectHashAggregate")
        val c = plans.map(PlanBudget.counts)
        val nEx = c.map(_.exchanges).sum
        val dupScan = c.map(_.maxSameScan).max
        if (nEx >= minEx || dupScan >= 3 || sortAgg > 0 || objHashAgg > 0)
          Some(f"$name%-28s exchanges=$nEx%2d maxSameScan=$dupScan%d " +
            f"sortAgg=$sortAgg%2d objHashAgg=$objHashAgg%2d")
        else None
      } catch { case e: Throwable => Some(s"$name BUILD-FAIL ${e.getClass.getSimpleName}") }
    }
    println("=== plan smells ===")
    rows.foreach(println)
    println(s"=== ${rows.size} flagged of ${SparkEntry.queries.size} ===")
    spark.stop()
  }
}
