package graft

/** Throwaway board-wide plan smell sweep: build every registered entry on
  * sf0.001 and flag plans with many exchanges, repeated scans of one
  * parquet file (the multi-branch re-scan pathology the maintainSums audit
  * caught), or any SortAggregate / ObjectHashAggregate (usually a
  * dropDuplicates/first() whose buffer type HashAggregate cannot hold).
  * Build-only — streaming census builders do execute, so this takes about
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
        val p = fn(spark, dir).queryExecution.executedPlan.toString
        // count nodes by name: a line's node name starts at its first
        // letter (after the tree-drawing prefix), so only real shuffle
        // exchanges count — ReusedExchange / BroadcastExchange are healthy
        // reuse and broadcast, not shuffles
        def count(prefix: String) = p.linesIterator.count(
          _.dropWhile(!_.isLetter).startsWith(prefix))
        val nEx = count("Exchange")
        val sortAgg = count("SortAggregate")
        val objHashAgg = count("ObjectHashAggregate")
        // repeated scans of the same file set = same table scanned k times
        val scans = p.linesIterator.filter(_.contains("Scan parquet"))
          .map(_.trim.take(120)).toSeq
        val dupScan = scans.groupBy(identity).values.map(_.size).maxOption.getOrElse(0)
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
