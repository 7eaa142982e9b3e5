package graft

import org.apache.spark.sql.SparkSession

/** Throwaway board-wide plan smell sweep: build every registered entry on
  * sf0.001 and flag plans with many exchanges, repeated scans of one
  * parquet file (the multi-branch re-scan pathology the maintainSums audit
  * caught), or any SortAggregate / ObjectHashAggregate (usually a
  * dropDuplicates/first() whose buffer type HashAggregate cannot hold).
  * Counts cover the final plan plus the sub-plans the build materialized
  * ([[PlanBudget.auditFrame]]). Build-only — streaming census builders do execute, so this takes about
  * as long as RegistrationSpec.
  * `sbt "Test/runMain graft.PlanAuditScratch [minExchanges]"`.
  * Given an entry name instead, prints that entry's exchanges and NLJs per
  * [[Materialize]] label, in call order, then the final plan's:
  * `sbt "Test/runMain graft.PlanAuditScratch x10_state_reps"`. */
object PlanAuditScratch {
  def main(args: Array[String]): Unit = {
    val entry = args.headOption.filterNot(_.forall(_.isDigit))
    val minEx = args.headOption.filter(_ => entry.isEmpty).map(_.toInt).getOrElse(4)
    val dir = "/root/testdata/sf0.001"
    val spark = EngineSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    entry match {
      case Some(name) => perLabel(spark, dir, name)
      case None => sweep(spark, dir, minEx)
    }
    spark.stop()
  }

  /** One entry's exchanges and NLJs per [[Materialize]] label, in call
    * order, then the final plan's. */
  private def perLabel(spark: SparkSession, dir: String, name: String): Unit = {
    val (df, sub) = Materialize.recording(SparkEntry.queries(name)(spark, dir))
    val plans = sub :+ ("(final plan)" -> df.queryExecution.executedPlan.toString)
    val counts = plans.map { case (label, plan) => label -> PlanBudget.counts(plan) }
    println(s"=== $name: exchanges and NLJs per Materialize label (each NLJ node below its label) ===")
    plans.zip(counts).foreach { case ((label, plan), (_, c)) =>
      println(f"${c.exchanges}%3d exchanges ${c.nlj}%2d nlj  $label")
      plan.linesIterator.map(_.dropWhile(!_.isLetter))
        .filter(_.startsWith("BroadcastNestedLoopJoin")).foreach(l => println(s"      ${l.take(160)}"))
    }
    println(s"=== total: ${counts.map(_._2.exchanges).sum} exchanges, ${counts.map(_._2.nlj).sum} nlj ===")
  }

  private def sweep(spark: SparkSession, dir: String, minEx: Int): Unit = {
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
  }
}
