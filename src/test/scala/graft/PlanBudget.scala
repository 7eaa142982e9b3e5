package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared plan-shape accounting for the plan-regression gate (round-14
  * verdict #2): per registered batch entry, count the plan nodes whose
  * multiplication is how a query quietly stops scaling — real shuffle
  * exchanges (ReusedExchange / BroadcastExchange excluded: healthy reuse
  * and broadcast, not shuffles), cartesian products, and broadcast
  * nested-loop joins — plus the worst same-file re-scan multiplicity (the
  * maintainSums pathology: pushed per-branch filters diverge the canonical
  * subtrees, exchange reuse dies, input scanned 3×).
  *
  * Counts come from the INITIAL physical plans (pre-AQE execution) on the
  * sf0.001 tables, which are deterministic given the committed testdata and
  * session conf: the entry's final plan PLUS the plan of every frame the
  * build materialized through [[Materialize]] (a checkpoint turns its input
  * into an RDD scan, so the final plan alone hides that work). Exchanges,
  * cartesians and NLJs are summed over the plans; `maxSameScan` is the
  * maximum over them. Fixture builds are excluded: FixtureCache runs its
  * generator with recording suspended and the entry plans against the
  * fixture's persisted parquet, so warm and cold sessions produce the same
  * counts. [[Bench.streamEntries]] are
  * skipped — their builders drain streaming censuses (already paid once in
  * RegistrationSpec) and their returned frame is a tiny census read whose
  * shape is pinned where it matters, in StreamingSpec.
  *
  * The committed budget lives in PLAN_BUDGET.json; regenerate after an
  * intentional plan change with
  * `sbt "Test/runMain graft.PlanBudgetWrite"` (writes the file from the
  * current plans; the diff then documents the change for review). */
object PlanBudget {
  final case class Counts(exchanges: Int, cartesian: Int, nlj: Int,
                          maxSameScan: Int) {
    def regressesFrom(budget: Counts): Boolean =
      exchanges > budget.exchanges || cartesian > budget.cartesian ||
        nlj > budget.nlj || maxSameScan > budget.maxSameScan
    def improvesOn(budget: Counts): Boolean =
      !regressesFrom(budget) && (exchanges < budget.exchanges ||
        cartesian < budget.cartesian || nlj < budget.nlj ||
        maxSameScan < budget.maxSameScan)
  }

  val budgetPath = "PLAN_BUDGET.json"

  def counts(plan: String): Counts = {
    // a node name starts at the line's first letter (after the
    // tree-drawing prefix); "Exchange" is the shuffle node, while
    // ReusedExchange/BroadcastExchange start differently and don't count
    val nodes = plan.linesIterator.map(_.dropWhile(!_.isLetter)).toSeq
    Counts(
      exchanges = nodes.count(_.startsWith("Exchange")),
      cartesian = nodes.count(_.startsWith("CartesianProduct")),
      nlj = nodes.count(_.startsWith("BroadcastNestedLoopJoin")),
      maxSameScan = plan.linesIterator.filter(_.contains("Scan parquet"))
        .map(_.trim.take(120)).toSeq
        .groupBy(identity).values.map(_.size).maxOption.getOrElse(0))
  }

  /** Counts of the frame `build` returns plus every sub-plan its
    * [[Materialize]] calls recorded. */
  def auditFrame(build: => DataFrame): Counts = {
    val (df, subPlans) = Materialize.recording(build)
    val all = (df.queryExecution.executedPlan.toString +: subPlans.map(_._2)).map(counts)
    Counts(all.map(_.exchanges).sum, all.map(_.cartesian).sum, all.map(_.nlj).sum,
      all.map(_.maxSameScan).max)
  }

  /** Build every auditable entry on sf0.001 and count its plan shape.
    * Clears the session's cached-relation registry first: Spark substitutes
    * InMemoryRelation into any later plan whose subtree matches a cached
    * frame (CdcApplySpec caches the exact frame cdc_materialize builds),
    * which changes the exchange count with suite ORDER — the audit must
    * always count the from-source plan the driver and a fresh session see. */
  def audit(spark: SparkSession,
            dir: String = "/root/testdata/sf0.001"): Map[String, Counts] = {
    spark.catalog.clearCache()
    SparkEntry.queries.toSeq
      .filterNot { case (name, _) => Bench.streamEntries(name) }
      .map { case (name, fn) =>
        name -> auditFrame(fn(spark, dir))
      }.toMap
  }

  def write(path: String, m: Map[String, Counts]): Unit = {
    val rows = m.toSeq.sortBy(_._1).map { case (n, c) =>
      s"""  "$n": {"exchanges": ${c.exchanges}, "cartesian": ${c.cartesian}, "nlj": ${c.nlj}, "max_same_scan": ${c.maxSameScan}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      rows.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    ()
  }

  def read(path: String): Map[String, Counts] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    ("\"([A-Za-z0-9_]+)\": \\{\"exchanges\": (\\d+), \"cartesian\": (\\d+), " +
      "\"nlj\": (\\d+), \"max_same_scan\": (\\d+)\\}").r
      .findAllMatchIn(txt).map(m => m.group(1) ->
        Counts(m.group(2).toInt, m.group(3).toInt, m.group(4).toInt,
          m.group(5).toInt)).toMap
  }
}

/** Regenerate PLAN_BUDGET.json from the current plans — run after an
  * INTENTIONAL plan change so the commit's budget diff documents it. */
object PlanBudgetWrite {
  def main(args: Array[String]): Unit = {
    // SAME session shape as the PlanAuditSpec gate (SparkSpec: local[4],
    // 4 shuffle partitions) — if a plan shape ever becomes conf-sensitive,
    // the regeneration tool and the gate must never disagree
    val spark = EngineSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val actual = PlanBudget.audit(spark)
    val prior =
      try PlanBudget.read(PlanBudget.budgetPath)
      catch { case _: Throwable => Map.empty[String, PlanBudget.Counts] }
    actual.toSeq.sortBy(_._1).foreach { case (n, c) =>
      prior.get(n) match {
        case Some(p) if p != c => println(s"CHANGED $n: $p -> $c")
        case None => println(s"NEW     $n: $c")
        case _ => ()
      }
    }
    (prior.keySet -- actual.keySet).toSeq.sorted
      .foreach(n => println(s"REMOVED $n"))
    PlanBudget.write(PlanBudget.budgetPath, actual)
    println(s"wrote ${actual.size} entries to ${PlanBudget.budgetPath}")
    spark.stop()
  }
}
