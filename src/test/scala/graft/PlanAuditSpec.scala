package graft

/** The plan-regression gate (round-14 verdict #2): PlanSpec pins ~40
  * entries' physical plans node-by-node, but the other ~170 were protected
  * by nothing — a refactor could add a shuffle or a nested-loop join to an
  * unpinned entry and `sbt test` would stay green while the 100 TB posture
  * quietly regressed. This spec walks EVERY registered batch entry, counts
  * shuffle exchanges / cartesian products / broadcast nested-loop joins /
  * same-file re-scans ([[PlanBudget.counts]]) over its final plan plus the
  * sub-plans its [[Materialize]] calls recorded (fixture builds excluded,
  * see [[PlanBudget.auditFrame]]), and fails on any growth against the
  * committed per-entry budget (PLAN_BUDGET.json).
  *
  * On an INTENTIONAL plan change, regenerate the budget in the same commit:
  * `sbt "Test/runMain graft.PlanBudgetWrite"` — the budget diff then
  * documents the change for review. Entries that IMPROVE don't fail (the
  * bench adjudicates whether fewer exchanges actually won), but they're
  * listed so the budget gets tightened in the next regeneration. */
class PlanAuditSpec extends SparkSpec {

  test("no registered entry's plan grows exchanges/cartesian/nlj/re-scans " +
      "beyond the committed budget") {
    val budget = PlanBudget.read(PlanBudget.budgetPath)
    val actual = PlanBudget.audit(spark)

    val unbudgeted = (actual.keySet -- budget.keySet).toSeq.sorted
    val stale = (budget.keySet -- actual.keySet).toSeq.sorted
    val regressed = actual.toSeq.sortBy(_._1).collect {
      case (n, c) if budget.get(n).exists(c.regressesFrom) =>
        s"$n: budget ${budget(n)} -> actual $c"
    }
    val improved = actual.toSeq.sortBy(_._1).collect {
      case (n, c) if budget.get(n).exists(c.improvesOn) =>
        s"$n: budget ${budget(n)} -> actual $c"
    }
    if (improved.nonEmpty)
      info(s"${improved.size} entries improved on their budget (tighten " +
        s"via PlanBudgetWrite):\n  ${improved.mkString("\n  ")}")

    assert(unbudgeted.isEmpty, "entries missing from PLAN_BUDGET.json — " +
      s"run `sbt \"Test/runMain graft.PlanBudgetWrite\"`: $unbudgeted")
    assert(stale.isEmpty, "PLAN_BUDGET.json has entries no longer " +
      s"registered — regenerate: $stale")
    assert(regressed.isEmpty,
      s"${regressed.size} entries' plans regressed vs the committed " +
        s"budget (if intentional, regenerate PLAN_BUDGET.json in the same " +
        s"commit):\n${regressed.mkString("\n")}")
  }
}
