package graft

import org.apache.spark.sql.DataFrame

import scala.collection.mutable.ArrayBuffer

/** The engine's one way to materialize an intermediate frame: a local
  * checkpoint, whose blocks live on the executors and whose plan is cut to
  * an RDD scan.
  *
  * The rule: materialize a frame when it has more than one consumer (two
  * branches of one plan, a plan plus a driver-side collect, or every round
  * of a loop), or to cut an iterative lineage so each round's plan stays
  * O(1) deep. Without it every consumer re-runs the producer: the pruning
  * and filters pushed into each consumer diverge their canonical subtrees,
  * so exchange reuse cannot share the work. Do not materialize a frame that
  * is cheaper to recompute than to serialize through the block manager.
  *
  * [[once]] defers only the frame's final stage: its blocks fill inside the
  * first consumer's job. Under adaptive execution, which `EngineSession`
  * turns on, the call still runs every shuffle stage of the frame (the
  * checkpoint's RDD is taken from the adaptive plan, which executes its
  * query stages to build it), so a frame with an exchange costs its
  * shuffle jobs at the call; only a frame with no exchange adds no job
  * barrier. [[eager]] also runs the final stage at the call. `label` names
  * what the materialized frame feeds.
  *
  * Inside a [[recording]] scope each call records `(label, the frame's
  * initial physical plan)` before it checkpoints: the work the checkpoint
  * hides from the final plan. The plan gate (`PlanBudget.audit`) counts
  * those sub-plans. Outside a scope the helper only checkpoints. Streaming
  * frames cannot be checkpointed; callers keep that guard at their site. */
object Materialize {

  def once(df: DataFrame, label: String): DataFrame = {
    record(df, label)
    df.localCheckpoint(false)
  }

  def eager(df: DataFrame, label: String): DataFrame = {
    record(df, label)
    df.localCheckpoint(true)
  }

  /** This thread's open recording buffer; None outside a scope. */
  private val scope = new ThreadLocal[Option[ArrayBuffer[(String, String)]]] {
    override def initialValue(): Option[ArrayBuffer[(String, String)]] = None
  }

  private def record(df: DataFrame, label: String): Unit =
    scope.get.foreach(_ += (label -> df.queryExecution.executedPlan.toString))

  /** `body`'s result and the `(label, initial physical plan)` of every
    * materialization it made, in call order. */
  def recording[T](body: => T): (T, Seq[(String, String)]) = {
    val buf = ArrayBuffer.empty[(String, String)]
    val prev = scope.get
    scope.set(Some(buf))
    try { val r = body; (r, buf.toSeq) }
    finally scope.set(prev)
  }

  /** Run `body` with recording off, even inside a [[recording]] scope. */
  def suspended[T](body: => T): T = {
    val prev = scope.get
    scope.set(None)
    try body finally scope.set(prev)
  }
}
