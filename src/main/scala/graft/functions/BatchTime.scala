package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CurrentTimestamp, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.DataType

/** `child`, evaluated by the interpreter even inside whole-stage codegen,
  * and never constant-folded into its parent.
  *
  * For a child Spark resolves to a per-query literal: `current_timestamp()`
  * becomes the batch timestamp, and codegen writes a literal into the
  * generated Java as a constant (`project_value_26 = 1792605595964000L`).
  * The source then differs on every micro-batch and every batch query, so
  * the codegen cache never hits and the stage compiles again each time
  * (12–42 ms per compile; 3 of the 4 compiles per `cdc_trickle` micro-batch). Behind this
  * wrapper the generated code calls the expression object from its
  * `references` array, so the source is the same whatever the value. The
  * value itself is unchanged: it is resolved and evaluated exactly as the
  * bare child would be.
  */
case class Interpreted(child: Expression) extends UnaryExpression with CodegenFallback {
  override def foldable: Boolean = false
  override def dataType: DataType = child.dataType
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def withNewChildInternal(newChild: Expression): Interpreted =
    copy(child = newChild)
}

object BatchTime {

  /** `current_timestamp()` — the query's (on a stream: the micro-batch's)
    * timestamp, constant within a batch and replayed deterministically from
    * the offset log — kept out of the generated source (see
    * [[Interpreted]]). For a processing-time fallback in a CDC parse. */
  def now: Column = GraftColumnBridge.column(Interpreted(CurrentTimestamp()))
}
