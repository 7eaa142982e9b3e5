package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions._

/** Vector math over `array<float|double>` columns. The dot product — the
  * only per-element hot loop — is the native codegen
  * [[VectorDotProduct]] expression; everything else composes it
  * (SURVEY.md §2.8 / X3). Higher-order functions are interpreted per
  * element in Spark, which made the HOF formulation the bench bottleneck.
  *
  * All arithmetic is promoted to double and folded left-to-right, which is
  * also what DuckDB's list functions do — keeping oracle comparisons tight.
  */
object VectorFunctions {

  /** Element-wise promote to double (float arrays come off parquet as
    * `array<float>`; compute in double). */
  def toDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Dot product: native codegen loop, left-to-right accumulation (float
    * elements widened exactly — bit-identical to the double fold). */
  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(VectorDotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1]. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Squared Euclidean distance: native codegen loop (same numeric contract
    * as [[dot]] — exact float widening, left-to-right fold). */
  def l2sq(a: Column, b: Column): Column =
    GraftColumnBridge.column(VectorL2Squared(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Euclidean (L2) distance — `Sqrt` over the codegen [[VectorL2Squared]]
    * node (bit-identical to the interpreted HOF fold it replaces, and the
    * stable tree the L2 arm of `CosineTopKRewrite` matches). */
  def l2Distance(a: Column, b: Column): Column = sqrt(l2sq(a, b))
}
