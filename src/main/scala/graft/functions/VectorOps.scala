package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

/** Dense-vector math on `array<float|double>` columns. Each operation is
  * one native Catalyst expression with whole-stage codegen ([[Dot]],
  * [[CosineSimilarity]], [[DistSq]]): one generated loop per row, where
  * the higher-order-function forms these replaced (zip_with / aggregate /
  * transform) evaluated an interpreted lambda with a boxed double per
  * element.
  *
  * All arithmetic is done in double (inputs widened exactly from float) with
  * strict left-to-right folds, which makes results engine-exact against the
  * DuckDB oracle's sequential list folds. Edge rules are in
  * [[VectorKernel]]: a null element gives NULL, a length mismatch raises
  * [[VectorLengthMismatch]].
  */
object VectorOps {

  /** Cast an array<float> to array<double> (exact widening). */
  def toDouble(v: Column): Column = v.cast("array<double>")

  def dot(a: Column, b: Column): Column = column(Dot(expression(a), expression(b)))

  /** `dot / (norm · norm)`, NULL when a side has zero norm. */
  def cosine(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  /** Squared euclidean distance. */
  def distSq(a: Column, b: Column): Column = column(DistSq(expression(a), expression(b)))
}
