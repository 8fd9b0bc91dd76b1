package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSession

/** Native Catalyst expression for cosine similarity over
  * `array<float|double>` columns, with whole-stage codegen.
  *
  * The ANN operators put the dot product in the innermost loop over
  * |corpus| × |queries| pairs; this expression computes the dot product
  * and both norms in one generated loop ([[VectorKernel]]).
  *
  * Arithmetic is a strict left-to-right double fold, `dot / (√na · √nb)` —
  * bit-identical to the higher-order-function form it replaced and to the
  * DuckDB oracle's sequential list folds (VectorOpsSpec checks it against
  * `VectorOpsReference`).
  *
  * Degenerate inputs: a zero-norm side yields NULL (never NaN) — callers
  * ranking by cosine filter nulls explicitly (Similarity.topKPerQuery).
  * A null element yields NULL and a length mismatch raises
  * [[VectorLengthMismatch]]; NaN ELEMENTS propagate NaN out.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with VectorKernel {

  override protected def kernelName: String = "cosine_similarity"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val whole = pass(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]) { xs =>
      dot += xs(0) * xs(1); na += xs(0) * xs(0); nb += xs(1) * xs(1)
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (!whole || denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val denom = ctx.freshName("denom")
      val loop = passCode(ctx, Seq(a, b), ev.isNull.toString) { case Seq(x, y) =>
        s"$dot += $x * $y; $na += $x * $x; $nb += $y * $y;"
      }
      s"""
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |$loop
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($denom == 0.0) { ${ev.isNull} = true; }
         |else if (!${ev.isNull}) { ${ev.value} = $dot / $denom; }
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Register as a SQL function (`SELECT graft_cosine(a, b)`). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_cosine", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
}
