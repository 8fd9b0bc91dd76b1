package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd squared-euclidean distance over `array<float|double>`
  * — companion to [[CosineSimilarity]]; used in k-means assignment and IVF
  * query routing where the distance sits inside an argmin over k literal
  * centroids (k fused loops beat k interpreted HOF folds). Strict
  * left-to-right double fold; edge rules as in [[VectorKernel]]. */
case class DistSq(left: Expression, right: Expression)
    extends BinaryExpression with VectorKernel {

  override protected def kernelName: String = "dist_sq"
  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    var s = 0.0
    val whole = pass(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]) { xs =>
      val d = xs(0) - xs(1); s += d * d
    }
    if (whole) s else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("s"); val dd = ctx.freshName("dd")
      val loop = passCode(ctx, Seq(a, b), ev.isNull.toString) { case Seq(x, y) =>
        s"double $dd = $x - $y; $s += $dd * $dd;"
      }
      s"""double $s = 0.0;
         |$loop
         |${ev.value} = $s;""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}
