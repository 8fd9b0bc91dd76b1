package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Raised by a vector kernel ([[Dot]], [[CosineSimilarity]], [[DistSq]])
  * whose two operands differ in length. */
final class VectorLengthMismatch(kernel: String, left: Int, right: Int)
  extends IllegalArgumentException(
    s"$kernel: vector length mismatch ($left vs $right elements)")

/** What the native `array<float|double>` kernels share: the input type
  * check, the exact float → double widening of each element, and one
  * strict left-to-right pass over the operands, generated as a single
  * Java loop (no per-element lambda, no boxing).
  *
  * Edge rules, the same in every kernel: a null element makes the result
  * NULL (as a null term does in a SQL fold), and operands of different
  * lengths raise [[VectorLengthMismatch]]. An empty operand folds to 0.0;
  * NaN and ±Inf elements take part in the arithmetic as they are. */
private[functions] trait VectorKernel extends Expression {

  protected def kernelName: String

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(c => c.dataType match {
          case ArrayType(FloatType | DoubleType, _) => true
          case _ => false
        })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$kernelName expects array<float|double> inputs, got " +
        children.map(_.dataType.catalogString).mkString(" / "))

  private def elemType(c: Expression): ArrayType = c.dataType.asInstanceOf[ArrayType]
  @transient private lazy val floats: Array[Boolean] =
    children.map(elemType(_).elementType == FloatType).toArray

  override def nullable: Boolean =
    children.exists(c => c.nullable || elemType(c).containsNull)

  /** Interpreted form of [[passCode]]: runs `step` on each position's
    * elements as doubles; false if an element is null. */
  protected def pass(arrays: ArrayData*)(step: Array[Double] => Unit): Boolean = {
    val n = arrays.head.numElements()
    arrays.tail.foreach { b =>
      if (b.numElements() != n) throw new VectorLengthMismatch(kernelName, n, b.numElements())
    }
    val xs = new Array[Double](arrays.length)
    var i = 0
    while (i < n) {
      var k = 0
      while (k < arrays.length) {
        val a = arrays(k)
        if (a.isNullAt(i)) return false
        xs(k) = if (floats(k)) a.getFloat(i).toDouble else a.getDouble(i)
        k += 1
      }
      step(xs)
      i += 1
    }
    true
  }

  /** Java for the pass over the evaluated, non-null operands `arrays`:
    * the length check, then one loop that sets `isNull` and stops at a
    * null element and otherwise runs `step` on the elements, read into
    * double locals (the null test is left out for an operand whose type
    * holds no null). */
  protected def passCode(ctx: CodegenContext, arrays: Seq[String], isNull: String)(
      step: Seq[String] => String): String = {
    val n = ctx.freshName("n"); val i = ctx.freshName("i")
    val xs = arrays.map(_ => ctx.freshName("x"))
    val sides = children.zip(arrays)
    val lengthChecks = arrays.tail.map(b =>
      s"""if ($b.numElements() != $n) throw new ${classOf[VectorLengthMismatch].getName}(
         |  "$kernelName", $n, $b.numElements());""".stripMargin)
    val nullTests = sides.collect { case (c, a) if elemType(c).containsNull => s"$a.isNullAt($i)" }
    val nullCheck =
      if (nullTests.isEmpty) ""
      else s"if (${nullTests.mkString(" || ")}) { $isNull = true; break; }"
    val reads = arrays.indices.map { k =>
      val get = if (floats(k)) "getFloat" else "getDouble"
      s"double ${xs(k)} = (double) ${arrays(k)}.$get($i);"
    }
    s"""int $n = ${arrays.head}.numElements();
       |${lengthChecks.mkString("\n")}
       |for (int $i = 0; $i < $n; $i++) {
       |  $nullCheck
       |  ${reads.mkString("\n  ")}
       |  ${step(xs)}
       |}""".stripMargin
  }
}

/** Dot product of two `array<float|double>` columns. */
case class Dot(left: Expression, right: Expression)
    extends BinaryExpression with VectorKernel {

  override protected def kernelName: String = "dot"
  override def dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    var s = 0.0
    if (pass(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])(xs => s += xs(0) * xs(1))) s
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("s")
      s"""double $s = 0.0;
         |${passCode(ctx, Seq(a, b), ev.isNull.toString)(xs => s"$s += ${xs(0)} * ${xs(1)};")}
         |${ev.value} = $s;""".stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}
