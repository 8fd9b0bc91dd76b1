package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NormalEq

/** The higher-order-function forms of [[graft.functions.VectorOps]] that
  * its native kernels replaced, kept as the reference they are checked
  * against: `transform` casts, `zip_with` products and `aggregate` folds
  * from 0.0, left to right, in double. Each lambda is evaluated
  * interpreted, with a boxed double per element.
  *
  * Limits: a length mismatch gives NULL here (`zip_with` pads the shorter
  * side with nulls) where the kernels raise, and `cosine` of a zero-norm
  * side divides by zero, which raises under ANSI mode and gives NULL
  * without it; the kernels give NULL either way. */
object VectorOpsReference {

  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  private def normSq(a: Column): Column =
    aggregate(toDouble(a), lit(0.0), (acc, x) => acc + x * x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(normSq(a)) * sqrt(normSq(b)))

  /** [[graft.ml.LinearModel.predict]] on the reference dot. */
  def predict(feat: Column, w: Array[Double]): Column =
    dot(concat(feat, array(lit(1.0))), typedLit(w.toSeq))

  /** [[graft.ml.LogisticRegression.predictProb]] on the reference dot. */
  def predictProb(feat: Column, beta: Array[Double]): Column =
    lit(1.0) / (lit(1.0) + exp(-predict(feat, beta)))

  /** [[graft.ml.LogisticRegression.fit]]'s IRLS loop on the reference dot:
    * β₀ = 0, `iters` weighted normal-equation solves. */
  def logisticFit(df: DataFrame, featCol: String, labelCol: String,
                  lambda: Double = 1e-3, iters: Int = 4): Array[Double] = {
    val base = df.select(
      concat(col(featCol), array(lit(1.0))).as("x"),
      col(labelCol).cast("double").as("y"))
    var beta: Array[Double] = null
    for (_ <- 1 to iters) {
      val xb = if (beta == null) lit(0.0) else dot(col("x"), typedLit(beta.toSeq))
      val p = lit(1.0) / (lit(1.0) + exp(-xb))
      val w = greatest(p * (lit(1.0) - p), lit(1e-6))
      val z = xb + (col("y") - p) / w
      val flat = base.agg(NormalEq.normalEq(col("x"), w, w * z).as("s"))
        .head().getSeq[Double](0)
      val d = NormalEq.dimOf(flat.length)
      val xtwx = Array.tabulate(d, d)((i, j) => flat(i * d + j))
      val xtwz = Array.tabulate(d)(i => flat(d * d + i))
      (0 until d - 1).foreach(i => xtwx(i)(i) += lambda)
      beta = graft.ml.LinearModel.solve(xtwx, xtwz)
    }
    beta
  }
}
