package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The TurboFan windowing kernel (datasets/turbofan.py:63-88) for ONE
  * trajectory: its points, sorted by time, in; every strided window's
  * (widx, features, rul) out, as `array<struct<...>>` for `inline`.
  *
  * Input: `array<struct<o_1..o_k, v_1..v_F>>` — `nOrder` ordering fields
  * (ignored here; they only sorted the array) followed by the F feature
  * values as doubles. Per feature it max-scales over the whole trajectory
  * (scale_data), then per window of `t` points ending at 1-based position
  * `e = t, t+skip, …, ≤ n`:
  *   - a setting column (`settings(f)`) is divided by 100;
  *   - a sensor column is z-normed: mean = left fold from 0.0 over the
  *     window / t, sd = sqrt(left fold of (x−m)² / t), sd ≤ 1e-12 → 1.0,
  *     z = (x−m)/sd (normalize_data, population std);
  * and the window's T×F values are interleaved row-major (time, feature).
  * Labels: `widx = (e−t)/skip`, `rul = min(rulCap, n−e)`. A trajectory
  * shorter than `t` emits no window.
  *
  * With `padTo > 0` a trajectory of n < `padTo` points is first brought to
  * `padTo` points (the train-path backfill of turbofan.py:133-138): it is
  * max-scaled over its n real points, then its leading `padTo − n` slots
  * repeat its first scaled value, and the windows and labels run over the
  * padded length (`rul = min(rulCap, padTo − e)`: padded steps count as
  * life). A trajectory of at least `padTo` points is not padded.
  *
  * Every floating-point step is the same operation in the same order as
  * the per-row formulation it replaces (max-scale division, sequential
  * folds, the eps guard), so the features are bitwise identical to it.
  *
  * Fails loudly on the two inputs that have no defined result: a null
  * feature value (TENSORIZE_NULL_VALUE) and a feature whose trajectory
  * max is zero (TENSORIZE_ZERO_MAX) — the error names the column.
  *
  * Called once per trajectory, never per row, so interpreted evaluation
  * ([[CodegenFallback]]) costs nothing measurable. */
case class WindowTensors(child: Expression, nOrder: Int, names: Seq[String],
    settings: Seq[Boolean], t: Int, skip: Int, rulCap: Int, padTo: Int)
    extends UnaryExpression with CodegenFallback {

  require(t >= 1, "window length t must be >= 1")
  require(skip >= 1, "window stride skip must be >= 1")
  require(names.length == settings.length,
    "one setting flag per feature column")
  require(padTo == 0 || padTo >= t,
    s"pad length $padTo must be 0 (no padding) or at least the window length $t")

  private val nF = names.length
  private val isSetting = settings.toArray

  override def dataType: DataType = WindowTensors.outputType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _) if st.length == nOrder + nF &&
        st.fields.drop(nOrder).forall(_.dataType == DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"window_tensors expects array<struct<$nOrder order fields, $nF doubles>>, " +
        s"got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val pts = input.asInstanceOf[ArrayData]
    val n = pts.numElements()
    val len = math.max(n, padTo)
    if (n == 0 || len < t) return new GenericArrayData(Array.empty[Any])
    // scaled values, one column per feature; the real points sit after
    // the `off` pad slots
    val off = len - n
    val s = Array.ofDim[Double](nF, len)
    var i = 0
    while (i < n) {
      val p = pts.getStruct(i, nOrder + nF)
      var f = 0
      while (f < nF) {
        if (p.isNullAt(nOrder + f))
          throw new IllegalArgumentException(
            s"[TENSORIZE_NULL_VALUE] feature column `${names(f)}` holds a null " +
              "value; window tensors need every value of a trajectory")
        s(f)(off + i) = p.getDouble(nOrder + f)
        f += 1
      }
      i += 1
    }
    var f = 0
    while (f < nF) {
      val col = s(f)
      // Spark's max: NaN is the largest double
      var mx = col(off)
      i = off + 1
      while (i < len) {
        val x = col(i)
        if (x.isNaN || (!mx.isNaN && x > mx)) mx = x
        i += 1
      }
      if (mx == 0.0)
        throw new IllegalArgumentException(
          s"[TENSORIZE_ZERO_MAX] feature column `${names(f)}` has max 0 in a " +
            "trajectory; max-scaling would divide by zero")
      i = off
      while (i < len) { col(i) = col(i) / mx; i += 1 }
      java.util.Arrays.fill(col, 0, off, col(off))
      f += 1
    }
    val nWin = (len - t) / skip + 1
    val out = new Array[Any](nWin)
    var w = 0
    while (w < nWin) {
      val start = w * skip
      val end = start + t // 1-based position of the window's last point
      val feats = new Array[Double](t * nF)
      f = 0
      while (f < nF) {
        val col = s(f)
        if (isSetting(f)) {
          i = 0
          while (i < t) { feats(i * nF + f) = col(start + i) / 100.0; i += 1 }
        } else {
          var acc = 0.0
          i = 0
          while (i < t) { acc = acc + col(start + i); i += 1 }
          val m = acc / t
          var sq = 0.0
          i = 0
          while (i < t) {
            val d = col(start + i) - m
            sq = sq + d * d
            i += 1
          }
          val sd0 = math.sqrt(sq / t)
          val sd = if (sd0 <= 1e-12) 1.0 else sd0
          i = 0
          while (i < t) { feats(i * nF + f) = (col(start + i) - m) / sd; i += 1 }
        }
        f += 1
      }
      out(w) = InternalRow(w.toLong, new GenericArrayData(feats),
        math.min(rulCap.toLong, (len - end).toLong))
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WindowTensors {
  // `features` never holds a null; it keeps the `array<double>` type with
  // nullable elements that the tensor column has always had
  val outputType: DataType = ArrayType(StructType(Seq(
    StructField("widx", LongType, nullable = false),
    StructField("features", ArrayType(DoubleType, containsNull = true),
      nullable = false),
    StructField("rul", LongType, nullable = false))), containsNull = false)

  def apply(points: Column, nOrder: Int, names: Seq[String],
            settings: Seq[Boolean], t: Int, skip: Int, rulCap: Int,
            padTo: Int): Column =
    ColumnBridge.column(WindowTensors(ColumnBridge.expression(points),
      nOrder, names, settings, t, skip, rulCap, padTo))
}
