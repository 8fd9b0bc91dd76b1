package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.exceptions.TestFailedException
import graft.functions.NormalEqAgg

/** [[NormalEqAgg]]'s array-copy update against the per-element reference
  * loop ([[NormalEqReference]]): the flat `[XᵀWX | XᵀWz]` buffer is
  * bitwise equal on `UnsafeArrayData` rows from a DataFrame and on
  * `GenericArrayData` rows, with unit and IRLS-style weights, and the
  * input checks fail with the same messages. */
class NormalEqKernelSpec extends SparkSpec {

  private val agg = NormalEqAgg(BoundReference(0, ArrayType(DoubleType), nullable = true),
    BoundReference(1, DoubleType, nullable = true),
    BoundReference(2, DoubleType, nullable = true))

  private type In = (ArrayData, java.lang.Double, java.lang.Double)

  private def kernel(rows: Seq[In]): Array[Double] =
    rows.foldLeft(agg.createAggregationBuffer()) { case (b, (x, w, wz)) =>
      agg.update(b, InternalRow(x, w, wz))
    }

  private def reference(rows: Seq[In]): Array[Double] =
    rows.foldLeft(Array.empty[Double]) { case (b, (x, w, wz)) =>
      NormalEqReference.update(b, x, w, wz)
    }

  private def assertBitwise(got: Array[Double], want: Array[Double]): Unit = {
    assert(got.length == want.length, s"length ${got.length} vs ${want.length}")
    val i = got.indices.indexWhere(k =>
      java.lang.Double.doubleToRawLongBits(got(k)) !=
        java.lang.Double.doubleToRawLongBits(want(k)))
    assert(i < 0, s"buffers differ first at $i: ${if (i >= 0) got(i) else 0} vs " +
      s"${if (i >= 0) want(i) else 0}")
  }

  /** Seeded rows of dimension d: Gaussian features of mixed scale, IRLS
    * weights w = p(1 − p) and wz = w·z when `irls`, else w = 1, wz = y;
    * one row with a null x and one with a null w. */
  private def seeded(seed: Long, n: Int, d: Int, irls: Boolean)
      : Seq[(Option[Seq[Double]], Option[Double], Double)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { r =>
      val x = Seq.fill(d)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3))
      val p = 1.0 / (1.0 + math.exp(-rnd.nextGaussian()))
      val w = if (irls) p * (1 - p) else 1.0
      val y = rnd.nextGaussian() * 40 + 60
      (if (r == 3) None else Some(x), if (r == 5) None else Some(w), w * y)
    }
  }

  private def unsafeRows(rows: Seq[(Option[Seq[Double]], Option[Double], Double)]): Seq[In] = {
    val ss = spark
    import ss.implicits._
    rows.toDF("x", "w", "wz").queryExecution.toRdd.map(_.copy()).collect().toSeq.map { r =>
      (if (r.isNullAt(0)) null else r.getArray(0),
        if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1)),
        java.lang.Double.valueOf(r.getDouble(2)))
    }
  }

  private def genericRows(rows: Seq[(Option[Seq[Double]], Option[Double], Double)]): Seq[In] =
    rows.map { case (x, w, wz) =>
      (x.map(v => new GenericArrayData(v.toArray): ArrayData).orNull,
        w.map(java.lang.Double.valueOf).orNull, java.lang.Double.valueOf(wz))
    }

  test("kernel == reference bitwise on UnsafeArrayData and GenericArrayData, w = 1 and IRLS w") {
    for ((d, irls, seed) <- Seq((1, false, 1L), (7, true, 2L), (65, true, 3L),
        (241, false, 4L))) {
      val rows = seeded(seed, 40, d, irls)
      val unsafe = unsafeRows(rows)
      assert(unsafe.exists(r => r._1 != null &&
        r._1.isInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeArrayData]))
      val want = reference(unsafe)
      assertBitwise(kernel(unsafe), want)
      assertBitwise(kernel(genericRows(rows)), want)
      // and through the SQL aggregate over one partition, in row order
      val ss = spark
      import ss.implicits._
      val viaSql = rows.toDF("x", "w", "wz").coalesce(1)
        .agg(graft.functions.NormalEq.normalEq(col("x"), col("w"), col("wz")))
        .head().getSeq[Double](0).toArray
      assertBitwise(viaSql, want)
    }
  }

  test("the bitwise comparison catches a 1-ulp change") {
    val rows = unsafeRows(seeded(9L, 10, 5, irls = true))
    val want = reference(rows)
    val got = kernel(rows)
    assertBitwise(got, want)
    got(7) = Math.nextUp(got(7))
    intercept[TestFailedException](assertBitwise(got, want))
  }

  test("null elements, ragged rows and empty vectors fail with the old messages") {
    def msg(f: => Any): String = intercept[IllegalArgumentException](f).getMessage
    val one: java.lang.Double = 1.0
    val withNull = new GenericArrayData(Array[Any](1.0, null, 3.0))
    val cases: Seq[Seq[In]] = Seq(
      Seq((withNull, one, one)),
      Seq((new GenericArrayData(Array(1.0, 2.0)), one, one),
        (new GenericArrayData(Array(1.0, 2.0, 3.0)), one, one)),
      Seq((new GenericArrayData(Array.empty[Double]), one, one)))
    val want = Seq(
      "requirement failed: normal_eq: null element at index 1 in feature vector",
      "requirement failed: normal_eq: ragged feature vectors (saw dim 3 after a " +
        "different dim); the flat i*d+j layout requires uniform dimensionality",
      "requirement failed: normal_eq: empty feature vector")
    cases.zip(want).foreach { case (rows, m) =>
      assert(msg(reference(rows)) == m)
      assert(msg(kernel(rows)) == m)
    }
  }
}
