package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Fused normal-equations sufficient-statistics aggregate:
  * `normal_eq(x, w, wz)` returns the flattened `[XᵀWX (d²) | XᵀWz (d)]`
  * accumulated over the group — the ONE distributed aggregation a ridge /
  * IRLS fit needs per iteration.
  *
  * Why this exists instead of `vector_sum(weighted_outer_flat(x, w))`:
  * that pair materializes a d²-element GenericArrayData PER ROW (a ~34 KB
  * allocation for a 65-dim design row) purely as a carrier between the
  * projection and the aggregate's sum loop. This aggregate folds each row
  * straight into its mutable double[d²+d] buffer — one d-length copy of
  * the row per row, one fused multiply-accumulate loop over that copy —
  * and still participates in map-side partial aggregation, so the
  * shuffle carries d²+d doubles per map partition at any corpus size.
  *
  * Raggedness is a hard error (not a silent mis-index): the flat layout
  * addresses cells as i·d+j, so a row of different length would scatter
  * its products into wrong cells. The first row fixes d; any later
  * mismatch throws. Null x rows are ignored; null w/wz are treated as 0.
  */
case class NormalEqAgg(x: Expression, w: Expression, wz: Expression,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] = Seq(x, w, wz)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (x.dataType, w.dataType, wz.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType, DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (a, b, c) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"normal_eq expects (array<double>, double, double), got " +
            s"${a.catalogString} / ${b.catalogString} / ${c.catalogString}")
    }

  // buffer layout: [xtwx row-major (d²), xtwz (d)]; empty marker = length 0
  override def createAggregationBuffer(): Array[Double] = Array.empty[Double]

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val xv = x.eval(input)
    if (xv == null) return buf
    val a = xv.asInstanceOf[ArrayData]
    val d = a.numElements()
    // d = 0 would leave the buffer at the empty marker (0·0+0 == 0): the
    // row would be silently ignored instead of tripping the raggedness
    // check, and an all-empty input would eval to null downstream
    require(d > 0, "normal_eq: empty feature vector")
    // null elements must be rejected before the copy: UnsafeArrayData
    // yields garbage 0.0 for them, GenericArrayData an NPE — an O(d) scan
    // against the O(d²) accumulate below
    var k = 0
    while (k < d) {
      require(!a.isNullAt(k), s"normal_eq: null element at index $k in feature vector")
      k += 1
    }
    val b =
      if (buf.length == 0) new Array[Double](d * d + d)
      else {
        require(buf.length == d * d + d,
          s"normal_eq: ragged feature vectors (saw dim $d after a different dim); " +
            "the flat i*d+j layout requires uniform dimensionality")
        buf
      }
    val wRaw = w.eval(input)
    val wzRaw = wz.eval(input)
    val wv = if (wRaw == null) 0.0 else wRaw.asInstanceOf[Double]
    val wzv = if (wzRaw == null) 0.0 else wzRaw.asInstanceOf[Double]
    // one copy of the row, then a plain array loop the JIT can vectorize
    // (per-element getDouble goes through the ArrayData interface); the
    // operations and their order are unchanged, so the sums are too
    val xs = a.toDoubleArray()
    var i = 0
    while (i < d) {
      val xi = xs(i)
      val xiw = xi * wv
      val base = i * d
      var j = 0
      while (j < d) { b(base + j) += xiw * xs(j); j += 1 }
      b(d * d + i) += xi * wzv
      i += 1
    }
    b
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    if (b2.length == 0) return b1
    if (b1.length == 0) return b2
    require(b1.length == b2.length,
      "normal_eq: merging buffers of different dimensionality (ragged input)")
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Double]): Any =
    if (buf.length == 0) null else new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getDouble)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): NormalEqAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NormalEqAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(x = newChildren(0), w = newChildren(1), wz = newChildren(2))
}

object NormalEq {
  /** Flattened `[XᵀWX | XᵀWz]` over the group; length d²+d. */
  def normalEq(x: Column, w: Column, wz: Column): Column =
    ColumnBridge.column(NormalEqAgg(
      ColumnBridge.expression(x), ColumnBridge.expression(w),
      ColumnBridge.expression(wz)).toAggregateExpression())

  /** Recover d from a flat d²+d statistics vector. */
  def dimOf(flatLen: Int): Int = {
    val d = ((math.sqrt(4.0 * flatLen + 1) - 1) / 2).round.toInt
    require(d * d + d == flatLen, s"normal_eq: $flatLen is not of form d^2+d")
    d
  }
}
