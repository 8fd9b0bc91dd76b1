package graft

import org.apache.spark.sql.catalyst.util.ArrayData

/** The per-element `getDouble` update of [[graft.functions.NormalEqAgg]],
  * kept as the reference its array-copy loop is checked against: the
  * same checks with the same messages, then the d² multiply-accumulate
  * reading every element through the `ArrayData` interface. */
object NormalEqReference {

  /** Fold one row into the flat `[XᵀWX | XᵀWz]` buffer; a null `x` leaves
    * it alone, a null `w` or `wz` counts as 0. */
  def update(buf: Array[Double], a: ArrayData, w: java.lang.Double,
             wz: java.lang.Double): Array[Double] = {
    if (a == null) return buf
    val d = a.numElements()
    require(d > 0, "normal_eq: empty feature vector")
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
    val wv = if (w == null) 0.0 else w.doubleValue
    val wzv = if (wz == null) 0.0 else wz.doubleValue
    var i = 0
    while (i < d) {
      val xi = a.getDouble(i)
      val xiw = xi * wv
      val base = i * d
      var j = 0
      while (j < d) { b(base + j) += xiw * a.getDouble(j); j += 1 }
      b(d * d + i) += xi * wzv
      i += 1
    }
    b
  }
}
