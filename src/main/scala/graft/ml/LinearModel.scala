package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Tensorize, TimeSeriesOps}
import graft.Tables

/** Distributed linear (ridge) regression on array-valued feature columns —
  * the reference's RUL-regression training loop (training/
  * timeseries_trainer.py + turbofan_baselines.py) re-expressed as a
  * deterministic one-pass fit.
  *
  * Instead of iterative SGD over mini-batches, the normal equations
  * (XᵀX + λI)w = Xᵀy are accumulated in ONE distributed aggregation:
  * each row contributes its d² outer-product entries and d cross terms,
  * summed map-side (partial aggregation). The d×d system (d = T·F + 1
  * bias, tiny) is solved on the driver. One scan of any corpus size, no
  * iteration, no RNG — same shape as MLlib's "normal" solver.
  */
object LinearModel {

  /** Fit w (last element = bias) on (features: array<double>, label).
    * Rows with null features or a null label are dropped.
    *
    * Sufficient statistics via one [[graft.functions.NormalEqAgg]]: each
    * row folds its d×d outer product and its d·y cross terms into the
    * aggregate's buffer; partial aggregation sums them map-side, so the
    * shuffle carries d²+d doubles per map partition — the posexplode²
    * formulation this replaces inflated the corpus ×d(d+1)/2 rows through
    * the shuffle. */
  def fitRidge(df: DataFrame, featCol: String, labelCol: String,
               lambda: Double): Array[Double] = {
    val withBias = df.select(
      concat(col(featCol), array(lit(1.0))).as("x"),
      col(labelCol).cast("double").as("y"))
      // NormalEqAgg would add a null-label row's xxᵀ to XᵀX and nothing
      // to Xᵀy (null wz counts as 0), pulling the fit toward 0
      .filter(col("y").isNotNull)
    // one fused aggregation; see NormalEqAgg for why this replaces the
    // vector_sum(weighted_outer_flat(...)) pair (per-row d² allocation),
    // and raggedness now fails fast inside the aggregate itself
    val statsRow = withBias
      .agg(graft.functions.NormalEq.normalEq(col("x"), lit(1.0), col("y")).as("s"))
      .head()
    // the aggregate evals to null over zero rows — fail with a diagnosis,
    // not an NPE (e.g. an empty train fold reaching fitRidge)
    require(!statsRow.isNullAt(0),
      "fitRidge called on empty input (no non-null feature rows)")
    solveFromFlat(statsRow.getSeq[Double](0), lambda)
  }

  /** Ridge solve from NormalEqAgg's flat [A | b] statistics — the ONE
    * place the flat layout and the no-penalty-on-bias convention live
    * (shared by fitRidge and rulPipeline). */
  private def solveFromFlat(flat: Seq[Double], lambda: Double): Array[Double] = {
    val d = graft.functions.NormalEq.dimOf(flat.length)
    val xtx = Array.tabulate(d, d)((i, j) => flat(i * d + j))
    val xty = Array.tabulate(d)(i => flat(d * d + i))
    (0 until d - 1).foreach(i => xtx(i)(i) += lambda) // no penalty on bias
    solve(xtx, xty)
  }

  /** In-place Gaussian elimination with partial pivoting (d is tiny).
    * (Raggedness of the design matrix is rejected by NormalEqAgg itself —
    * the separate uniformity pre-scan this module used to run is gone.) */
  private[graft] def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    val m = a.map(_.clone()); val y = b.clone()
    for (col <- 0 until n) {
      var p = col
      for (r <- col + 1 until n) if (math.abs(m(r)(col)) > math.abs(m(p)(col))) p = r
      val t = m(p); m(p) = m(col); m(col) = t
      val ty = y(p); y(p) = y(col); y(col) = ty
      require(math.abs(m(col)(col)) > 1e-12, "singular system; raise lambda")
      for (r <- col + 1 until n) {
        val f = m(r)(col) / m(col)(col)
        for (c <- col until n) m(r)(c) -= f * m(col)(c)
        y(r) -= f * y(col)
      }
    }
    val w = new Array[Double](n)
    for (r <- n - 1 to 0 by -1) {
      var s = y(r)
      for (c <- r + 1 until n) s -= m(r)(c) * w(c)
      w(r) = s / m(r)(r)
    }
    w
  }

  /** Prediction column: dot(features ++ [1], w) with w embedded as literal. */
  def predict(featCol: org.apache.spark.sql.Column, w: Array[Double]): org.apache.spark.sql.Column =
    graft.functions.VectorOps.dot(
      concat(featCol, array(lit(1.0))), typedLit(w.toSeq))

  /** The reference's full TurboFan workflow: tensorize → time split →
    * ridge-fit RUL on the train fold → MSE on both folds — in ONE
    * distributed pass.
    *
    * Both the fit AND the evaluation come from the same per-fold
    * sufficient statistics: with A = XᵀX, b = Xᵀy, s = Σy² accumulated
    * per fold (d²+d+1 doubles of state each, map-side partials), the
    * train fold's (A, b) solve for w and every fold's MSE follows in
    * closed form, MSE = (wᵀAw − 2wᵀb + s)/n — no second pass scoring
    * rows against the fitted weights. One scan of any corpus size.
    *
    * History: r4-r7 cached the tensorized fold across separate fit and
    * eval passes, and the r8 task-time forensics showed the in-memory
    * COLUMNAR cache of the array<double> feature column cost ~15.7 s of
    * executor time to build and 5× the parquet recompute to read — a
    * hidden ~24 s task load that surfaced as the r6/r7 driver-bench
    * "spikes on untouched code" (9.95/4.72 s) whenever the box was
    * contended. The sufficient-statistics form removes the second pass
    * entirely, so there is nothing left to cache. A caller that does run
    * two passes over one tensor frame (fit, then score) no longer needs a
    * cache either: the frame is planned once ([[Tensorize]]), so the
    * second pass reads the first one's shuffle output — no scan, no
    * columnar cache build, nothing persisted. */
  def rulPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
      .withColumn("ts_us", unix_micros(col("ts")))
    val tensors = Tensorize.windowTensorize(events, "user_id",
      Seq("ts_us", "event_id"), "value", t = 20, skip = 5, rulCap = 130)
    // explicit non-null row set so every aggregate below agrees on it:
    // NormalEqAgg skips null-feature rows on its own and would zero-fill
    // a null label into b while sum(y²)/count included or skipped them
    // differently — no-op for this pipeline's data (tensorize and the
    // capped RUL never produce nulls) but keeps the MSE denominator
    // honest by construction
    val split = TimeSeriesOps.ratioSplit(tensors, "user_id", Seq("widx"), 0.8)
      .withColumn("label", col("rul").cast("double"))
      .filter(col("features").isNotNull && col("label").isNotNull)
    val stats = split.select(col("fold"),
        concat(col("features"), array(lit(1.0))).as("x"),
        col("label").as("y"))
      .groupBy(col("fold"))
      .agg(graft.functions.NormalEq.normalEq(col("x"), lit(1.0), col("y")).as("s"),
           sum(col("y") * col("y")).as("yy"),
           count(lit(1)).as("n"))
      .collect()
    val byFold = stats.map { r =>
      r.getString(0) -> (r.getSeq[Double](1), r.getDouble(2), r.getLong(3))
    }.toMap
    require(byFold.contains("train"), "rulPipeline: empty train fold")
    val w = solveFromFlat(byFold("train")._1, lambda = 1e-3)
    val d = w.length
    // MSE = (wᵀAw − 2wᵀb + Σy²)/n per fold, from the UNregularized A.
    // Clamped at 0: the true MSE is non-negative, but the quad/yy
    // cancellation (both ~|n·ȳ²| for a good fit) can leave the d²-term
    // sum a hair below zero in floating point.
    val rows = byFold.toSeq.sortBy(_._1).map { case (fold, (flat, yy, n)) =>
      var quad = 0.0
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { quad += w(i) * flat(i * d + j) * w(j); j += 1 }
        quad -= 2.0 * w(i) * flat(d * d + i)
        i += 1
      }
      org.apache.spark.sql.Row(fold,
        BigDecimal(math.max(0.0, (quad + yy) / n))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        n)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("fold",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("mse",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }
}
