package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Tensorize, TimeSeriesOps}
import graft.plans.SharedShuffleExec

/** The tensor frame is planned once and its actions share one shuffle
  * ([[graft.plans.SharedShuffle]]): results must not depend on the
  * partition count or on AQE, and a lost shuffle output must be
  * recomputed from lineage. */
class SharedShuffleSpec extends SparkSpec {
  private val settings = (1 to 3).map(i => s"setting_$i")
  private val features = settings ++ (1 to 21).map(i => s"sensor_$i")

  private def split(file: String): DataFrame = {
    val raw = sources.TrajectoryCsv.read(spark, file)
    val tensors = Tensorize.windowTensorizeMulti(raw, "trajectory_id", Seq("t"),
      features, t = 10, skip = 5, rulCap = 15, settingCols = settings.toSet)
    TimeSeriesOps.ratioSplit(tensors, "trajectory_id", Seq("widx"), 0.8)
  }

  /** (trajectory, widx) → (feature bits, rul, fold). */
  private def rows(df: DataFrame): Map[(Int, Long), (Seq[Long], Long, String)] =
    df.collect().map { r =>
      (r.getInt(0), r.getLong(1)) ->
        (r.getSeq[Double](2).map(java.lang.Double.doubleToRawLongBits),
         r.getLong(3), r.getString(4))
    }.toMap

  /** The perfbench turbofan pass: ridge fit on the train fold, then the
    * per-fold MSE of its predictions. */
  private def fitAndScore(s: DataFrame): (Array[Double], Map[String, Double]) = {
    val w = graft.ml.LinearModel.fitRidge(s.filter(col("fold") === "train"),
      "features", "rul", lambda = 1e-3)
    val mse = s.select(col("fold"), col("rul"),
        graft.ml.LinearModel.predict(col("features"), w).as("pred"))
      .groupBy(col("fold"))
      .agg(count(lit(1)), sum(pow(col("pred") - col("rul"), 2.0)))
      .collect().map(r => r.getString(0) -> r.getDouble(2) / r.getLong(1)).toMap
    (w, mse)
  }

  private def sha256(xs: Array[Double]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    xs.foreach(x => md.update(java.nio.ByteBuffer.allocate(8)
      .putLong(java.lang.Double.doubleToRawLongBits(x)).array()))
    md.digest().map("%02x".format(_)).mkString
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("tensor rows and folds do not depend on partitions or AQE; at 4 partitions the fit is bitwise pinned") {
    val file = TurbofanFixture.writeTrain()
    val runs = for (n <- Seq(1, 7, 4); aqe <- Seq("true", "false")) yield
      withConf("spark.sql.shuffle.partitions" -> n.toString,
          "spark.sql.adaptive.enabled" -> aqe) {
        val s = split(file)
        val catalog = Seq(Tensorize.tsWindowTensorize(spark, sf),
            Tensorize.tsWindowTensorizePadded(spark, sf))
          .map(_.collect().map(_.toSeq).toSet)
        (n, aqe, rows(s), catalog, if (n == 4) Some(fitAndScore(s)) else None)
      }
    val (_, _, baseRows, baseCatalog, _) = runs.head
    assert(baseRows.size == 15 && baseCatalog.forall(_.nonEmpty))
    runs.foreach { case (n, aqe, r, c, fit) =>
      assert(r == baseRows, s"tensor rows or folds differ at $n partitions, AQE $aqe")
      assert(c(0) == baseCatalog(0), s"ts_window_tensorize differs at $n partitions, AQE $aqe")
      assert(c(1) == baseCatalog(1),
        s"ts_window_tensorize_padded differs at $n partitions, AQE $aqe")
      // the weights and MSEs of the uncoalesced 4-partition plan, with the
      // same summation order as before the frame was planned once
      fit.foreach { case (w, mse) =>
        assert(sha256(w) ==
          "410d5ec5e2628079a8bbe45570d846491752c27016c2b694bd835f2d9d923776",
          s"fit weights changed (AQE $aqe)")
        assert(java.lang.Double.doubleToRawLongBits(mse("train")) == 0x402b3768d963e47cL &&
          java.lang.Double.doubleToRawLongBits(mse("test")) == 0x4059cda1fa679284L,
          s"fold MSEs changed (AQE $aqe): $mse")
      }
    }
  }

  test("a lost shuffle output is recomputed from lineage with identical rows") {
    val file = TurbofanFixture.writeTrain()
    val s = split(file)
    val shared = s.queryExecution.sparkPlan.collectFirst {
      case e: SharedShuffleExec => e.planned.rdd
    }.getOrElse(fail(s"no SharedShuffle leaf in\n${s.queryExecution.sparkPlan}"))
    val bytes = new java.io.File(file).length
    val (first, read1) = JobProbe(spark)(rows(s))
    assert(read1.map(_.inputBytes).sum == bytes)
    val (again, read2) = JobProbe(spark)(rows(s))
    assert(again == first && read2.map(_.inputBytes).sum == 0L,
      s"second action read ${read2.map(_.inputBytes)} bytes")
    val dropped = org.apache.spark.graft.TestBus.dropShuffleOutputs(
      spark.sparkContext, shared)
    assert(dropped.nonEmpty)
    val (recomputed, read3) = JobProbe(spark)(rows(s))
    assert(recomputed == first, "rows changed after the shuffle output was lost")
    assert(read3.map(_.inputBytes).sum == bytes,
      s"lost map outputs were not recomputed: read ${read3.map(_.inputBytes)} bytes")
  }

  test("the split adds no exchange to the frame, and a conf change after build does not re-plan it") {
    val file = TurbofanFixture.writeTrain()
    val s = withConf("spark.sql.shuffle.partitions" -> "7")(split(file))
    withConf("spark.sql.shuffle.partitions" -> "3") {
      val plan = s.queryExecution.executedPlan.toString
      // the one hash exchange is the tensorize exchange, printed beneath
      // the leaf; ratioSplit's windows reuse its partitioning
      assert("(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
      assert(plan.contains("SharedShuffle") && plan.contains("Generate"), plan)
      val leaf = s.queryExecution.sparkPlan.collectFirst { case e: SharedShuffleExec => e }.get
      assert(leaf.outputPartitioning.numPartitions == 7)
      assert(leaf.planned.rdd.getNumPartitions == 7)
      assert(s.rdd.getNumPartitions == 7)
    }
  }
}
