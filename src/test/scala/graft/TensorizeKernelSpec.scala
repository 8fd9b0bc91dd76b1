package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Tensorize

/** The per-trajectory windowing kernel against the window-frame reference
  * ([[TensorizeReference]]): bitwise-equal features, equal RUL labels and
  * equal window sets, plus independence from input order and partitioning
  * (which the reference's `row_number` order did not have on ties). */
class TensorizeKernelSpec extends SparkSpec {

  /** (key, widx) → (feature bits, rul). */
  private def windows(df: DataFrame): Map[(Any, Long), (Seq[Long], Long)] = {
    val rows = df.collect()
    val out = rows.map { r =>
      (r.get(0), r.getLong(1)) ->
        (r.getSeq[Double](2).map(java.lang.Double.doubleToRawLongBits),
         r.getLong(3))
    }.toMap
    assert(out.size == rows.length, "duplicate (key, widx) in the output")
    out
  }

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    got.schema.fields.zip(want.schema.fields).foreach { case (g, w) =>
      assert(g.dataType == w.dataType, s"${g.name}: ${g.dataType} vs ${w.dataType}")
    }
    val (g, w) = (windows(got), windows(want))
    assert(g.keySet == w.keySet, s"window sets differ: ${g.keySet.diff(w.keySet).take(5)} / " +
      s"${w.keySet.diff(g.keySet).take(5)}")
    w.foreach { case (k, (feats, rul)) =>
      assert(g(k)._2 == rul, s"rul at $k")
      val i = g(k)._1.zip(feats).indexWhere { case (a, b) => a != b }
      assert(g(k)._1.length == feats.length && i < 0,
        s"features at $k are not bitwise equal (first difference at $i)")
    }
  }

  test("kernel == reference on the PipelineSpec turbofan file") {
    val raw = sources.TrajectoryCsv.read(spark, TurbofanFixture.writeTrain())
    val settings = (1 to 3).map(i => s"setting_$i")
    val cols = settings ++ (1 to 21).map(i => s"sensor_$i")
    Seq((10, 5, 15), (7, 3, 130), (30, 1, 5)).foreach { case (t, skip, cap) =>
      assertSame(
        Tensorize.windowTensorizeMulti(raw, "trajectory_id", Seq("t"), cols,
          t, skip, cap, settings.toSet),
        TensorizeReference.windowTensorizeMulti(raw, "trajectory_id", Seq("t"),
          cols, t, skip, cap, settings.toSet))
    }
  }

  /** Seeded trajectories of lengths < T, = T, = T + skip − 1 and longer,
    * two order columns (the first one tied in runs, the second unique
    * within a key), F value columns of random sign, one of them integral. */
  private def randomInput(seed: Long, nF: Int, t: Int, skip: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val lengths = Seq(t - 1, t, t + skip - 1, 1, 3 * t + 2) ++
      Seq.fill(6)(1 + rnd.nextInt(6 * t))
    val rows = lengths.zipWithIndex.flatMap { case (n, k) =>
      rnd.shuffle((0 until n).toList).map { i =>
        Row.fromSeq(Seq(k.toLong, (i / 3).toLong, i.toLong) ++
          (0 until nF).map(f => if (f == 1) (rnd.nextInt(2000) + 1).toLong
                                else rnd.nextGaussian() * 10 + 3))
      }
    }
    val schema = StructType(Seq(StructField("k", LongType),
        StructField("a", LongType), StructField("b", LongType)) ++
      (0 until nF).map(f =>
        StructField(s"x$f", if (f == 1) LongType else DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  test("kernel == reference on seeded random trajectories, F = 1 and F = 24") {
    Seq((4, 2, 100, 11L), (10, 5, 130, 12L), (5, 1, 3, 13L)).foreach {
      case (t, skip, cap, seed) =>
        val one = randomInput(seed, 1, t, skip)
        assertSame(
          Tensorize.windowTensorize(one, "k", Seq("a", "b"), "x0", t, skip, cap),
          TensorizeReference.windowTensorize(one, "k", Seq("a", "b"), "x0", t, skip, cap))
        val wide = randomInput(seed, 24, t, skip)
        val cols = (0 until 24).map(f => s"x$f")
        val settings = Set("x0", "x1", "x2")
        assertSame(
          Tensorize.windowTensorizeMulti(wide, "k", Seq("a", "b"), cols,
            t, skip, cap, settings),
          TensorizeReference.windowTensorizeMulti(wide, "k", Seq("a", "b"), cols,
            t, skip, cap, settings))
    }
  }

  test("kernel output does not depend on input order or partitioning, ties included") {
    // order column `a` alone: runs of three points share an order key
    val df = randomInput(21L, 3, 4, 2)
    val cols = Seq("x0", "x1", "x2")
    def run(in: DataFrame) = windows(Tensorize.windowTensorizeMulti(in, "k",
      Seq("a"), cols, t = 4, skip = 2, rulCap = 100, settingCols = Set("x0")))
    val base = run(df.repartition(1))
    assert(base.nonEmpty)
    assert(run(df.repartition(7)) == base)
    assert(run(df.orderBy(rand(5L)).repartition(7)) == base)
    assert(run(df.orderBy(rand(6L)).coalesce(1)) == base)
  }

  test("the plan is one hash aggregate and a Generate, no Window") {
    val df = randomInput(31L, 2, 4, 2)
    val plan = Tensorize.windowTensorizeMulti(df, "k", Seq("a", "b"),
        Seq("x0", "x1"), t = 4, skip = 2, rulCap = 100)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("Generate"), plan)
    assert("(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }
}
