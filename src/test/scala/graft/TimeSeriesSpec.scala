package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.operators._

class TimeSeriesSpec extends SparkSpec {
  private val ss = TestSpark.spark
  import ss.implicits._

  private def mkSeries(rows: Seq[(Int, Long, Double)]) =
    rows.toDF("k", "t", "v")

  test("trajScale divides by per-key max") {
    val df = mkSeries(Seq((1, 1L, 2.0), (1, 2L, 4.0), (2, 1L, 5.0)))
    val got = TimeSeriesOps.trajScale(df, "k", "v")
      .select("k", "t", "v_scaled").as[(Int, Long, Double)].collect().toSet
    assert(got == Set((1, 1L, 0.5), (1, 2L, 1.0), (2, 1L, 1.0)))
  }

  test("rulLabel counts steps to trajectory end, capped") {
    val df = mkSeries((1 to 5).map(i => (1, i.toLong, 0.0)))
    val got = TimeSeriesOps.rulLabel(df, "k", Seq("t"), cap = 3)
      .select("t", "rul").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }

  test("slidingWindowStats emits only complete windows at stride") {
    val df = mkSeries((1 to 10).map(i => (1, i.toLong, i.toDouble)))
    val got = TimeSeriesOps.slidingWindowStats(df, "k", Seq("t"), "v", t = 4, skip = 2)
      .select("widx", "w_sum").as[(Long, Double)].collect().toMap
    // windows end at rows 4,6,8,10 → sums 1+2+3+4=10, 3..6=18, 5..8=26, 7..10=34
    assert(got == Map(0L -> 10.0, 1L -> 18.0, 2L -> 26.0, 3L -> 34.0))
  }

  test("nonOverlappingWindows pairs X with look-ahead Y, complete only") {
    val df = mkSeries((1 to 7).map(i => (1, i.toLong, i.toDouble)))
    val got = TimeSeriesOps.nonOverlappingWindows(df, "k", Seq("t"), "v", t = 3, lookAhead = 1)
      .select("wid", "x_sum", "y_sum").as[(Long, Double, Double)].collect().toSet
    // wid 0: x=1,2,3 y=2,3,4 ; wid 1: x=4,5,6 y=5,6,7 ; wid 2 incomplete
    assert(got == Set((0L, 6.0, 9.0), (1L, 15.0, 18.0)))
  }

  test("forwardFill carries last non-null forward per key") {
    val df = Seq((1, 1L, Some(5.0)), (1, 2L, None), (1, 3L, None),
                 (2, 1L, None)).toDF("k", "t", "v")
    val got = TimeSeriesOps.forwardFill(df, "k", Seq("t"), "v")
      .select("k", "t", "v_ffill").collect()
      .map(r => (r.getInt(0), r.getLong(1), Option(r.get(2)))).toSet
    assert(got == Set((1, 1L, Some(5.0)), (1, 2L, Some(5.0)), (1, 3L, Some(5.0)),
                      (2, 1L, None)))
  }

  test("asofJoin picks most recent right value at or before each left row") {
    val left = Seq((1, 10L, "a"), (1, 20L, "b"), (1, 5L, "c")).toDF("k", "ts_us", "tag")
    val right = Seq((1, 8L, 100.0), (1, 15L, 200.0)).toDF("k", "ts_us", "rv")
    val got = TimeSeriesOps.asofJoin(left, right, "k", "ts_us", "rv")
      .select("tag", "asof_val").collect()
      .map(r => (r.getString(0), Option(r.get(1)))).toSet
    assert(got == Set(("c", None), ("a", Some(100.0)), ("b", Some(200.0))))
  }

  test("asofJoin with tolerance nulls out stale matches") {
    val left = Seq((1, 10L, "a"), (1, 100L, "b")).toDF("k", "ts_us", "tag")
    val right = Seq((1, 8L, 100.0)).toDF("k", "ts_us", "rv")
    val got = TimeSeriesOps.asofJoin(left, right, "k", "ts_us", "rv",
        toleranceUs = Some(10L))
      .select("tag", "asof_val").collect()
      .map(r => (r.getString(0), Option(r.get(1)))).toMap
    assert(got("a") == Some(100.0)) // 2us old, within tolerance
    assert(got("b") == None)        // 92us old, stale
  }

  test("sessionize splits on gaps > threshold") {
    val df = Seq((1L, 0L, 0L, 1.0), (2L, 1000L, 0L, 1.0), (3L, 5000L, 0L, 1.0))
      .toDF("event_id", "ts_us_raw", "user_id", "value")
      .withColumn("ts", timestamp_micros(col("ts_us_raw")))
    val got = TimeSeriesOps.sessionize(df, "user_id", "ts", gapUs = 2000L)
      .select("event_id", "session_idx").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
  }

  test("windowTensorize: features are z-normed windows, labels capped RUL") {
    val df = mkSeries((1 to 8).map(i => (1, i.toLong, i.toDouble)))
    val out = Tensorize.windowTensorize(df, "k", Seq("t"), "v", t = 4, skip = 2, rulCap = 100)
      .orderBy("widx").collect()
    assert(out.length == 3) // windows ending at rows 4, 6, 8
    val feats = out(0).getAs[scala.collection.Seq[Double]]("features")
    assert(feats.length == 4)
    // scaled v = i/8; window (1..4)/8 → znorm symmetric around 0
    assert(math.abs(feats.sum) < 1e-9)
    assert(out.map(_.getAs[Long]("rul")).toSeq == Seq(4L, 2L, 0L))
  }

  test("padTruncate pads short series with leading zeros, keeps last T of long ones") {
    val df = mkSeries(Seq((1, 1L, 1.0), (1, 2L, 2.0), (2, 1L, 1.0), (2, 2L, 2.0),
                          (2, 3L, 3.0), (2, 4L, 4.0)))
    val got = Tensorize.padTruncate(df, "k", "t", "v", t = 3).collect()
      .map(r => r.getInt(0) -> r.getAs[scala.collection.Seq[Double]]("seq")).toMap
    assert(got(1) == Seq(0.0, 1.0, 2.0))
    assert(got(2) == Seq(2.0, 3.0, 4.0))
  }

  test("teacherForcingPairs: y is x shifted by one step over the padded window") {
    val df = mkSeries(Seq((1, 1L, 1.0), (1, 2L, 2.0), (2, 1L, 1.0), (2, 2L, 2.0),
                          (2, 3L, 3.0), (2, 4L, 4.0)))
    val got = Tensorize.teacherForcingPairs(df, "k", "t", "v", t = 3).collect()
      .map(r => r.getInt(0) ->
        ((r.getAs[scala.collection.Seq[Double]]("x"),
          r.getAs[scala.collection.Seq[Double]]("y")))).toMap
    // key 1: padded to [0,0,1,2] (zero front-pad) → x=[0,0,1], y=[0,1,2]
    assert(got(1) == ((Seq(0.0, 0.0, 1.0), Seq(0.0, 1.0, 2.0))))
    // key 2: last 4 of [1,2,3,4] → x=[1,2,3], y=[2,3,4]
    assert(got(2) == ((Seq(1.0, 2.0, 3.0), Seq(2.0, 3.0, 4.0))))
    // y is exactly x shifted left by one with the next observation appended
    got.values.foreach { case (x, y) => assert(x.tail == y.init) }
  }

  test("shuffledExport: a deterministic permutation, decorrelated across seeds") {
    val df = (1 to 500).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
      .repartition(7) // input partitioning must not affect the output order
    def order(seed: Long): Seq[Long] =
      Tensorize.shuffledExport(df, Seq("id"), seed, numPartitions = 4)
        .select("id").collect().map(_.getLong(0)).toSeq
    val a1 = order(42L); val a2 = order(42L); val b = order(43L)
    // permutation: same multiset of rows, nothing lost or duplicated
    assert(a1.sorted == (1L to 500L))
    // seed-reproducible total order, independent of input partitioning
    assert(a1 == a2)
    // not the identity, and different seeds decorrelate (hash avalanche)
    assert(a1 != (1L to 500L).toSeq)
    assert(a1.zip(b).count { case (x, y) => x == y } < 25)
    // the order is exactly the seeded-hash rank order (the export contract:
    // writing these partitions and reading files in order replays it)
    val want = df.select(col("id"), xxhash64(lit(42L), col("id")).as("r"))
      .orderBy(col("r"), col("id")).collect().map(_.getLong(0)).toSeq
    assert(a1 == want)
  }

  test("rulValidationWindow: last window only, first-row backfill, clipped external label") {
    val df = mkSeries(Seq((1, 1L, 5.0), (1, 2L, 6.0), (2, 1L, 1.0), (2, 2L, 2.0),
                          (2, 3L, 3.0), (2, 4L, 4.0)))
    val labels = Seq((1, 150L), (2, 7L)).toDF("k", "rul_provided")
    val got = Tensorize.rulValidationWindow(df, labels, "k", "t", "v",
        t = 3, rulCap = 130).collect()
      .map(r => r.getInt(0) ->
        ((r.getAs[scala.collection.Seq[Double]]("seq"), r.getAs[Long]("rul")))).toMap
    assert(got.size == 2) // exactly one window per trajectory
    assert(got(1)._1 == Seq(5.0, 5.0, 6.0)) // backfilled with traj[0], not 0.0
    assert(got(1)._2 == 130L)               // external label clipped at cap
    assert(got(2)._1 == Seq(2.0, 3.0, 4.0)) // last T of a long trajectory
    assert(got(2)._2 == 7L)
  }

  test("augmentedTestWindows: all windows, external-RUL offset labels, cap on the sum (turbofan.py:142-150)") {
    // long trajectory (L=12 >= T·skip=8): 5 windows at stride 2
    // short trajectory (L=5 < 8): front-padded to 8, 3 windows
    val df = mkSeries((1 to 12).map(i => (1, i.toLong, i.toDouble)) ++
      (1 to 5).map(i => (2, i.toLong, i * 10.0)))
    val labels = Seq((1, 50L), (2, 3L)).toDF("k", "rul_provided")
    val got = Tensorize.augmentedTestWindows(df, labels, "k", Seq("t"), "v",
        t = 4, skip = 2, rulCap = 55)
      .orderBy("k", "widx").collect()
    val byKey = got.groupBy(_.getInt(0))
    // window counts: ceil((L − T + 1)/skip) over the (padded) length —
    // L=12 → ceil(9/2)=5; L=5 padded to 8 → ceil(5/2)=3
    assert(byKey(1).length == 5 && byKey(2).length == 3)
    // labels: rul = min(cap, ext + L − T − j·skip). Key 1 (ext=50, L=12):
    // raw 58,56,54,52,50 → capped 55,55,54,52,50 — the cap applies to the
    // SUM (capping the trajectory-relative part alone would give 58).
    assert(byKey(1).map(_.getAs[Long]("rul")).toSeq == Seq(55L, 55L, 54L, 52L, 50L))
    // key 2 (ext=3, padded L=8): 3+4−2j = 7,5,3 — padded steps count as life
    assert(byKey(2).map(_.getAs[Long]("rul")).toSeq == Seq(7L, 5L, 3L))
    // first short window is the constant backfill [v1,v1,v1,v1] → std≤eps
    // guard → all-zero z-features
    assert(byKey(2).head.getAs[scala.collection.Seq[Double]]("features") ==
      Seq(0.0, 0.0, 0.0, 0.0))
    // the unpadded trajectory's features match the rul=None tensorize
    // bit-for-bit (one kernel: scale → window → z-norm)
    val unlabeled = Tensorize.windowTensorize(
        df.filter(col("k") === 1), "k", Seq("t"), "v", t = 4, skip = 2, rulCap = 100)
      .orderBy("widx").collect().map(_.getAs[scala.collection.Seq[Double]]("features"))
    assert(byKey(1).map(_.getAs[scala.collection.Seq[Double]]("features")).toSeq ==
      unlabeled.toSeq)
  }

  test("inferenceWindow: unlabeled challenge split = validation windows minus the label") {
    val df = mkSeries(Seq((1, 1L, 5.0), (1, 2L, 6.0), (2, 1L, 1.0), (2, 2L, 2.0),
                          (2, 3L, 3.0), (2, 4L, 4.0)))
    val got = Tensorize.inferenceWindow(df, "k", "t", "v", t = 3).collect()
      .map(r => r.getInt(0) -> r.getAs[scala.collection.Seq[Double]]("seq")).toMap
    assert(got.size == 2) // exactly one window per trajectory, no label column
    assert(got(1) == Seq(5.0, 5.0, 6.0)) // backfilled with traj[0], not 0.0
    assert(got(2) == Seq(2.0, 3.0, 4.0)) // last T of a long trajectory
  }

  test("addingProblem: y equals sum of the two masked positions, deterministic") {
    val df = Synthetic.addingProblem(spark, n = 50, t = 16)
    val rows = df.collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val x = r.getAs[scala.collection.Seq[Double]]("x")
      val m = r.getAs[scala.collection.Seq[Double]]("mask")
      assert(m.count(_ == 1.0) == 2)
      val expected = x.zip(m).filter(_._2 == 1.0).map(_._1).sum
      assert(math.abs(r.getAs[Double]("y") - expected) < 1e-12)
    }
    // determinism across partitioning
    val again = Synthetic.addingProblem(spark, 50, 16).repartition(7).collect()
    assert(again.map(r => r.getLong(0) -> r.getAs[Double]("y")).toMap ==
           rows.map(r => r.getLong(0) -> r.getAs[Double]("y")).toMap)
  }

  test("Synthetic.mix equals an exact mod-2^64 big-integer replay") {
    // the ts_adding_problem oracle replays mix() in DuckDB HUGEINT
    // arithmetic; this pins the property that replay depends on — JVM
    // wrapping Long semantics == exact arithmetic mod 2^64 — and catches
    // a future constant edit that overflows the signed-128-bit replay
    // (multipliers must stay < 2^62: 2^64 · 2^62 < 2^127)
    val M = BigInt(1) << 64
    val A1 = BigInt("2685821657736338717")
    val C = BigInt("11400714819323198485")
    val A2 = BigInt("2862933555777941757")
    assert(A1 < (BigInt(1) << 62) && A2 < (BigInt(1) << 62),
      "replay multipliers must stay below 2^62 for the HUGEINT oracle")
    def replay(a: Long): Long = {
      var z = (BigInt(a) * A1 + C).mod(M)
      z = (z + z / (BigInt(1) << 29)).mod(M)
      z = (z * A2).mod(M)
      z = (z + z / (BigInt(1) << 32)).mod(M)
      // back to signed 64-bit
      (if (z >= (BigInt(1) << 63)) z - M else z).toLong
    }
    val rnd = new scala.util.Random(17L)
    val samples = (0L to 200L) ++ Seq.fill(200)(rnd.nextLong().abs)
    samples.foreach { a =>
      assert(Synthetic.mix(a) == replay(a), s"mix($a) diverges from exact replay")
    }
  }

  test("autoregressive generate follows x_{t+1} = a*x_t + b") {
    // exact AR(1): x_t = 0.5*x_{t-1} + 1, x0=2 → 2,2,1.5+... build series
    val series = Iterator.iterate(10.0)(x => 0.5 * x + 1.0).take(20).toSeq
    val df = series.zipWithIndex.map { case (v, i) => (1, i.toLong, v) }.toDF("k", "t", "v")
    val got = AutoReg.generate(df, "k", Seq("t"), "v", steps = 3)
      .orderBy("step").select("x_gen").as[Double].collect()
    val last = series.last
    val expect = Iterator.iterate(last)(x => 0.5 * x + 1.0).drop(1).take(3).toSeq
    got.zip(expect).foreach { case (g, e) => assert(math.abs(g - e) < 1e-6) }
  }

  test("TrajectoryCsv reads turbofan format, drops trailing null column") {
    val dir = java.nio.file.Files.createTempDirectory("traj").toFile
    val f = new java.io.File(dir, "train.txt")
    val pw = new java.io.PrintWriter(f)
    // 2 ids + 2 t + 3 settings + 21 sensors, trailing space
    (1 to 4).foreach { i =>
      val vals = Seq(i % 2 + 1, i) ++ (1 to 24).map(j => j * 0.5)
      pw.println(vals.mkString(" ") + " ")
    }
    pw.close()
    val df = sources.TrajectoryCsv.read(spark, f.getAbsolutePath)
    assert(df.columns.head == "trajectory_id")
    assert(df.columns.length == 26)
    assert(df.count() == 4)
    assert(df.select(countDistinct(col("trajectory_id"))).head.getLong(0) == 2)
  }
}
