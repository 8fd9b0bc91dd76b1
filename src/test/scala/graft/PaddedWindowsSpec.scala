package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.operators.Tensorize

/** The padding kernel (`WindowTensors` with `padTo`) against the
  * two-branch reference ([[PaddedWindowsReference]]): bit-identical rows
  * for trajectories around every length boundary — 1, T−1, T, T·skip−1,
  * T·skip, T·skip+1 and a long one — at 1 and 7 partitions. */
class PaddedWindowsSpec extends SparkSpec {
  private val ss = TestSpark.spark
  import ss.implicits._

  /** One trajectory per boundary length, shuffled, with unique order keys;
    * `v` is a double of random sign, `w` a positive integral column. */
  private def input(seed: Long, t: Int, skip: Int, parts: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val p = t * skip
    val lengths = Seq(1, t - 1, t, p - 1, p, p + 1, 3 * p + 7)
    val rows = lengths.zipWithIndex.flatMap { case (n, k) =>
      rnd.shuffle((0 until n).toList).map { i =>
        Row(k.toLong, i.toLong, rnd.nextGaussian() * 10 + 3,
          (rnd.nextInt(2000) + 1).toLong)
      }
    }
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("ts", LongType), StructField("v", DoubleType),
      StructField("w", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
  }

  /** Rows with every double as its raw bits, keyed by (k, widx). */
  private def bits(df: DataFrame): Map[(Long, Long), Seq[Any]] = {
    def raw(x: Any): Any = x match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case s: scala.collection.Seq[_] => s.map(raw).toList
      case o => o
    }
    val rows = df.collect()
    val out = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.map(raw)).toMap
    assert(out.size == rows.length, "duplicate (key, widx) in the output")
    out
  }

  private def assertSame(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => f.name -> f.dataType) ==
      want.schema.map(f => f.name -> f.dataType), s"$what: schemas differ")
    val (g, w) = (bits(got), bits(want))
    assert(g.nonEmpty && g.keySet == w.keySet, s"$what: window sets differ: " +
      s"${g.keySet.diff(w.keySet).take(5)} / ${w.keySet.diff(g.keySet).take(5)}")
    w.foreach { case (k, row) => assert(g(k) == row, s"$what: row $k differs") }
  }

  private def withPartitions[T](n: Int)(body: => T): T = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("padded windows == two-branch reference at every length boundary, 1 and 7 partitions") {
    for ((t, skip, cap, seed) <- Seq((20, 5, 130, 41L), (7, 3, 15, 42L), (4, 2, 5, 43L));
         parts <- Seq(1, 7); valueCol <- Seq("v", "w")) withPartitions(parts) {
      val df = input(seed, t, skip, parts)
      // key 3 (length T·skip−1) has no label: the inner join drops it
      val labels = Seq(0L -> 150L, 1L -> 3L, 2L -> 0L, 4L -> 77L, 5L -> 1L, 6L -> 9L)
        .toDF("k", "rul_provided")
      val what = s"T=$t skip=$skip $valueCol at $parts partitions"
      assertSame(s"windowTensorizePadded $what",
        Tensorize.windowTensorizePadded(df, "k", Seq("ts"), valueCol, t, skip, cap),
        PaddedWindowsReference.windowTensorizePadded(df, "k", Seq("ts"), valueCol,
          t, skip, cap))
      assertSame(s"augmentedTestWindows $what",
        Tensorize.augmentedTestWindows(df, labels, "k", Seq("ts"), valueCol,
          t, skip, cap),
        PaddedWindowsReference.augmentedTestWindows(df, labels, "k", Seq("ts"),
          valueCol, t, skip, cap))
    }
  }
}
