package graft

import org.apache.spark.sql.functions._

/** Pins the bench measurement premise behind the r8 consumption change:
  * `count()` lets Catalyst prune cardinality-neutral work (so rounds 1-7
  * under-measured projection-heavy queries — text_fingerprint benched
  * 0.12 s against 26 s of real Verify-path work), while `Bench.evaluate`
  * (noop v2 sink) pays for every output column of every row. The probe is
  * an accumulator-counting UDF in a projection: count() must leave it
  * untouched, evaluate() must hit every row. If the count() half ever
  * fails, Catalyst stopped pruning deterministic projections under count
  * — i.e. the premise, not just the fix, changed; re-read the Bench
  * consumption comment before touching either. */
class BenchConsumptionSpec extends SparkSpec {

  test("count() prunes an unused projection; Bench.evaluate pays for it") {
    val acc = spark.sparkContext.longAccumulator("bench-consumption-probe")
    val probe = udf { (x: Long) => acc.add(1); x }
    val df = spark.range(1000).select(probe(col("id")).as("y"))

    assert(df.count() == 1000)
    assert(acc.value == 0,
      s"count() evaluated the projection (${acc.value} rows) — the r1-r7 " +
        "under-measurement premise no longer holds")

    Bench.evaluate(df)
    assert(acc.value >= 1000,
      s"noop consumption skipped projection work: ${acc.value}/1000 rows")
  }

  test("evaluate consumes multi-column output incl. arrays") {
    val acc = spark.sparkContext.longAccumulator("bench-consumption-probe2")
    val probe = udf { (x: Long) => acc.add(1); Seq(x, x + 1) }
    val df = spark.range(100)
      .select(col("id"), probe(col("id")).as("arr"), lit("pad").as("s"))
    Bench.evaluate(df)
    assert(acc.value >= 100, s"array column unevaluated: ${acc.value}/100")
  }

  test("LayerListener: a shuffle aggregate reports jobs, tasks, shuffle bytes and planning; a map-only select no shuffle") {
    val l = new Forensics.LayerListener().attach(spark)
    def measured(df: org.apache.spark.sql.DataFrame): Forensics.Snap = {
      Forensics.drainListenerBus(spark, l)
      val s0 = l.snapshot()
      Bench.evaluate(df)
      Forensics.drainListenerBus(spark, l)
      l.snapshot() - s0
    }
    try {
      val agg = measured(spark.range(0, 100000, 1, 4)
        .groupBy((col("id") % 97).as("k")).agg(sum(col("id"))))
      assert(agg.jobs >= 1 && agg.nTasks > 0, agg.productIterator.mkString(","))
      assert(agg.shuffleWriteBytes > 0 && agg.shuffleReadBytes > 0,
        s"aggregate shuffled nothing: $agg")
      assert(agg.analysisMs + agg.optimizationMs + agg.planningMs > 0,
        "no planning phase recorded for the noop write")
      val map = measured(spark.range(0, 100000, 1, 4)
        .select((col("id") * 2).as("y")))
      assert(map.jobs >= 1 && map.nTasks > 0, map.productIterator.mkString(","))
      assert(map.shuffleWriteBytes == 0 && map.shuffleReadBytes == 0,
        map.productIterator.mkString(","))
    } finally {
      spark.sparkContext.removeSparkListener(l)
      spark.listenerManager.unregister(l)
    }
    // Bench's per-rep text, parsed by tools/scaling_report.py, keeps
    // exactly the four task fields however many counters a Snap carries
    assert(Forensics.Snap(12, 3, 4, 5, cpuNs = 9, jobs = 2).toString ==
      "task=12ms taskGc=3ms sched=4ms ntasks=5")
  }
}
