package graft.tools

import org.apache.spark.sql.SparkSession
import graft.{Bench, Forensics, SparkEntry}

/** Dev profiler: each gated query's time split by layer. For every named
  * query (comma list, or `all`) it runs one untimed warm pass, then `reps`
  * timed reps with the bench's consumption (noop full evaluation), and
  * prints one line
  *
  * `[profile] layers <q> wall_s=… build_s=… analysis_s=… optimization_s=…
  * planning_s=… jobs=… stages=… tasks=… task_run_s=… task_cpu_s=…
  * task_gc_s=… sched_delay_s=… input_mb=… shuffle_write_mb=…
  * shuffle_read_mb=… spill_mb=… driver_gc_s=…`
  *
  * `wall_s` is the median rep's build + evaluate time; every other field
  * comes from that rep. `build_s` is the `SparkEntry.queries(q)` call
  * (eager builders' jobs land here, and so does the query's analysis: a
  * DataFrame is analyzed when it is built), the planning phases are the
  * noop write's `QueryExecution.tracker`, and the scheduler and task counters
  * (see [[Forensics.Snap]]) cover build and evaluate. One session serves
  * the whole list, so a multi-query re-measurement pays the boot once,
  * but a query's `wall_s` then carries JIT order effects: it depends on
  * the queries profiled before it (ts_pad_truncate read 0.21 s after
  * ts_window_tensorize_padded in one list and 0.28-0.36 s alone). Take a
  * wall figure you compare across builds from a single-query run; the
  * count fields (jobs, stages, tasks, bytes) do not depend on the order.
  * the health lines (boot block, a gap sample before each query) let a
  * clean-window claim carry its own evidence. For a plan, call
  * `explain("formatted")` on the query's frame from a console.
  *
  * Usage: `runMain graft.tools.Profile <name[,name...]|all> [sfDir] [reps]`
  * (defaults /root/testdata/sf0.1 and 3); SPARK_GRAFT_CPUS sets the core
  * count (default 16). Exits 1 if any query failed. */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: graft.tools.Profile <name[,name...]|all> [sfDir] [reps]")
    val names =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .appName("profile").master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Conf.applyTuned(spark)
    graft.Fixtures.ensureRulLabels(spark, sfDir)
    val (hl, hm, hb) = Bench.healthProbe()
    System.err.println(f"[profile] health load_avg=$hl%.2f " +
      s"pagetouch_mb_s=${hm.round} jvm_boot_ms=$hb")
    val layers = new Forensics.LayerListener().attach(spark)
    def settled(): Forensics.Snap = {
      Forensics.drainListenerBus(spark, layers); layers.snapshot()
    }
    val failed = names.filterNot { name =>
      try {
        val fn = SparkEntry.queries(name)
        val (_, gapMbs, _) = Bench.healthProbe(chunks = 1, chunkMb = 64)
        System.err.println(s"[profile] gap_health $name mbs=${gapMbs.round}")
        val tw = System.nanoTime()
        Bench.evaluate(fn(spark, sfDir)) // warm (+ session build)
        System.err.println(f"[profile] $name warm ${(System.nanoTime() - tw) / 1e9}%.3f s " +
          "(incl. any memoized session build)")
        // (wall s, build s, driver GC ms, counters over the rep, counters
        // over the evaluate); the bus drains sit outside both timers
        val runs = (1 to reps).map { _ =>
          val s0 = settled()
          val gc0 = Forensics.gcMillis()
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val build = (System.nanoTime() - t0) / 1e9
          val s1 = settled()
          val t1 = System.nanoTime()
          Bench.evaluate(df)
          val eval = (System.nanoTime() - t1) / 1e9
          val gc = Forensics.gcMillis() - gc0
          val s2 = settled()
          (build + eval, build, gc, s2 - s0, s2 - s1)
        }.sortBy(_._1)
        val walls = runs.map(_._1)
        val wall =
          if (reps % 2 == 1) walls(reps / 2)
          else (walls(reps / 2 - 1) + walls(reps / 2)) / 2.0
        val (_, build, gc, rep, write) = runs((reps - 1) / 2)
        def sec(ms: Long) = ms / 1e3
        def mb(b: Long) = b / 1e6
        // 0.1 ms resolution: a memoized or lazy build takes well under 1 ms
        println(f"[profile] layers $name wall_s=$wall%.4f build_s=$build%.4f " +
          f"analysis_s=${sec(write.analysisMs)}%.3f " +
          f"optimization_s=${sec(write.optimizationMs)}%.3f " +
          f"planning_s=${sec(write.planningMs)}%.3f " +
          s"jobs=${rep.jobs} stages=${rep.stages} tasks=${rep.nTasks} " +
          f"task_run_s=${sec(rep.runMs)}%.3f task_cpu_s=${rep.cpuNs / 1e9}%.3f " +
          f"task_gc_s=${sec(rep.gcMs)}%.3f sched_delay_s=${sec(rep.schedMs)}%.3f " +
          f"input_mb=${mb(rep.inputBytes)}%.3f " +
          f"shuffle_write_mb=${mb(rep.shuffleWriteBytes)}%.3f " +
          f"shuffle_read_mb=${mb(rep.shuffleReadBytes)}%.3f " +
          f"spill_mb=${mb(rep.spillBytes)}%.3f driver_gc_s=${sec(gc)}%.3f")
        true
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[profile] $name FAILED: $e")
        false
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[profile] failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
