package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side.
  *
  *   gen --workload W --seed N --data DIR [--tables DIR] [sizes]
  *       write W's inputs to DIR
  *   run --workload W --seed N --data DIR [--tables DIR] --run DIR
  *       --seconds S --trace 0|1 [sizes]     measure, print one JSON line
  *
  * `run` is one JVM, `local[cpus]`, one closed-loop client: each operation
  * starts after the previous one returned. `setup_s` is the JVM's one,
  * cold set-up: session build, Conf.applyTuned, a warm-up query and the
  * workload's session state. The timed phase takes whole units of work
  * until `seconds` have gone by; each unit first runs the workload's
  * untimed warm-up. With --trace 1 untraced and traced executions
  * alternate, and the per-layer figures come from the traced ones. */
object Main {

  final class Args(raw: Array[String]) {
    private val kv: Map[String, String] = raw.drop(1).grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value, got ${other.mkString(" ")}")
    }.toMap
    val mode: String = raw.headOption.getOrElse("")
    def str(k: String): String = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = str(k).toInt
    def long(k: String): Long = str(k).toLong
    def dbl(k: String): Double = str(k).toDouble
    def path(k: String): Path = Paths.get(str(k)).toAbsolutePath
    def opt(k: String): Option[String] = kv.get(k)
  }

  def session(a: Args, scratch: Path): SparkSession = {
    val cpus = a.int("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.cleaner.periodicGC.interval", "10min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(raw: Array[String]): Unit = {
    val a = new Args(raw)
    a.mode match {
      case "gen" => generate(a)
      case "run" => run(a)
      case m => throw new IllegalArgumentException(s"unknown mode '$m'")
    }
  }

  def generate(a: Args): Unit = {
    val data = a.path("data")
    Files.createDirectories(data)
    val seed = a.long("seed")
    a.str("workload") match {
      case "turbofan" =>
        val lengths = Gen.engineLengths(seed, a.int("engines"), a.int("rows"))
        Gen.trajectories(seed, lengths, data.resolve("train.txt"))
        Files.write(data.resolve("lengths"),
          lengths.mkString("", "\n", "\n").getBytes("UTF-8"))
      case "daily_curation" =>
        val spark = session(a, data)
        try DailyGen.generate(spark, seed, a.path("tables"), a.int("factor"),
          a.dbl("corpus-share"), a.int("batch-docs"), a.int("days"),
          a.dbl("near-share"), data)
        finally spark.stop()
      case w => throw new IllegalArgumentException(s"nothing to generate for '$w'")
    }
  }

  private def workload(a: Args, data: Path, runDir: Path): Workload = {
    val seed = a.long("seed")
    a.str("workload") match {
      case "turbofan" =>
        val lengths = scala.io.Source.fromFile(data.resolve("lengths").toFile)
          .getLines().map(_.trim.toInt).toArray
        new Turbofan(data.resolve("train.txt").toString, lengths,
          a.int("window"), a.int("skip"), a.int("cap"))
      case "catalog" =>
        new Catalog(a.path("tables").toString, seed, data.resolve("digests"),
          a.str("parts").split(';').toSeq.map(_.split(',').toSeq))
      case "daily_curation" =>
        new DailyCuration(data, runDir.resolve("store"), seed,
          a.int("days"), a.long("batch-docs"), a.int("reads-per-day"),
          a.dbl("read-width"), a.int("compact-every"),
          a.int("files-per-increment"))
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
  }

  def run(a: Args): Unit = {
    val data = a.path("data")
    val runDir = a.path("run")
    Files.createDirectories(runDir)
    val seconds = a.dbl("seconds")
    val traced = a.int("trace") == 1
    val wl = workload(a, data, runDir)

    // set-up: the first, cold, session build of this JVM
    val ((spark, tr, memoSeconds), setupSeconds) = Workload.timed {
      val spark = session(a, runDir)
      graft.Conf.applyTuned(spark)
      spark.range(1000000).selectExpr("sum(id)").collect()
      val tr = new Tracer(spark.sparkContext)
      (spark, tr, wl.setup(spark, tr).toMap)
    }
    System.err.println(f"[perfbench] setup $setupSeconds%.3f s")
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    Workload.corruptOp = a.opt("corrupt").map(_.toInt).getOrElse(-1)

    // a warm-up failure shows again when the timed phase runs the op
    def warm(first: Int): Unit = wl.warmUp(first).foreach { k =>
      tr.enabled = false
      try {
        val r = wl.op(spark, tr, k)
        System.err.println(f"[perfbench] warm-up op $k ${r.name} ${r.seconds}%.3f s")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] warm-up op $k FAILED: $e") }
    }

    // the timed phase: closed loop over whole units of work until the
    // timed operations have taken `seconds`. Traced runs alternate traced
    // and untraced executions; a repeatable operation runs both ways (in
    // alternating order), so the overhead is a median of paired
    // differences.
    val plain = mutable.ArrayBuffer.empty[OpResult]
    val tracedRs = mutable.ArrayBuffer.empty[OpResult]
    val pairs = mutable.ArrayBuffer.empty[Double]
    var gcJvm = 0.0
    if (traced) tr.attach(spark)
    var timedNs = 0L
    def exec(n: Int, withTrace: Boolean): OpResult = {
      tr.enabled = withTrace
      tr.op = n
      Workload.timedPhase = true
      val g0 = Stats.gcSeconds()
      val t0 = System.nanoTime()
      val r =
        try tr.span("op", s"op$n")(wl.op(spark, tr, n))
        catch { case scala.util.control.NonFatal(e) =>
          OpResult(s"op$n", Double.NaN, ok = false, 0L, 0L, e.toString) }
      timedNs += System.nanoTime() - t0
      if (withTrace) gcJvm += Stats.gcSeconds() - g0
      Workload.timedPhase = false
      tr.enabled = false
      System.err.println(f"[perfbench] op $n ${r.name} ${r.seconds}%.3f s ${r.outRows} rows" +
        (if (withTrace) " traced" else "") + (if (r.ok) "" else s" FAILED: ${r.why}"))
      (if (withTrace) tracedRs else plain) += r
      r
    }
    var n = 0
    while (n < wl.ops && (n == 0 || timedNs / 1e9 < seconds || !wl.mayStopAfter(n - 1))) {
      if (n == 0 || wl.mayStopAfter(n - 1)) warm(n)
      if (!traced) exec(n, withTrace = false)
      else if (wl.repeatable) {
        val (x, y) = if (n % 2 == 0) (exec(n, false), exec(n, true))
                     else { val t = exec(n, true); (exec(n, false), t) }
        if (x.ok && y.ok) pairs += y.seconds - x.seconds
      } else exec(n, withTrace = n % 2 == 0)
      n += 1
    }
    if (traced) tr.drain()
    val results = plain ++ tracedRs

    val failed = results.count(!_.ok)
    val good = results.filter(_.ok)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def lat(rs: Seq[OpResult]): Seq[Double] = rs.filter(_.ok).map(_.seconds)
    if (!traced) {
      val lats = lat(results.toSeq)
      val busy = lats.sum
      val (tail, pct) = if (lats.isEmpty) (Double.NaN, 0.0) else Stats.tail(lats)
      System.err.println(f"[perfbench] op_tail_s is p$pct%.1f of ${lats.size} operations")
      metrics("setup_s") = (setupSeconds, "s")
      metrics("ops_per_s") = (good.size / busy, "1/s")
      metrics("op_p50_s") = (if (lats.isEmpty) Double.NaN else Stats.median(lats), "s")
      metrics("op_tail_s") = (tail, "s")
      metrics("rows_per_s") = (good.map(_.inRows).sum / busy, "rows/s")
      metrics("ok_ratio") = ((results.size - failed).toDouble / results.size, "ratio")
      metrics("peak_rss_mb") = (Stats.peakRssMb(), "MB")
    } else {
      val tracedOps = tracedRs.toSeq
      val nOps = math.max(1, tracedOps.size).toDouble
      // id -1 holds the untraced executions' work (no span property)
      val cs = tr.countersBySpan.filter(_._1 >= 0)
      val timedSpans = tr.spans.filter(_.op >= 0)
      val total = new Counters
      timedSpans.foreach(s => cs.get(s.id).foreach(total.add))
      def spanSum(name: String): Double =
        timedSpans.filter(_.name == name).map(_.durNs / 1e9).sum
      def spanCounters(name: String): Counters = {
        val c = new Counters
        timedSpans.filter(_.name == name).foreach(s => cs.get(s.id).foreach(c.add))
        c
      }
      val opWall = lat(tracedOps).sum
      val slots = a.int("cpus").toDouble
      val outRows = tracedOps.map(_.outRows).sum.toDouble
      val build = spanCounters("operators.build")
      val fit = spanCounters("ml.fit")
      def memo(n: String): Double = memoSeconds.getOrElse(n, 0.0)
      val figures: Seq[(String, Double, String)] = Seq(
        ("sources.read_s", spanSum("sources.read") / nOps, "s"),
        ("sources.input_mb", total.inBytes / 1e6 / nOps, "MB"),
        ("operators.build_s", spanSum("operators.build") / nOps, "s"),
        ("operators.eager_jobs", build.jobs / nOps, "count"),
        ("memo.cluster_index_s", memo("cluster_index"), "s"),
        ("memo.md5_index_s", memo("md5_index"), "s"),
        ("memo.gate_models_s", memo("gate_models"), "s"),
        ("memo.recipe_s", memo("recipe"), "s"),
        ("memo.increment_s", memo("increment"), "s"),
        ("memo.cached_mb", cachedMb, "MB"),
        ("planning.analysis_s", total.analysisMs / 1e3 / nOps, "s"),
        ("planning.optimization_s", total.optimizationMs / 1e3 / nOps, "s"),
        ("planning.physical_s", total.planningMs / 1e3 / nOps, "s"),
        ("scheduler.jobs", total.jobs / nOps, "count"),
        ("scheduler.stages", total.stages / nOps, "count"),
        ("scheduler.tasks", total.tasks / nOps, "count"),
        ("scheduler.delay_s", total.delayMs / 1e3 / nOps, "s"),
        ("exec.task_run_s", total.runMs / 1e3 / nOps, "s"),
        ("exec.task_cpu_s", total.cpuNs / 1e9 / nOps, "s"),
        ("exec.task_gc_s", total.gcMs / 1e3 / nOps, "s"),
        ("exec.busy_ratio", total.runMs / 1e3 / (opWall * slots), "ratio"),
        ("exec.driver_gc_s", gcJvm / nOps, "s"),
        ("shuffle.write_mb", total.shWriteBytes / 1e6 / nOps, "MB"),
        ("shuffle.read_mb", total.shReadBytes / 1e6 / nOps, "MB"),
        ("shuffle.fetch_wait_s", total.fetchWaitMs / 1e3 / nOps, "s"),
        ("shuffle.spill_disk_mb", total.spillDiskBytes / 1e6 / nOps, "MB"),
        ("shuffle.records_per_output_row",
          if (outRows > 0) total.shWriteRecords / outRows else 0.0, "ratio"),
        ("ml.fit_s", spanSum("ml.fit") / nOps, "s"),
        ("ml.fit_jobs", fit.jobs / nOps, "count"),
        ("trace.overhead_s",
          if (pairs.nonEmpty) Stats.median(pairs.toSeq)
          else if (lat(tracedOps).isEmpty || lat(plain.toSeq).isEmpty) 0.0
          else Stats.median(lat(tracedOps)) - Stats.median(lat(plain.toSeq)),
          "s"))
      figures.foreach { case (n, v, u) => metrics(n) = (v, u) }
      // figures only a workload with a store has
      wl.layerFigures(spark).foreach { case (n, v) =>
        metrics(n) = (v,
          if (n.endsWith("_s")) "s" else if (n.endsWith("_mb")) "MB" else "ratio")
      }
      tr.write(runDir.resolve("spans.jsonl"))
      System.err.println(s"[perfbench] ${tr.spans.size} spans written; " +
        s"${tr.unmatched} planning records matched no span (executions without jobs)")
    }
    wl.finish(failed == 0)
    spark.stop()
    val m = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":${results.size},""" +
      s""""failed":$failed,"metrics":{$m}}""")
  }
}
