package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Full-evaluation bench consumption: the noop v2 sink materializes
    * EVERY output column of every row, writing nothing. The `count()` it
    * replaced (rounds 1-7) let Catalyst prune any work that doesn't
    * change cardinality — final projections, window columns, whole
    * map-only queries — so a projection-heavy query timed as a parquet
    * row-count: text_fingerprint benched 0.12 s at sf0.1 while the Verify
    * path (which writes the rows) measured 26 s of real work at a TENTH
    * the data. At 100 TB the map-side curation ops are the dominant cost;
    * a bench that optimizes them away grades the wrong engine. Pinned by
    * BenchConsumptionSpec (count leaves a projection unevaluated, this
    * doesn't); per-query `countwall=` continuity lines in the forensics
    * file keep r8 numbers attributable against r7's. */
  def evaluate(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The family prefixes the contingency alias rungs strip from query
    * keys. Mirrored by tools/scaling_report.py's key normalizer — change
    * one, change both. Longest-match order matters only where one prefix
    * contains another (none today). */
  val aliasPrefixes: Seq[String] = Seq("curation_", "pipeline_", "dedup_",
    "fuzzy_", "text_", "doc_", "ann_", "mm_", "ts_", "q_")

  /** Compact key aliases for the ladder's contingency rungs: each name's
    * family prefix is stripped ("ts_ewma" → "ewma"); a strip that would
    * collide keeps BOTH colliding names in full, so the map stays
    * lossless and deterministically invertible against the canonical
    * name set (which is how scaling_report.py decodes an aliased leg).
    * Only used when the full-name map no longer fits the driver window
    * — the 95th-gated-query contingency (r16 verdict #8) — so the
    * canonical keys every cross-round comparison reads survive on every
    * line that can afford them. */
  def aliasNames(names: Iterable[String]): Map[String, String] = {
    val stripped = names.map { n =>
      n -> aliasPrefixes.find(n.startsWith)
        .map(n.stripPrefix).getOrElse(n)
    }.toMap
    val collisions = stripped.values.groupBy(identity)
      .collect { case (s, g) if g.size > 1 => s }.toSet
    stripped.map { case (full, s) =>
      full -> (if (collisions.contains(s)) full else s) }
  }

  /** The one-line JSON the driver parses, with its degrade ladder:
    * centisecond per-query detail → decisecond (slow values cost
    * precision, not the map) → ALIASED map (prefix-stripped keys — the
    * map and the health block both survive past 94 full-name queries) →
    * full map without health → headline + failures + health → headline +
    * failures → headline + health → bare headline. The shed sequence,
    * stated to match the actual rung order (r17 ADVICE caught the old
    * comment contradicting rungs 3-4): keep HEALTH as long as ANY map
    * form fits beside it (full names preferred, then aliased; 2dp
    * preferred, then 1dp), only then drop health and retry the same
    * name/precision ladder (full 2dp/1dp, aliased 2dp/1dp — no decimal
    * place is lost that an aliased no-health rung could keep), and only
    * past every map rung fall to the headline rungs, where the
    * diagnostic failed list outranks health (a mass failure needs names
    * more than box stats — the forensics file carries both regardless).
    * The driver archives only ~2000 output chars and parses the LAST
    * line, so the chosen candidate must fit 1980 chars or the archiver
    * would cut off the head of the JSON. Factored out of main so the
    * budget is unit-testable against worst-case query maps
    * (LineBudgetSpec) instead of discovered in production the round it
    * overflows. */
  def formatLine(results: Map[String, Double], failed: List[String],
                 sfName: String, health: Option[String] = None): String = {
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // trailing zeros stripped ("0.50"->"0.5", "1.00"->"1") — still valid
    // JSON numbers, and the saved chars keep the 90-query map inside the
    // driver's archive window
    def fixed(v: Double, dp: Int): String = {
      val s = String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
      else s
    }
    lazy val aliases = aliasNames(results.keys)
    def qmap(dp: Int, aliased: Boolean = false): String = results.toSeq
      .map { case (k, v) => (if (aliased) aliases(k) else k) -> v }
      .sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + fixed(v, dp) }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ > 0).sum
    val failedJson =
      if (failed.isEmpty) ""
      else failed.sorted.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    // the box-health block (compact [load, mb/s, boot_s] — the full-name
    // 94-query line already sits at 1972/1980, so every byte counts)
    // rides the best rung that still fits it; past 94 queries the alias
    // rungs keep BOTH the map and health rather than shedding either
    val healthPart = health.map(h => s""","h":$h""").getOrElse("")
    def line(queries: String, failedPart: String, hp: String) =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$queries$failedPart$hp,"sf":"$sfName"}"""
    val candidates = Seq(
      line(qmap(2), failedJson, healthPart), line(qmap(1), failedJson, healthPart),
      line(qmap(2, aliased = true), failedJson, healthPart),
      line(qmap(1, aliased = true), failedJson, healthPart),
      line(qmap(2), failedJson, ""), line(qmap(1), failedJson, ""),
      line(qmap(2, aliased = true), failedJson, ""),
      line(qmap(1, aliased = true), failedJson, ""),
      line("{}", failedJson, healthPart), line("{}", failedJson, ""),
      line("{}", "", healthPart), line("{}", "", ""))
    candidates.find(_.length <= 1980).getOrElse(candidates.last)
  }

  /** Machine-checkable box health, measured at main entry BEFORE Spark
    * construction (r15 verdict #2). Two consecutive rounds of scale legs
    * ran on a host in a slow-page-supply state that inflated untouched
    * queries 3-20x at identical task counts; the evidence lived in prose
    * and ad-hoc shell probes. This puts it in the artifact:
    *   load    — 1-min system load average at launch (a leg chained
    *             behind other JVMs starts hot; r15's driver leg launched
    *             at 6.3 and read +25% across untouched ts_* queries)
    *   mbs     — fresh-page supply rate, MB/s: one 512 MB DIRECT buffer
    *             allocated + zeroed + touched per 4 KiB page, i.e. pages
    *             the kernel must hand over NOW, outside the (possibly
    *             pre-touched) heap. Healthy guest: multiple GB/s; the
    *             r15 sick box supplied ~240 MB/s aggregate and took
    *             5m30s wall / 122min SYS to pre-touch an 80 GB heap.
    *   boot_ms — JVM uptime when main was entered: under the pinned-heap
    *             leg protocol (-Xms=-Xmx -XX:+AlwaysPreTouch) this bills
    *             the full heap pre-touch, the exact probe the r15
    *             disclosure ran by hand.
    * scaling_report.py gates cross-leg comparisons on this block
    * (mbs >= 1000 and load <= 2.0) and labels the artifact loudly when
    * either leg fails. */
  def healthProbe(chunks: Int = 4, chunkMb: Int = 512): (Double, Double, Long) = {
    import java.lang.management.ManagementFactory
    val load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val bootMs = ManagementFactory.getRuntimeMXBean.getUptime
    // 2 GiB default (4 × 512 MB buffers; allocateDirect is int-bounded):
    // the r16 cliff measurement showed the host hands out the FIRST
    // ~1-2 GiB from a fast pool (~2 GB/s) and collapses to ~200 MB/s
    // steady-state when sick — a sub-GiB probe reads the pool, not the
    // supply rate the run will live on. 2 GiB blends past the pool: a
    // sick box reads ~100-400 MB/s, a healthy one multiple GB/s; costs
    // ~1 s healthy / ~10-20 s sick, once, before Spark exists. The size
    // params exist for the spec (shape test at 128 MB) — the gate's
    // calibration assumes the 2 GiB default.
    // direct-memory-budget guard: under a configured -XX:MaxDirectMemorySize
    // below the probe size, Bits.reserveMemory can throw OutOfMemoryError
    // before Spark even exists — the probe must degrade (report the rate
    // over however many chunks DID land, or a single smaller chunk), never
    // abort the leg it instruments. mbs <= 0 means "probe could not run";
    // main logs it and ships no health block rather than a fake one.
    val bytes = chunkMb * 1024 * 1024
    def touch(sz: Int): Boolean =
      try {
        val buf = java.nio.ByteBuffer.allocateDirect(sz)
        var i = 0
        while (i < sz) { buf.put(i, 1.toByte); i += 4096 }
        true
      } catch { case _: OutOfMemoryError => false }
    val t0 = System.nanoTime()
    var g = 0
    while (g < chunks && touch(bytes)) g += 1
    if (g > 0) {
      val sec = (System.nanoTime() - t0) / 1e9
      (load, g.toLong * chunkMb / sec, bootMs)
    } else {
      // not even one chunk fit the direct budget: one 64 MB attempt —
      // coarser (may read the host's fast pool, see above), but a biased
      // sample beats killing the bench
      val t1 = System.nanoTime()
      val ok = touch(64 * 1024 * 1024)
      val sec = (System.nanoTime() - t1) / 1e9
      (load, if (ok) 64.0 / sec else -1.0, bootMs)
    }
  }

  /** Compact health block for the driver line:
    * `[load, mbs, boot_s]` or `[load, mbs, boot_s, wave_reruns]` —
    * 1-min load average (1dp), fresh-page supply MB/s (int), JVM boot
    * time in whole seconds, and (only when non-zero) how many queries the
    * leg's wave re-run pass flagged and re-measured — the r20 verdict's
    * #4 item: a leg whose in-suite medians were hit by a host throttle
    * wave now SAYS SO in the one-line JSON, so a cross-round PERF
    * comparison can be annotated per leg instead of reading 63 false
    * regressions (the r20 failure mode). Thresholds, for the record:
    * healthy ≈ load ≤ 2.0 and mbs ≥ 1000 (scaling_report.py's gate);
    * wave_reruns > 0 means per-query medians may be wave-polluted — the
    * clean re-run medians are in the forensics file's wave_rerun lines.
    * The 4th element is omitted when zero so a clean leg's line budget is
    * unchanged (the full-name 94-query line sits within ~8 chars of the
    * 1980 budget). Array form, because named keys would push the
    * per-query map off the driver artifact (see formatLine's ladder).
    * Field order is part of the contract — scaling_report.py's fallback
    * parser and the LineBudgetSpec pins both read it positionally. */
  def healthJson(load: Double, mbs: Double, bootMs: Long,
                 waveReruns: Int = 0): String = {
    val l = String.format(java.util.Locale.ROOT, "%.1f", Double.box(load))
    val w = if (waveReruns > 0) s",$waveReruns" else ""
    s"""[$l,${mbs.round},${math.round(bootMs / 1000.0)}$w]"""
  }

  /** The driver line's health block: the probe's reading when it ran
    * (mbs > 0). When the probe failed, the block still rides the line if
    * the wave re-run pass fired, so a wave-polluted leg is always
    * annotated; its mbs then reads -1, which scaling_report.py's health
    * gate fails, as it should for an unmeasured box. */
  def healthBlock(load: Double, mbs: Double, bootMs: Long,
                  waveReruns: Int): Option[String] =
    if (mbs > 0 || waveReruns > 0) Some(healthJson(load, mbs, bootMs, waveReruns))
    else None

  def main(args: Array[String]): Unit = {
    val (hLoad, hMbs, hBoot) = healthProbe()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // belt-and-suspenders behind the operators' explicit unpersists: the
      // ContextCleaner only reclaims dropped checkpoint/cache blocks after
      // a JVM GC. The r6 bench set this to 1min and paid for it — the
      // scheduled System.gc() full collections could land INSIDE a timed
      // rep and bill a multi-second pause to whatever query was running
      // (the prime suspect for three 6-15× driver spikes on untouched
      // code). The bench now triggers an explicit System.gc() in the
      // untimed gap before every query's rep loop instead — reclamation
      // still happens deterministically within the session, just never
      // inside measured time — and the periodic interval is only a 10min
      // backstop for non-bench sessions of this builder. Must be set HERE:
      // the cleaner reads it at SparkContext construction, not SQLConf.
      .config("spark.cleaner.periodicGC.interval", "10min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Conf.applyTuned(spark)
    // every [bench] line goes to stderr AND the per-round forensics file —
    // the r7 lesson: the driver's ~2000-char archive window kept the
    // per-rep GC evidence for exactly one query, so the record, not the
    // instrument, was the gap
    val tee = new Forensics.Tee(Some(Forensics.benchFile()))
    val taskTimes = new Forensics.LayerListener().attach(spark)
    tee.log(s"[bench] start ${java.time.Instant.now()} sf=$sfDir cpus=$cpus " +
      s"cold=${SessionArtifacts.cold} " +
      s"reps_env=${sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "")}")
    if (hMbs > 0)
      tee.log(f"[bench] health load_avg=$hLoad%.2f " +
        s"pagetouch_mb_s=${hMbs.round} jvm_boot_ms=$hBoot")
    else
      tee.log(f"[bench] health probe DEGRADED (direct-memory budget too " +
        f"small even for one 64 MB chunk) load_avg=$hLoad%.2f " +
        s"jvm_boot_ms=$hBoot — no health block on the driver line")
    // warm the session (codegen, file-listing, shuffle infra) so the first
    // measured query isn't charged for startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // side-file fixtures (external RUL labels) are generated here, once,
    // so ts_rul_validation's timed reps are purely the read+join
    Fixtures.ensureRulLabels(spark, sfDir)
    val cold = SessionArtifacts.cold
    // The session artifacts (cluster index, md5-shingle index, gate
    // models, curation recipe and increment states) are built once and
    // shared by their queries, so those queries' timed reps measure the
    // memo read, not the build. Pay each build HERE, visibly, so the
    // amortized cost stays on the record (cold, the memo is bypassed and
    // every rep pays the true per-query cost instead — no pre-build).
    // NonFatal-guarded: a build regression must cost only its queries
    // their numbers (the per-query catches report them), not abort the
    // other ~87 before the warm pass even starts
    if (!cold) SparkEntry.sessionArtifacts.foreach { case (name, build) =>
      try {
        val t0 = System.nanoTime()
        build(spark, sfDir)
        tee.log(f"[bench] $name build ${(System.nanoTime() - t0) / 1e9}%.3f s")
      } catch { case scala.util.control.NonFatal(e) =>
        tee.log(s"[bench] $name build FAILED: $e")
      }
    }
    // steady-state measurement: one untimed pass over every query first, so
    // the timed pass reports throughput rather than one-off whole-stage
    // codegen (Janino) compile times — the cost a long-lived session or any
    // executor pays once. Disable with SPARK_GRAFT_COLD=1 to measure cold.
    // NonFatal only: an OOM/VM error must crash the bench, not be absorbed.
    // Warm-pass failures are named too — a query that fails only cold must
    // not silently report a flattered steady-state number.
    if (!cold)
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try evaluate(fn(spark, sfDir))
        catch { case scala.util.control.NonFatal(e) =>
          tee.log(s"[bench] warm pass $name FAILED: $e")
        }
      }
    // median-of-N timed passes (default 3) so one noisy run — GC pause, OS
    // page-cache eviction, driver-box contention — can't move a per-query
    // number 3× between rounds. SPARK_GRAFT_BENCH_REPS=1 restores the old
    // single-pass behavior.
    // malformed values degrade to the default instead of aborting the whole
    // bench with a NumberFormatException before any query runs
    val reps = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).getOrElse(3))
    val countwall = sys.env.get("SPARK_GRAFT_COUNTWALL").contains("1")
    var failed = List.empty[String]
    // per-query (gap-health sample, rep walls) kept for the wave re-run
    // pass below — the r16 manual per-query re-measurement, automated
    val traces = scala.collection.mutable.Map.empty[String, (Double, Seq[Double])]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // drain pending collections in the UNTIMED gap: the ContextCleaner
      // reclaims any checkpoint/cache blocks dropped by earlier queries
      // now, and the heap starts each query compacted — so a full GC can
      // never be billed to the rep that happened to be running when a
      // periodic timer fired (the r6 spike hypothesis)
      System.gc()
      // sample the host's page-supply rate in the same untimed gap: the
      // r16 clean-box re-leg found the slow-page-supply state strikes in
      // WAVES (identical task counts, task-CPU 6-10x for tens of seconds,
      // clean reps between — ts_logreg_embed reps 28.7/18.1/2.6 s in one
      // med-of-3), so a boot-time health block alone cannot attribute a
      // polluted median. 64 MB per gap (untimed): ~0.03 s healthy,
      // ~0.3-0.6 s during a throttle wave — the per-query trace lets the
      // scaling report separate "engine regressed" from "host wave hit
      // reps 1-2" mechanically.
      val (_, gapMbs, _) = healthProbe(chunks = 1, chunkMb = 64)
      tee.log(s"[bench] gap_health $name mbs=${gapMbs.round}")
      val repStats = (1 to reps).map { rep =>
        Forensics.drainListenerBus(spark, taskTimes)
        val task0 = taskTimes.snapshot()
        val gc0 = Forensics.gcMillis()
        val t0 = System.nanoTime()
        val ok =
          try { evaluate(fn(spark, sfDir)); true }
          catch { case scala.util.control.NonFatal(e) =>
            tee.log(s"[bench] $name FAILED: $e"); false
          }
        // wall stops HERE — the bus drain below is bookkeeping, not query
        val dt = (System.nanoTime() - t0) / 1e9
        val gcd = Forensics.gcMillis() - gc0
        Forensics.drainListenerBus(spark, taskTimes)
        val task = taskTimes.snapshot() - task0
        // per-rep forensics: wall + driver-GC landed inside the rep +
        // executor task time. wall↑ gc≈wall·1000 → driver collection
        // pause; wall↑ task↑ → the cluster genuinely did more work;
        // wall↑ gc≈0 task≈flat → box contention / scheduler stall.
        tee.log(f"[bench] $name rep$rep ${dt}%.3f s gc=${gcd} ms $task${if (ok) "" else " FAILED"}")
        (if (ok) dt else -dt, gcd, task)
      }
      val times = repStats.map(_._1)
      traces(name) = (gapMbs, times)
      // failures are recorded as negative so they can't pose as wall time;
      // any failing rep fails the query
      val v =
        if (times.exists(_ < 0)) { failed ::= name; -times.map(math.abs).max }
        else {
          val s = times.sorted
          if (reps % 2 == 1) s(reps / 2)
          else (s(reps / 2 - 1) + s(reps / 2)) / 2.0
        }
      // the compact per-query roll-up the verdict asked for: worst rep,
      // worst in-rep GC, median executor task time — greppable one-liners
      // true median for even rep counts too (index reps/2 would pick the
      // max of 2 reps and mislabel the worst rep as the median)
      val taskMed = {
        val s = repStats.map(_._3.runMs).sorted
        if (reps % 2 == 1) s(reps / 2) else (s(reps / 2 - 1) + s(reps / 2)) / 2
      }
      tee.log(f"[bench] $name summary med=${math.abs(v)}%.3f s " +
        f"max_rep=${times.map(math.abs).max}%.3f s " +
        f"gc_max=${repStats.map(_._2).max} ms " +
        f"task_med=$taskMed ms " +
        f"sched_max=${repStats.map(_._3.schedMs).max} ms")
      // r7→r8 continuity: one count()-consumed wall time per query, the
      // consumption every round before r8 used. It earned its keep for
      // exactly one transition (attributing the r8 noop-sink headline jump
      // back to r7's count() numbers) but costs a full extra bench pass
      // per round, so from r9 it's opt-in: SPARK_GRAFT_COUNTWALL=1.
      if (countwall) {
        val tc0 = System.nanoTime()
        val cOk = try { fn(spark, sfDir).count(); true }
                  catch { case scala.util.control.NonFatal(_) => false }
        tee.log(f"[bench] $name countwall=${(System.nanoTime() - tc0) / 1e9}%.3f s" +
          (if (cOk) "" else " FAILED"))
      }
      name -> v
    }.toMap
    // wave re-run automation (r16 verdict #3): the throttle waves this
    // host class suffers (tens-of-seconds windows, 6-10x task-CPU, 1-2
    // per leg) previously cost a manual re-measurement round-trip per
    // flagged block (r15 dedup block, r16 curation_recipe). Now: any
    // query whose untimed gap sample reads under a fifth of the leg's
    // median page-supply rate, or whose reps spread past 4x with >1 s of
    // absolute swing, is re-queued ONCE at leg end — far from the wave
    // by construction — and the clean-window median lands in forensics
    // as a [bench] wave_rerun line. The driver JSON keeps the in-suite
    // numbers (they are what actually happened); scaling_report.py
    // prefers the re-run when both are on record and the re-run's own
    // gap sample is clean. Failed queries are not waves; not re-run.
    var waveReruns = 0
    try {
      val gapVals = traces.values.map(_._1).toSeq.sorted
      val medGapAll =
        if (gapVals.isEmpty) -1.0 else gapVals(gapVals.size / 2)
      // degraded-probe guard (r17 ADVICE): under a tight
      // MaxDirectMemorySize every gap sample is -1, medGap is -1, and
      // `g < medGap / 5.0` (-1 < -0.2) would flag EVERY successful query
      // — up to 8 spurious re-runs at leg end. No probe, no wave pass.
      if (gapVals.nonEmpty && reps > 1 && medGapAll <= 0)
        tee.log("[bench] wave_rerun skipped: gap probe degraded " +
          s"(median gap sample $medGapAll) — no healthy baseline to flag against")
      if (gapVals.nonEmpty && reps > 1 && medGapAll > 0) {
        val medGap = medGapAll
        def spread(ts: Seq[Double]): Boolean =
          ts.size >= 2 && ts.max / math.max(ts.min, 1e-9) > 4.0 &&
            ts.max - ts.min > 1.0
        // dry-run knob: force-flag named queries so the re-run block and
        // scaling_report's preference can be exercised on a healthy box
        val forced = sys.env.get("SPARK_GRAFT_WAVE_RERUN_FORCE")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
          .getOrElse(Set.empty)
        val flagged = traces.toSeq.sortBy(_._1).collect {
          case (n, (g, ts)) if ts.forall(_ > 0) &&
            (g < medGap / 5.0 || spread(ts) || forced(n)) => (n, g, ts)
        }
        // bounded leg overhead: waves hit 1-2 blocks; a flood of flags
        // means the whole leg is sick and re-runs would measure the same
        // host. Never a silent cap — dropped names go on the record.
        val budgeted = flagged.take(8)
        if (flagged.size > budgeted.size)
          tee.log(s"[bench] wave_rerun capped at 8 of ${flagged.size} " +
            s"flagged; dropped: ${flagged.drop(8).map(_._1).mkString(",")}")
        budgeted.foreach { case (name, g, ts) =>
          System.gc()
          val (_, reGap, _) = healthProbe(chunks = 1, chunkMb = 64)
          val fn = SparkEntry.queries(name)
          val reTimes = (1 to reps).flatMap { _ =>
            val t0 = System.nanoTime()
            try { evaluate(fn(spark, sfDir))
              Some((System.nanoTime() - t0) / 1e9)
            } catch { case scala.util.control.NonFatal(e) =>
              tee.log(s"[bench] wave_rerun $name rep FAILED: $e"); None
            }
          }.sorted
          if (reTimes.nonEmpty) {
            waveReruns += 1
            val m =
              if (reTimes.size % 2 == 1) reTimes(reTimes.size / 2)
              else (reTimes(reTimes.size / 2 - 1) + reTimes(reTimes.size / 2)) / 2.0
            tee.log(f"[bench] wave_rerun $name med=$m%.3f s " +
              s"gap_mbs=${reGap.round} (flagged: gap=${g.round} " +
              s"reps=${ts.map(t => f"$t%.2f").mkString("/")})")
          }
        }
      }
    } catch { case scala.util.control.NonFatal(e) =>
      tee.log(s"[bench] wave_rerun pass FAILED: $e")
    }
    val sfName = new java.io.File(sfDir).getName
    val out = formatLine(results, failed, sfName,
      healthBlock(hLoad, hMbs, hBoot, waveReruns))
    tee.log(s"[bench] done ${java.time.Instant.now()} total=${results.values.filter(_ > 0).sum}")
    tee.close()
    println(out)
    spark.stop()
  }
}
