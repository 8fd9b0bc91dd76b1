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

  /** Median-of-3 wall time for the forensics side-lines (minhash premium,
    * lib additions, asof_native) — one timing protocol for all of them. */
  private def med(f: () => Unit): Double = {
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(1)
  }

  /** med(), unless rep1 alone blows `budgetSecs` — then report rep1 and
    * say so in the returned label. For side-lines that are batch jobs at
    * big SF (the sf10 fuzzy join runs ~17 min/rep): the r12 probe paid
    * 3 × 1042 s to land the canonical med-of-3 artifact; re-paying 51
    * minutes every leg for a number already on the record is not
    * measurement, it's ritual. Small-SF legs still get the full
    * median protocol (rep1 under budget → two more reps as usual). */
  private def medOrRep1(f: () => Unit, budgetSecs: Double): (Double, String) = {
    val t0 = System.nanoTime(); f()
    val r1 = (System.nanoTime() - t0) / 1e9
    if (r1 > budgetSecs) (r1, f"rep1, over ${budgetSecs}%.0f s budget")
    else {
      val ts = (Seq(r1) ++ (1 to 2).map { _ =>
        val t = System.nanoTime(); f(); (System.nanoTime() - t) / 1e9
      }).sorted
      (ts(1), "med of 3")
    }
  }

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
    val taskTimes = new Forensics.TaskTimeListener
    spark.sparkContext.addSparkListener(taskTimes)
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
    // cumulative stop-the-world collection time across all collectors —
    // the per-rep delta separates "the query was slow" from "a GC pause
    // landed inside the rep", which medians alone cannot distinguish
    // (the r6 forensic gap: three unexplained driver spikes)
    def gcMillis(): Long = {
      val it = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.iterator()
      var t = 0L
      while (it.hasNext) t += math.max(0L, it.next().getCollectionTime)
      t
    }
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
    // pass below — the r16 manual ProfileQuery A/B round-trip, automated
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
        val gc0 = gcMillis()
        val t0 = System.nanoTime()
        val ok =
          try { evaluate(fn(spark, sfDir)); true }
          catch { case scala.util.control.NonFatal(e) =>
            tee.log(s"[bench] $name FAILED: $e"); false
          }
        // wall stops HERE — the bus drain below is bookkeeping, not query
        val dt = (System.nanoTime() - t0) / 1e9
        val gcd = gcMillis() - gc0
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
    // per leg) previously cost a manual ProfileQuery round-trip per
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
    // forensics-only (r9 verdict #4): the gated dedup_minhash surface pays
    // an md5 premium — the md5 hash family exists solely so DuckDB can
    // replay every hash; the LIB DEFAULT stays xxhash64 (~2-3× cheaper per
    // shingle). Record both pair-generation paths side by side each run so
    // the oracle-replay premium can never be mistaken for engine cost.
    try {
      val docs = graft.Tables.documents(spark, sfDir)
      val prod = med(() => evaluate(
        graft.operators.Dedup.minhashPairs(docs, "text")))
      val md5 = med(() => evaluate(
        graft.operators.Dedup.minhashPairsMd5(docs, "text")))
      tee.log(f"[bench] minhash_premium production_xxhash64=$prod%.3f s " +
        f"gated_md5=$md5%.3f s premium=${md5 - prod}%.3f s (med of 3; " +
        "oracle-replayability cost, not engine cost)")
    } catch { case scala.util.control.NonFatal(e) =>
      tee.log(s"[bench] minhash_premium FAILED: $e")
    }
    // forensics-only (r15): same oracle-replay-premium split for the
    // exact keep-first window — the r14 verdict's worst sf10 ratio
    // (29×, CPU-bound) — md5-of-full-text (gated flavor) vs the
    // codegen'd xxhash64 production twin over the SAME window exchange,
    // so the delta isolates the hash cost from the exchange cost.
    try {
      val docs = graft.Tables.documents(spark, sfDir)
      val prod = med(() => evaluate(
        graft.operators.Dedup.exactKeepFirstHashed(docs, "text")))
      val md5T = med(() => evaluate(
        graft.operators.Dedup.exactKeepFirst(docs, "text")))
      tee.log(f"[bench] exact_keepfirst_premium production_xxhash64=$prod%.3f s " +
        f"gated_md5=$md5T%.3f s premium=${md5T - prod}%.3f s (med of 3; " +
        "oracle-replayability cost, not engine cost)")
    } catch { case scala.util.control.NonFatal(e) =>
      tee.log(s"[bench] exact_keepfirst_premium FAILED: $e")
    }
    // forensics-only (r10): measured numbers for the lib-level additions
    // that have no gated slot — the one-pass profiler over the events
    // table, the theta distinct sketch, and the KLL-rank per-row
    // percentile scoring pass — so the claims in SURVEY carry wall times
    // at bench scale, not just spec assertions at sf0.001.
    try {
      val ev = graft.Tables.events(spark, sfDir)
      val profT = med(() => evaluate(graft.operators.Profile.profile(ev)))
      val thetaT = med(() => {
        ev.agg(graft.functions.Theta.sketch(
          org.apache.spark.sql.functions.col("user_id"), 4096)).head
        ()
      })
      val pctT = med(() => evaluate(
        graft.operators.Profile.percentileScore(ev, "value")))
      tee.log(f"[bench] lib_additions profile=$profT%.3f s " +
        f"theta_sketch_k4096=$thetaT%.3f s percentile_score=$pctT%.3f s " +
        "(med of 3, events table)")
    } catch { case scala.util.control.NonFatal(e) =>
      tee.log(s"[bench] lib_additions FAILED: $e")
    }
    // forensics-only (r10, second wave): the post-probe additions —
    // interval-overlap join (per-user-hour activity spans × the 200
    // maintenance windows), the file-stats manifest build over the
    // events parquet directory (the real per-file aggregation a 100 TB
    // manifest pays at ingest), and the k=64 mergeable reservoir sample.
    try {
      import org.apache.spark.sql.functions.{col, floor => ffloor, max => fmax, min => fmin, unix_micros}
      val ev = graft.Tables.events(spark, sfDir)
      val spans = ev.withColumn("us", unix_micros(col("ts")))
        .groupBy(col("user_id"), ffloor(col("us") / 3600000000L).as("hr"))
        .agg(fmin(col("us")).as("u_s"), fmax(col("us")).as("u_e"))
      val iv = graft.operators.RangeJoin.intervals(spark)
        .withColumnRenamed("start_us", "m_s").withColumnRenamed("end_us", "m_e")
      val ivT = med(() => evaluate(graft.operators.RangeJoin.intervalJoin(
        spans, "u_s", "u_e", iv, "m_s", "m_e", bucketUs = 24L * 3600000000L)))
      val manT = med(() => evaluate(graft.sources.Manifest.build(
        spark, s"$sfDir/events.parquet", Seq("user_id", "value"))))
      val resT = med(() => {
        ev.agg(graft.functions.Reservoir.sample(col("user_id"), 64)).head
        ()
      })
      tee.log(f"[bench] lib_additions2 interval_join=$ivT%.3f s " +
        f"manifest_build=$manT%.3f s reservoir_k64=$resT%.3f s " +
        "(med of 3, events table)")
    } catch { case scala.util.control.NonFatal(e) =>
      tee.log(s"[bench] lib_additions2 FAILED: $e")
    }
    // forensics-only (r10, third wave): substring-span dedup over the
    // documents table — the two gram-keyed exchanges (O(tokens) ~20-byte
    // rows each) make it the heaviest lib addition, so its wall time
    // belongs on the record next to the dedup family it extends.
    try {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"), col("lang"))
      val spanT = med(() => evaluate(
        graft.operators.Dedup.duplicatedSpans(docs, "doc_id", "text", n = 20)))
      val nbT = med(() => {
        val m = graft.ml.NaiveBayes.fit(docs, "text", "lang", vocabSize = 2048)
        evaluate(graft.ml.NaiveBayes.predict(docs, "doc_id", "text", m))
      })
      tee.log(f"[bench] lib_additions3 substring_spans=$spanT%.3f s " +
        f"nb_fit_predict=$nbT%.3f s (med of 3, documents table, n=20)")
    } catch { case scala.util.control.NonFatal(e) =>
      tee.log(s"[bench] lib_additions3 FAILED: $e")
    }
    // forensics-only (r11, fourth wave): the round's curation additions —
    // Stupid Backoff LM fit + full-corpus scoring over documents (the
    // perplexity-filter path), the Levenshtein fuzzy self-join over
    // customer names (a worst-case-friendly domain: every name shares the
    // "Customer#" prefix, so only the prefix-filter's rare-gram blocking
    // keeps candidates near the ~260k true pairs; part names are
    // DEGENERATE here — 64 distinct values ×300 copies make the true
    // answer itself ~4M pairs), PCA fit + projection over the embeddings
    // table, and the deflate compression-ratio scan.
    try {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(spark, sfDir)
      val lmT = med(() => {
        val m = graft.ml.NgramLm.fit(docs, "text", maxUnigrams = 4096,
          maxBigrams = 8192, maxTrigrams = 8192)
        evaluate(graft.ml.NgramLm.score(docs, "doc_id", "text", m))
      })
      // the fuzzy input derives the name from the DISTINCT key, not from
      // c_name: GenScale replicates c_name verbatim (100 copies per name
      // at sf10), which inflates the TRUE pair count quadratically — a
      // generator artifact that measures nothing (the r10 GenScale
      // lesson). The key-derived domain grows linearly with scale.
      val cust = graft.Tables.customerKernel(spark, sfDir)
        .select(col("c_custkey").as("id"),
          org.apache.spark.sql.functions.format_string(
            "Customer#%09d", col("c_custkey")).as("s"))
      // SPARK_GRAFT_FUZZY_BUDGET raises the rep1 budget when a leg
      // deliberately pays for the canonical med-of-3 protocol (r13
      // verdict: a matching protocol beats a labeled mismatch) — the
      // default keeps the ~3-17 min/rep sf10 join from tripling every
      // routine leg
      val fuzzyBudget = sys.env.get("SPARK_GRAFT_FUZZY_BUDGET")
        .flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
        .getOrElse(120.0)
      // RETIRED from every-leg execution (r18 verdict #4, decided r19):
      // the five-round fuzzy_pairs_cname question is CLOSED — q = 3
      // adopted for this domain by measurement (829.0 s q=2 r17 leg ->
      // 171.8 s q=3 r18 committed leg at the 1.5M-name sf10 domain,
      // pair parity spec-pinned for q in {2,3}), and re-paying ~172 s
      // per sf10 leg measures nothing new. The side-line now runs only
      // when SPARK_GRAFT_FUZZY_SENTINEL is set (the every-N-rounds
      // sentinel / on-demand mode; ProfileFuzzy remains the deep-dive
      // tool); the skip is printed so the leg's record states the
      // decision rather than silently omitting the line.
      val fuzzySentinel = sys.env.contains("SPARK_GRAFT_FUZZY_SENTINEL")
      val (fzT, fzProto) =
        if (fuzzySentinel)
          medOrRep1(() => evaluate(
            graft.operators.FuzzyJoin.fuzzyPairs(cust, "id", "s",
              maxDist = 1, q = 3)),
            budgetSecs = fuzzyBudget)
        else (-1.0, "RETIRED r19 (q=3 adopted r18; " +
          "set SPARK_GRAFT_FUZZY_SENTINEL to re-measure)")
      val emb = graft.Tables.embeddings(spark, sfDir)
      val pcaT = med(() => {
        val m = graft.ml.Pca.fit(emb, "embedding", k = 8)
        evaluate(graft.ml.Pca.project(emb, "embedding", m))
      })
      val crT = med(() => evaluate(
        graft.operators.TextOps.compressionRatio(docs)))
      val bpeT = med(() => {
        val (bm, _) = graft.ml.Bpe.fit(docs, "text", numMerges = 200)
        evaluate(graft.ml.Bpe.tokenCount(docs, "text", bm))
      })
      val fzLine = if (fzT >= 0) f"fuzzy_pairs_cname=$fzT%.3f s (q=3) "
                   else "fuzzy_pairs_cname=SKIPPED "
      tee.log(f"[bench] lib_additions4 ngram_lm_fit_score=$lmT%.3f s " +
        fzLine +
        f"pca_fit_project=$pcaT%.3f s " +
        f"compress_ratio=$crT%.3f s bpe_fit200_count=$bpeT%.3f s " +
        s"(med of 3; fuzzy: $fzProto)")
    } catch { case scala.util.control.NonFatal(e) =>
      tee.log(s"[bench] lib_additions4 FAILED: $e")
    }
    // forensics-only (r12, fifth wave): the map-side LM scorer vs the
    // broadcast-join form (same rows bit-for-bit, two plan shapes), the
    // pairwise span-attribution join, the PCA reconstruction-error and
    // whitened-projection kernels, and BPE at realistic merge scale. The
    // corpus fit EXHAUSTS its pair diversity early (tiny synthetic
    // vocabulary — the learned count on the line says so honestly), so
    // the driver-loop complexity claim is exercised on a seeded 64k-type
    // Zipf word table fed straight to learnMerges: rep1, driver-only
    // seconds, no Spark in the measured region.
    try {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(spark, sfDir)
      val lm12 = graft.ml.NgramLm.fit(docs, "text", maxUnigrams = 4096,
        maxBigrams = 8192, maxTrigrams = 8192)
      val lmJoinT = med(() => evaluate(
        graft.ml.NgramLm.score(docs, "doc_id", "text", lm12)))
      val lmMapT = med(() => evaluate(
        graft.ml.NgramLm.scoreMapSide(docs, "text", lm12)))
      val spanT = med(() => evaluate(graft.operators.Dedup.sharedSpanPairs(
        docs, "doc_id", "text", n = 15, maxDf = 50)))
      val emb = graft.Tables.embeddings(spark, sfDir)
      val pca12 = graft.ml.Pca.fit(emb, "embedding", k = 8)
      val recT = med(() => evaluate(
        graft.ml.Pca.reconstructionError(emb, "embedding", pca12)))
      val whiteT = med(() => evaluate(
        graft.ml.Pca.projectWhitened(emb, "embedding", pca12)))
      tee.log(f"[bench] lib_additions5 lm_score_join=$lmJoinT%.3f s " +
        f"lm_score_mapside=$lmMapT%.3f s shared_span_pairs=$spanT%.3f s " +
        f"pca_rec_err=$recT%.3f s pca_whitened=$whiteT%.3f s (med of 3)")
      val t32a = System.nanoTime()
      val (bm32, _) = graft.ml.Bpe.fit(docs, "text", numMerges = 32768)
      val fit32 = (System.nanoTime() - t32a) / 1e9
      val rnd = new scala.util.Random(7L)
      val wc = Array.tabulate(1 << 16) { i =>
        val len = 3 + rnd.nextInt(12)
        val w = (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
        (w, math.max(1L, (100000.0 / (i + 1)).toLong))
      }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toArray
      val t32b = System.nanoTime()
      val loop32 = graft.ml.Bpe.learnMerges(wc, numMerges = 32768)
      val drv32 = (System.nanoTime() - t32b) / 1e9
      tee.log(f"[bench] bpe_fit32k corpus_fit=$fit32%.3f s " +
        f"corpus_learned=${bm32.merges.length} " +
        f"driver_loop_64k_types=$drv32%.3f s " +
        f"driver_learned=${loop32.length} (rep1)")
    } catch { case scala.util.control.NonFatal(e) =>
      tee.log(s"[bench] lib_additions5 FAILED: $e")
    }
    // forensics-only (r10): the native as-of operator (plans.AsofJoin,
    // declared-requirements merge) against the oracle-gated union+window
    // formulation it shadows — same inputs, same result (AsofPlanSpec
    // pins equality), two plans. The gated ts_asof_join slot stays on the
    // composed path (its DuckDB oracle mirrors that construction); this
    // line keeps the native operator's claimed advantage measured.
    try {
      import org.apache.spark.sql.functions.{col, unix_micros}
      val d = graft.Tables.events(spark, sfDir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .select("user_id", "ts_us", "event_id", "event_type", "value")
      val p = d.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("value").as("pv"))
      val composed = med(() => evaluate(
        graft.operators.TimeSeriesOps.asofJoin(d, p, "user_id", "ts_us",
          "pv", tieCols = Seq("event_id"))))
      val native = med(() => evaluate(
        graft.plans.AsofJoin(d, p, "user_id", "ts_us", "pv",
          rightTieCols = Seq("event_id"))))
      tee.log(f"[bench] asof_native union_window=$composed%.3f s " +
        f"native_merge=$native%.3f s (med of 3, events-join-purchases)")
    } catch { case scala.util.control.NonFatal(e) =>
      tee.log(s"[bench] asof_native FAILED: $e")
    }
    // forensics-only (r13, sixth wave): the sampled mega-df span
    // attribution next to the base operator's line (same n/maxDf, so the
    // delta IS the sampling path's cost), and the end-to-end curation
    // recipe (exact -> near -> substring-cut -> composed gate) with the
    // models prefit outside the timer — they are inputs, not work. The
    // recipe is a batch job at big SF (it contains the LSH label
    // fixpoint), so it gets the medOrRep1 budget protocol; the handle is
    // closed per rep so the persisted stages never accumulate across
    // reps.
    try {
      import org.apache.spark.sql.functions.col
      val docs = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      val sampT = med(() => evaluate(
        graft.operators.Dedup.sharedSpanPairsSampled(
          docs, "doc_id", "text", n = 15, maxDf = 50, sampleDocs = 8)))
      val lm13 = graft.ml.NgramLm.fit(docs, "text", maxUnigrams = 4096,
        maxBigrams = 8192, maxTrigrams = 8192)
      val (bpe13, _) = graft.ml.Bpe.fit(docs, "text", numMerges = 50)
      val (curT, curProto) = medOrRep1(() => {
        val (cur, h) = graft.operators.Curation.curateCorpus(
          docs, "doc_id", "text", lm13, maxPpl = 1e6, bpe13,
          nearThreshold = 0.8, spanN = 15, minKeptRatio = 0.1)
        try evaluate(cur) finally h.close()
      }, budgetSecs = 600)
      // daily-increment form: every 10th doc plays the arriving batch,
      // the rest the existing corpus; yesterday's index (the old-corpus
      // fixpoint) is an INPUT, prefit outside the timer like the models
      val batch13 = docs.filter(col("doc_id") % 10 === 0)
      val old13 = docs.filter(col("doc_id") % 10 =!= 0)
      val lvl13 = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val oldLabels13 = graft.operators.Dedup
        .dedupClusters(old13, threshold = 0.8)
        .select(col("doc_id"), col("cluster_id")).persist(lvl13)
      oldLabels13.count()
      // yesterday's gram index is an input too — prefit like the labels
      val gramIx13 = graft.operators.Dedup.gramIndex(old13, "text", n = 15)
        .persist(lvl13)
      gramIx13.count()
      val incT = med(() => {
        val (inc, h) = graft.operators.Curation.curateIncrement(
          batch13, "doc_id", "text", old13, oldLabels13, lm13,
          maxPpl = 1e6, bpe13, nearThreshold = 0.8, md5Family = true,
          spanIndex = Some(gramIx13), spanN = 15, minKeptRatio = 0.1)
        try evaluate(inc) finally h.close()
      })
      oldLabels13.unpersist(blocking = false)
      gramIx13.unpersist(blocking = false)
      tee.log(f"[bench] lib_additions6 span_pairs_sampled=$sampT%.3f s " +
        f"curate_corpus=$curT%.3f s curate_increment=$incT%.3f s " +
        s"(med of 3; curate: $curProto)")
    } catch { case scala.util.control.NonFatal(e) =>
      tee.log(s"[bench] lib_additions6 FAILED: $e")
    }
    // seventh-wave lib additions (r16): the daily-verdict STORAGE pair at
    // bench scale — sources.IncrementStore writes day 1 (clustered +
    // manifest in one consistent pair), appends day 2 (manifest brought
    // forward scanning only the new files), then the day-2 pruned read is
    // priced against the full-scan filter it row-equals. Writes are
    // once-per-leg by nature (an append is not idempotent — med-of-3
    // would write three days), reads get the usual median protocol.
    try {
      import org.apache.spark.sql.functions.{col, lit, max, when, percentile_approx}
      val dir = java.nio.file.Files.createTempDirectory("bench_store").toString
      val store = graft.sources.IncrementStore(
        s"$dir/verdicts", s"$dir/manifest", filesPerIncrement = 8)
      val vdocs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"),
          col("doc_id").as("cluster_id"),
          when(col("doc_id") % 10 === 0, "high_perplexity")
            .otherwise(lit(null)).cast("string").as("curation_reject"))
      val mid = vdocs.agg(
        percentile_approx(col("doc_id"), lit(0.5), lit(100)))
        .head.getLong(0)
      val hi = vdocs.agg(max(col("doc_id"))).head.getLong(0)
      def t(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val w1 = t(store.writeIncrement(vdocs.filter(col("doc_id") < mid)))
      val w2 = t(store.writeIncrement(vdocs.filter(col("doc_id") >= mid)))
      val nFiles = store.manifest(spark).count()
      val surv = graft.sources.Manifest.prune(store.manifest(spark),
        Map("doc_id" -> (mid: Any, hi: Any))).length
      val rp = med(() => evaluate(
        store.readRange(spark, Map("doc_id" -> (mid: Any, hi: Any)))))
      val rf = med(() => evaluate(
        spark.read.parquet(s"$dir/verdicts")
          .filter(col("doc_id") >= mid && col("doc_id") <= hi)))
      // r17: price the two store maintenance jobs on the same table —
      // a ~0.1% band erasure (dirty-proportional rewrite + manifest
      // forward) and the full compaction (O(table) by design). Both are
      // state-changing, so rep1 like the writes.
      val delKeys = (0 until 64).map(i => (mid + i): Any)
      var delStats: graft.sources.Layout.DeleteStats = null
      val dT = t { delStats = store.deleteRows(spark, "doc_id", delKeys) }
      val cT = t { store.compact(spark, targetFileBytes = 256L << 20) }
      tee.log(f"[bench] lib_additions7 store_day1_write=$w1%.3f s " +
        f"store_day2_append=$w2%.3f s read_pruned=$rp%.3f s " +
        f"read_full=$rf%.3f s files=$surv/$nFiles " +
        f"delete=$dT%.3f s (${delStats.rowsDeleted} rows, " +
        f"${delStats.filesRewritten}/${delStats.filesTotal} files) " +
        f"compact=$cT%.3f s (writes/maintenance rep1, reads med of 3)")
    } catch { case scala.util.control.NonFatal(e) =>
      tee.log(s"[bench] lib_additions7 FAILED: $e")
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
