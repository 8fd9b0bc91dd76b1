package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Durable per-round forensics for the bench/verify mains.
  *
  * The driver archives only the LAST ~2000 characters of a run's output —
  * the r7 per-rep GC lines proved the point by surviving for exactly one
  * (alphabetically last) query. Everything evidentiary therefore also goes
  * to a file under the repo root, named for the round and committed with
  * it, so spikes can be adjudicated from the record instead of re-run
  * folklore.
  */
object Forensics {

  /** Repo root, resolved explicitly instead of trusting the cwd: the
    * `GRAFT_REPO_ROOT` env var when set, else the nearest ancestor of the
    * cwd containing `build.sbt`. A main launched from a scratch directory
    * previously fell back to un-suffixed names in that directory and could
    * shadow (or, worse, overwrite) a prior round's committed artifact. */
  def repoRoot(): java.io.File = {
    val fromEnv = sys.env.get("GRAFT_REPO_ROOT")
      .map(new java.io.File(_)).filter(_.isDirectory)
    fromEnv.getOrElse {
      var cur = new java.io.File(".").getCanonicalFile
      while (cur != null && !new java.io.File(cur, "build.sbt").isFile)
        cur = cur.getParentFile
      if (cur != null) cur else new java.io.File(".").getCanonicalFile
    }
  }

  /** Current round number inferred from the driver's committed artifacts
    * in the repo root. The two artifact families are NOT interchangeable:
    * within one driver round the sequence is Verify → `CORRECTNESS_rN`
    * written → Bench → `BENCH_rN` written, so while Bench runs the
    * round-N correctness file already exists. The r8 driver bench took
    * "max over both + 1" and tee'd its forensics to r09 — one round ahead
    * of the BENCH_r08.json it was instrumenting. The round being run is
    * therefore max(maxBench + 1, maxCorrectness): the bench counter is
    * always one behind mid-round, the correctness counter catches up to N
    * only once round N itself is in flight. None when neither artifact
    * family is visible (fresh checkout). */
  def roundNumber(): Option[Int] = {
    val bench = "BENCH_r(\\d+)\\.json".r
    val corr = "CORRECTNESS_r(\\d+)\\.json".r
    val names = Option(repoRoot().listFiles())
      .map(_.toSeq.map(_.getName)).getOrElse(Seq.empty)
    def maxOf(pat: scala.util.matching.Regex): Option[Int] =
      names.flatMap(n => pat.findFirstMatchIn(n).map(_.group(1).toInt)).maxOption
    (maxOf(bench), maxOf(corr)) match {
      case (None, None) => None
      case (b, c) => Some(math.max(b.map(_ + 1).getOrElse(0), c.getOrElse(0)))
    }
  }

  /** Optional artifact tag (`GRAFT_RUN_TAG=local` → `…_r09_local.txt`):
    * builder-local runs tag themselves so they can never shadow or be
    * overwritten by the driver's canonical untagged artifact of the same
    * round — the r8 adjudication record nearly lost both ways. */
  private def runTag(): String =
    sys.env.get("GRAFT_RUN_TAG").filter(_.nonEmpty)
      .map("_" + _.replaceAll("[^A-Za-z0-9_-]", "")).getOrElse("")

  private def roundName(stem: String, ext: String): String = {
    val name = roundNumber()
      .map(n => f"${stem}_r$n%02d${runTag()}.$ext")
      .getOrElse(s"$stem${runTag()}.$ext")
    new java.io.File(repoRoot(), name).getPath
  }

  def benchFile(): String = roundName("BENCH_FORENSICS", "txt")
  def verifyTimingsFile(): String = roundName("VERIFY_TIMINGS", "json")

  /** Stderr + file tee. The file is truncated on open and every line is
    * flushed immediately, so a run killed mid-bench still leaves all
    * evidence gathered so far on disk. A file-open failure degrades to
    * stderr-only — forensics must never abort the measurement they
    * document. */
  final class Tee(path: Option[String]) {
    private val out: Option[java.io.PrintWriter] = path.flatMap { p =>
      try Some(new java.io.PrintWriter(new java.io.FileWriter(p, false), true))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[forensics] cannot open $p ($e); stderr only")
        None
      }
    }
    def log(s: String): Unit = { System.err.println(s); out.foreach(_.println(s)) }
    def close(): Unit = out.foreach(_.close())
  }

  /** One listener for every per-query layer counter, registered on the
    * SparkContext (jobs, stages, task metrics) and on the session's
    * listener manager (planning phases from each finished
    * `QueryExecution.tracker`). Task metrics are recorded by the executor
    * threads and are therefore IMMUNE to driver-side pauses: a query
    * whose wall time spikes while its task time stays flat was stalled by
    * the driver box (GC pause, CPU contention, scheduler starvation), not
    * by more cluster work — the distinction the r6/r7 spike post-mortems
    * could not make from medians alone. Counters only grow; a layer's
    * share of a region is the difference of two [[snapshot]]s taken
    * around it, each after [[drainListenerBus]]. See [[Snap]] for the
    * fields. */
  final class LayerListener extends SparkListener with QueryExecutionListener {
    private var total = Snap()
    private def add(d: Snap): Unit = synchronized { total = total + d }
    def snapshot(): Snap = synchronized(total)

    def attach(spark: SparkSession): this.type = {
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(this)
      this
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = add(Snap(jobs = 1))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      add(Snap(stages = 1))
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      val i = te.taskInfo
      if (m != null && i != null)
        add(Snap(runMs = m.executorRunTime, gcMs = m.jvmGCTime,
          schedMs = math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime),
          nTasks = 1, cpuNs = m.executorCpuTime,
          inputBytes = m.inputMetrics.bytesRead,
          shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
          shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
          spillBytes = m.diskBytesSpilled))
    }

    private def planned(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      add(Snap(analysisMs = ms(QueryPlanningTracker.ANALYSIS),
        optimizationMs = ms(QueryPlanningTracker.OPTIMIZATION),
        planningMs = ms(QueryPlanningTracker.PLANNING)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planned(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      planned(qe)
  }

  /** Cumulative layer counters.
    *  - `runMs`    Σ executorRunTime — the work the cluster actually did
    *  - `gcMs`     Σ jvmGCTime inside tasks
    *  - `schedMs`  Σ max(0, duration − run − deserialize − resultSer) —
    *               scheduler delay + queueing, the driver-congestion smell
    *  - `nTasks`   task count (plan-shape drift tripwire)
    *  - `cpuNs`, `inputBytes`, `shuffleWriteBytes`, `shuffleReadBytes`,
    *    `spillBytes` (to disk) — the rest of the task metrics
    *  - `jobs`, `stages` — submitted, skipped stages not counted
    *  - `analysisMs`, `optimizationMs`, `planningMs` — driver planning
    *    phases of every finished query execution
    * `toString` prints only the first four: Bench's per-rep lines carry
    * them in the form tools/scaling_report.py parses. */
  final case class Snap(runMs: Long = 0, gcMs: Long = 0, schedMs: Long = 0,
                        nTasks: Long = 0, cpuNs: Long = 0, inputBytes: Long = 0,
                        shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
                        spillBytes: Long = 0, jobs: Long = 0, stages: Long = 0,
                        analysisMs: Long = 0, optimizationMs: Long = 0,
                        planningMs: Long = 0) {
    private def zip(o: Snap)(f: (Long, Long) => Long): Snap =
      Snap(f(runMs, o.runMs), f(gcMs, o.gcMs), f(schedMs, o.schedMs),
        f(nTasks, o.nTasks), f(cpuNs, o.cpuNs), f(inputBytes, o.inputBytes),
        f(shuffleWriteBytes, o.shuffleWriteBytes),
        f(shuffleReadBytes, o.shuffleReadBytes), f(spillBytes, o.spillBytes),
        f(jobs, o.jobs), f(stages, o.stages), f(analysisMs, o.analysisMs),
        f(optimizationMs, o.optimizationMs), f(planningMs, o.planningMs))
    def +(o: Snap): Snap = zip(o)(_ + _)
    def -(o: Snap): Snap = zip(o)(_ - _)
    override def toString: String =
      s"task=${runMs}ms taskGc=${gcMs}ms sched=${schedMs}ms ntasks=$nTasks"
  }

  /** Cumulative stop-the-world collection time of the driver JVM across
    * all collectors: a per-rep delta separates "the query was slow" from
    * "a GC pause landed inside the rep", which medians alone cannot
    * distinguish (the r6 forensic gap: three unexplained driver spikes). */
  def gcMillis(): Long = {
    val it = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.iterator()
    var t = 0L
    while (it.hasNext) t += math.max(0L, it.next().getCollectionTime)
    t
  }

  /** Flush the async listener bus so a snapshot taken right after an
    * action sees every task of that action. `listenerBus`/`waitUntilEmpty`
    * are `private[spark]` — public at the bytecode level, so plain
    * reflection reaches them (same pattern as the checkpoint-block
    * handle). Falls back to a bounded settle-poll if the reflective path
    * ever breaks on a Spark upgrade: forensic precision degrades, the
    * bench never fails. */
  def drainListenerBus(spark: SparkSession, l: LayerListener): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case scala.util.control.NonFatal(_) =>
      var last = l.snapshot()
      var settled = 0
      var i = 0
      while (settled < 2 && i < 20) {
        Thread.sleep(25)
        val now = l.snapshot()
        if (now == last) settled += 1 else { settled = 0; last = now }
        i += 1
      }
    }
}
