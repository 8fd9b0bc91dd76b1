package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

/** What one span accumulates from Spark's listener events. Times in ms
  * unless named otherwise. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, delayMs = 0L
  var inBytes = 0L
  var shWriteBytes, shWriteRecords, shReadBytes, fetchWaitMs = 0L
  var spillDiskBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; delayMs += o.delayMs
    inBytes += o.inBytes
    shWriteBytes += o.shWriteBytes; shWriteRecords += o.shWriteRecords
    shReadBytes += o.shReadBytes; fetchWaitMs += o.fetchWaitMs
    spillDiskBytes += o.spillDiskBytes
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
  }
}

/** One call into a layer: `name` is `<layer>.<what>`. */
final case class Span(id: Int, name: String, detail: String, parent: Int,
                      op: Int, start: Long) {
  var end: Long = start
  var childNs: Long = 0L
  def durNs: Long = end - start
  /** Duration minus the part covered by child spans (children of one
    * span run one after another on the client thread, so they never
    * overlap). */
  def selfNs: Long = durNs - childNs
}

/** Span recorder plus the Spark listeners that attribute jobs, stages,
  * tasks and planning phases to the innermost open span. The span id
  * travels to the scheduler as a local property of the client thread.
  * Spans stay in memory; [[write]] puts them on disk at the end. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  /** Off: [[span]] only runs its body (the untraced run). */
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var op: Int = -1

  private val counters = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val execSpan = mutable.Map.empty[Long, Int]
  private var unmatchedPlans = 0

  private def at(span: Int): Counters =
    counters.getOrElseUpdate(span, new Counters)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Key))).map(_.toInt)
      .getOrElse(-1)

  def span[T](name: String, detail: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, detail, parent.map(_.id).getOrElse(-1),
        op, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Key, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        parent.foreach(_.childNs += s.durNs)
        sc.setLocalProperty(Key, parent.map(_.id.toString).orNull)
      }
    }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized_ {
      val s = spanOf(e.properties)
      e.stageIds.foreach(stageSpan(_) = s)
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.getOrElseUpdate(x.toLong, s))
      at(s).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized_ {
        val s = Option(e.properties).map(spanOf)
          .getOrElse(stageSpan.getOrElse(e.stageInfo.stageId, -1))
        stageSpan(e.stageInfo.stageId) = s
        at(s).stages += 1
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => synchronized_ {
        pendingPlan.foreach { case (a, o, p) =>
          val c = at(execSpan.getOrElse(end.executionId,
            { unmatchedPlans += 1; -1 }))
          c.analysisMs += a; c.optimizationMs += o; c.planningMs += p
        }
        pendingPlan = None
      }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized_ {
      val c = at(stageSpan.getOrElse(e.stageId, -1))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.inBytes += m.inputMetrics.bytesRead
        c.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillDiskBytes += m.diskBytesSpilled
      }
    }
  }

  // Planning phases arrive through a QueryExecutionListener, whose
  // QueryExecution carries no execution id. The session's listener bus
  // calls it while delivering SparkListenerSQLExecutionEnd, before
  // `sparkListener` (registered later) sees the same event, so the
  // phases wait here until onOtherEvent names the execution.
  private var pendingPlan: Option[(Long, Long, Long)] = None

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = synchronized_ {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      pendingPlan = Some((ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def synchronized_[T](f: => T): T = this.synchronized(f)

  def attach(spark: SparkSession): Unit = {
    enabled = true
    org.apache.spark.perfbench.Bus.drain(sc)
    spark.listenerManager.register(planListener)
    sc.addSparkListener(sparkListener)
  }

  /** Waits until every posted listener event is delivered. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Counters per span id (-1: work no span owned). Call after [[drain]]. */
  def countersBySpan: Map[Int, Counters] = synchronized_(counters.toMap)

  def unmatched: Int = synchronized_(unmatchedPlans)

  /** One JSON object per span, one per line. */
  def write(path: java.nio.file.Path): Unit = {
    val cs = countersBySpan
    val lines = spans.map { s =>
      val c = cs.getOrElse(s.id, new Counters)
      f"""{"id":${s.id},"name":"${s.name}","detail":"${Json.esc(s.detail)}",""" +
        f""""parent":${s.parent},"op":${s.op},"start_ns":${s.start},""" +
        f""""end_ns":${s.end},"self_s":${s.selfNs / 1e9}%.6f,""" +
        f""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        f""""task_run_s":${c.runMs / 1e3}%.3f,"task_cpu_s":${c.cpuNs / 1e9}%.3f,""" +
        f""""shuffle_write_mb":${c.shWriteBytes / 1e6}%.3f,""" +
        f""""planning_s":${(c.analysisMs + c.optimizationMs + c.planningMs) / 1e3}%.3f}"""
    }
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Key = "perfbench.span"
}
