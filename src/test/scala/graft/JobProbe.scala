package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block starts on the calling thread, each with the
  * input bytes its tasks read. Jobs are told apart from other threads'
  * by a local property the block's jobs inherit. */
object JobProbe {
  final case class Job(id: Int, inputBytes: Long)

  private val Key = "graft.test.jobProbe"

  def apply[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new ConcurrentHashMap[Int, AtomicLong]()
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Key) == tag) {
          jobs.put(e.jobId, new AtomicLong())
          e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageJob.get(e.stageId)).foreach { j =>
          if (e.taskMetrics != null)
            jobs.get(j).addAndGet(e.taskMetrics.inputMetrics.bytesRead)
        }
    }
    val prev = sc.getLocalProperty(Key)
    sc.addSparkListener(listener)
    sc.setLocalProperty(Key, tag)
    try {
      val out = body
      org.apache.spark.graft.TestBus.drain(sc)
      (out, jobs.asScala.toSeq.sortBy(_._1).map { case (j, b) => Job(j, b.get) })
    } finally {
      sc.setLocalProperty(Key, prev)
      sc.removeSparkListener(listener)
    }
  }
}
