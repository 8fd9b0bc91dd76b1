package org.apache.spark.graft

import org.apache.spark.{MapOutputTrackerMaster, ShuffleDependency, SparkContext}
import org.apache.spark.rdd.RDD

/** Listener-bus drain for tests that count jobs or task metrics: Spark
  * delivers listener events asynchronously, and the public API has no
  * way to wait until every event of a finished action has arrived. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Forgets every map output of the shuffles in `rdd`'s lineage, as the
    * loss of the executor that wrote them would: the next action that
    * reads them recomputes them. Returns the shuffle ids. */
  def dropShuffleOutputs(sc: SparkContext, rdd: RDD[_]): Seq[Int] = {
    def shuffles(r: RDD[_]): Seq[Int] = r.dependencies.flatMap {
      case s: ShuffleDependency[_, _, _] => s.shuffleId +: shuffles(s.rdd)
      case d => shuffles(d.rdd)
    }
    val ids = shuffles(rdd).distinct
    val tracker = sc.env.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
    ids.foreach(tracker.unregisterAllMapAndMergeOutput)
    ids
  }
}
