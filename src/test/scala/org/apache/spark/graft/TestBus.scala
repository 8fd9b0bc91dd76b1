package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener-bus drain for tests that count jobs or task metrics: Spark
  * delivers listener events asynchronously, and the public API has no
  * way to wait until every event of a finished action has arrived. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
