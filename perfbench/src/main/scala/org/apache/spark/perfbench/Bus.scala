package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus drain for the traced run. Spark delivers listener events
  * asynchronously; per-span counters are only complete once the bus has
  * delivered every event posted by the span's jobs, and the public API
  * has no way to wait for that. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
