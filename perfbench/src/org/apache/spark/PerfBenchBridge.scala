package org.apache.spark

/** Listener-bus access for the benchmark: Spark delivers listener events
  * asynchronously, so counters read right after an action can miss its
  * last tasks. `drain` blocks until every posted event has been handled.
  */
object PerfBenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
