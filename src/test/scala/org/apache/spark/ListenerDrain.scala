package org.apache.spark

/** Blocks until every listener has seen every event posted so far
  * (`SparkContext.listenerBus` is `private[spark]`).
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
