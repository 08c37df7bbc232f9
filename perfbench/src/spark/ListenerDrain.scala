package org.apache.spark

/** The listener bus delivers task metrics asynchronously; the traced run
  * drains it before reading its per-phase counters.
  */
object PerfbenchListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
