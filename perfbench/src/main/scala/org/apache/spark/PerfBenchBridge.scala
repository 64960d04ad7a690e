package org.apache.spark

/** Waits until every event posted so far has reached the registered
  * listeners, so listener counters read after a call include it. */
object PerfBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
