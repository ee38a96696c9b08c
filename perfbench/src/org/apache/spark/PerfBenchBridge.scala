package org.apache.spark

/** Reaches the one `private[spark]` handle the benchmark needs: draining the
  * listener bus, so per-query task counts are complete before they are read.
  */
object PerfBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
