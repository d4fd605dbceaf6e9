package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced pass reads complete counts (the bus is asynchronous and its drain
  * call is package-private).
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
