package org.apache.spark

/** The listener bus's drain call is package-private; the benchmark needs it
  * so that per-operation counters are complete before they are read. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
