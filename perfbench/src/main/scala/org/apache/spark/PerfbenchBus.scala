package org.apache.spark

/** The listener bus is private to Spark; the benchmark's traced run must
  * drain it before it reads what its listeners collected. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
