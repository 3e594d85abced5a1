package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits for it to
  * drain before it reads the per-span counts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
