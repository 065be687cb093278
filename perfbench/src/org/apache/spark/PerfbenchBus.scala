package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far, so
  * the benchmark's listener holds the whole run before its figures are read.
  * Lives in Spark's package because the bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
