package org.apache.spark

/** The listener bus drain is private to Spark; the benchmark's traced run
  * needs it so every job and task event of a timed call has reached the
  * benchmark's listener before the per-layer counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
