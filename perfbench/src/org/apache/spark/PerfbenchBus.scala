package org.apache.spark

/** Access to the listener bus, which is private to Spark: the harness
  * waits for queued events to reach its listeners before it reads
  * their counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
