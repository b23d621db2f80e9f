package org.apache.spark

/** Waits for queued listener events, which is private to Spark. */
object TestBus { def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L) }
