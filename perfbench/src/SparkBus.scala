package org.apache.spark

/** Drains the live listener bus, so every listener event of a finished
  * query (job ends, task ends, streaming progress) is delivered before the
  * benchmark reads its counters. `listenerBus` is private to `spark`,
  * hence this one-method shim in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
