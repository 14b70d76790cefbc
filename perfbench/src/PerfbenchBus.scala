package org.apache.spark

/** Drains Spark's listener bus, so listener counters are complete when
  * the benchmark reads them (the bus is asynchronous and its drain is
  * package-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
