package org.apache.spark

/** The listener bus is package-private; the benchmark drains it so that
  * counters read after an action include every event of that action. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
