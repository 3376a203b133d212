package org.apache.spark

/** Waits until the listener bus has delivered every posted event (the bus is spark-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
