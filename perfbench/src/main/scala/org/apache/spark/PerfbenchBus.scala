package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so that
  * counters read afterwards are complete. The bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
