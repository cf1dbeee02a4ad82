package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's counters are complete before it reads or resets them. The
  * bus is internal to Spark, hence this file's package. */
object CmbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
