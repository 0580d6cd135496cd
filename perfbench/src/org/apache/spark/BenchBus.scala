package org.apache.spark

/** Waits for the listener bus to deliver every posted event, so the
  * benchmark's listener has seen all jobs of the timed window before
  * its counters are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
