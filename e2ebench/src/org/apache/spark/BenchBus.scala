package org.apache.spark

/** Waits for Spark's listener bus to deliver every queued event, so the
  * benchmark's own listeners have seen all jobs of a finished call before
  * it reads their counters. Lives in this package only for bus access.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
