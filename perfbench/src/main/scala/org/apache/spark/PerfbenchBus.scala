package org.apache.spark

/** Lives in Spark's package to reach the listener bus: the trace is written
  * only after every queued listener event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
