package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's tracer has seen all task ends before it reads them. The
  * listener bus is package-private to Spark; this is the one accessor. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
