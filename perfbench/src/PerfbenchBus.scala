package org.apache.spark

/** The listener bus is private to Spark; the tracer needs to wait until
  * every event of a finished call has been delivered before it closes the
  * call's span. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
