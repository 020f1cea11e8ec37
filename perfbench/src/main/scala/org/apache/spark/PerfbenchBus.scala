package org.apache.spark

/** Drains the listener bus so a span's task events have all been
  * delivered before the span is read (the bus is private to Spark). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
