package org.apache.spark

/** Access to the listener bus, which is private to Spark: the tracer
  * drains it at span ends so that every event of a span's jobs has been
  * delivered before the span's counters are read. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
