package org.apache.spark

/** Access to the listener bus, which is private to Spark: traced runs wait
  * until every queued event has reached the benchmark's listener. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
