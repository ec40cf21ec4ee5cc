package org.apache.spark

/** The listener bus is private to Spark; a traced run must see every
  * listener event of its ops before it joins them to its spans. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
