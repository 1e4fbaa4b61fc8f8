package org.apache.spark

/** The one hop into Spark's private API the traced run needs: wait until
  * every posted listener event has been delivered, so the counters read
  * after a query belong to that query alone. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
