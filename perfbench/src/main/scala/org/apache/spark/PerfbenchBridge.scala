package org.apache.spark

/** The benchmark's one reach into Spark internals: block until every
  * posted listener event has been delivered, so the traced run's spans
  * are complete before they are matched and written. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
