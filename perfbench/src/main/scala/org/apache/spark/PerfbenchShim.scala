package org.apache.spark

/** The one engine-internal call the traced run needs: block until every
  * listener event posted so far has been delivered, so per-op counts are
  * complete before they are read. */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
