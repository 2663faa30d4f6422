package org.apache.spark

/** The one engine-internal call the benchmark makes: waiting until the
  * listener bus has delivered every queued event, so a span's task
  * metrics are complete when the span closes. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
