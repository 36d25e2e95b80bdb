package org.apache.spark

/** Listener-bus drain for the benchmark's tracer. Spark delivers listener
  * events asynchronously; a span may only read its task counts once every
  * event posted before the span ended has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
