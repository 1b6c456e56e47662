package org.apache.spark

/** The one Spark-internal call the tracer needs: block until every event
  * posted so far has reached the listeners, so each span's counters are
  * complete before the next span opens.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
