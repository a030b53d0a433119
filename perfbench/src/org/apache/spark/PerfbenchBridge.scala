package org.apache.spark

/** The one Spark-internal hook the benchmark needs: block until every
  * event posted so far has reached every listener, so counters are read
  * only after the listener bus has drained.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
