package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * listener bus has delivered every event posted so far, so per-op
  * scheduler counts are complete before they are read.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
