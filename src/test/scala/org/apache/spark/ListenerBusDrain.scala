package org.apache.spark

/** Test access to the SparkContext's listener bus, which is private to Spark:
  * block until every event posted so far has reached its listeners.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
