package org.apache.spark

/** Spec hook: block until every event posted so far has reached the
  * registered listeners (the bus delivers asynchronously, and the drain
  * is private to Spark's package).
  */
object ListenerBusProbe {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
