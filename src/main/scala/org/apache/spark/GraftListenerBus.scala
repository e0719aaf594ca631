package org.apache.spark

/** Spark keeps its listener bus private; this is the one place graft reaches
  * it. `drain` returns once every event posted so far has been delivered. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
