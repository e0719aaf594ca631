package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a test's SparkListener has seen all jobs of the work before it. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
