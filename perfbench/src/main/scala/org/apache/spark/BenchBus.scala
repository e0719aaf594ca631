package org.apache.spark

/** Lets the benchmark wait until every listener event of the actions it
  * ran has been delivered; the bus is private to Spark's own package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
