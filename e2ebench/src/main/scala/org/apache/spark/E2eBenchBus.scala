package org.apache.spark

/** The listener bus is private to Spark; the traced run needs to wait until
  * every posted job and task event has reached its listener before it reads
  * the counts of an op, so this accessor lives in Spark's package.
  */
object E2eBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
