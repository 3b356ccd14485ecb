package org.apache.spark

/** The listener bus is private to Spark; specs that count jobs with a
  * listener wait here until every posted event has reached it.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
