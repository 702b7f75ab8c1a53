package org.apache.spark

/** The listener bus is private to Spark; specs that count jobs drain it so
 * every job event of the counted call has reached their listener. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
