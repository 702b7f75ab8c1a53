package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits on it so every
 * job/task event of the run has reached its listener before counting. */
object AqpBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
