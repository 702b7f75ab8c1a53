package org.apache.spark

/** Spark internals the specs read. */
object GraftTestBus {
  /** The listener bus is private to Spark; specs that count jobs drain it
   * so every job event of the counted call has reached their listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Ids of the RDDs whose blocks the block managers store now, whether or
   * not the RDD objects are still reachable (`getPersistentRDDs` forgets an
   * RDD once it is garbage, before its blocks are removed). */
  def storedRdds(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case org.apache.spark.storage.RDDBlockId(id, _) => id }.toSet
}
