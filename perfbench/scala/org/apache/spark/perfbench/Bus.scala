package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to scheduler and block-manager state that is private to Spark. */
object Bus {

  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Number of cached RDD and broadcast blocks the driver's block
    * manager still holds.
    */
  def heldBlocks(sc: SparkContext): Int =
    sc.env.blockManager.getMatchingBlockIds(b => b.isRDD || b.isBroadcast).size
}
