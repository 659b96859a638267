package org.apache.spark.airbench

import org.apache.spark.SparkContext
import org.apache.spark.storage.RDDBlockId

/** Access to `private[spark]` driver state the benchmark reads between
  * ops: the listener bus (drained so every event of an op has been
  * delivered before the op's record is closed) and the block manager's
  * actual RDD blocks. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def rddBlocks(sc: SparkContext): Seq[RDDBlockId] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case b: RDDBlockId => b }
}
