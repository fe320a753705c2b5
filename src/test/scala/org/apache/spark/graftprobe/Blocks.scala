package org.apache.spark.graftprobe

import org.apache.spark.SparkContext
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** What the block managers hold, asked of them directly: the RDD ids
  * with at least one stored block. `SparkContext.getRDDStorageInfo`
  * lists only RDDs still registered as persistent, so it cannot show a
  * block left behind by an RDD that was unregistered. The block manager
  * master is private[spark]; this probe lives inside org.apache.spark.
  */
object Blocks {
  def rddIds(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master
      .getMatchingBlockIds((b: BlockId) => b.isRDD, askStorageEndpoints = true)
      .collect { case RDDBlockId(rdd, _) => rdd }.toSet
}
