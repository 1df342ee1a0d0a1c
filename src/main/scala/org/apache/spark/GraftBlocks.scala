package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Bridge into the block manager master's package-private location
  * lookup: does every partition of a persisted RDD still have a block
  * somewhere? A `localCheckpoint` relation cannot recompute a lost block,
  * so a caller can check it this way, on the driver and without a job,
  * before it plans over the relation again. */
object GraftBlocks {
  def allPresent(rdd: RDD[_]): Boolean = {
    val ids = rdd.partitions.indices.map(i => RDDBlockId(rdd.id, i): BlockId).toArray
    SparkEnv.get.blockManager.master.getLocations(ids).forall(_.nonEmpty)
  }
}
