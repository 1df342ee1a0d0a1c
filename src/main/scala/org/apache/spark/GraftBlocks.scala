package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.ExecutorCacheTaskLocation
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Bridge into the block manager master's package-private location
  * lookup: does every partition of a persisted RDD still have a block
  * somewhere? A `localCheckpoint` relation cannot recompute a lost block,
  * so a caller can check it this way, on the driver and without a job,
  * before it plans over the relation again. */
object GraftBlocks {
  def allPresent(rdd: RDD[_]): Boolean =
    SparkEnv.get.blockManager.master.getLocations(ids(rdd, rdd.partitions.indices)).forall(_.nonEmpty)

  /** The executors that hold a block of any of `partitions` of a persisted
    * RDD, as task locations: the preferred locations of a task that reads
    * those blocks. */
  def locations(rdd: RDD[_], partitions: Seq[Int]): Seq[String] =
    SparkEnv.get.blockManager.master.getLocations(ids(rdd, partitions)).iterator.flatten
      .map(b => ExecutorCacheTaskLocation(b.host, b.executorId).toString).distinct.toSeq

  private def ids(rdd: RDD[_], partitions: Seq[Int]): Array[BlockId] =
    partitions.map(i => RDDBlockId(rdd.id, i): BlockId).toArray
}
