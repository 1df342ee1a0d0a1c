package org.apache.spark

/** Bridge to the block manager's `KnownSizeEstimation` (`private[spark]`):
  * a stored value whose size the MemoryStore takes from `estimatedSize`
  * instead of walking its object graph with SizeEstimator. The
  * GraftBlocks pattern. */
abstract class GraftSized extends util.KnownSizeEstimation with Serializable
