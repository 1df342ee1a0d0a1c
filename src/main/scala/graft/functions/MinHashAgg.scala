package graft.functions

import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** MinHash as a true partial aggregate: `minhash_agg(shingleHash)` folds
  * per-shingle 8-byte hashes straight into the numPerms running minima.
  *
  * Scale shape — why this beats collect_set + minhash_sig: collect_set
  * cannot combine below the full set size, so its map-side partial state
  * and shuffle rows carry every distinct shingle hash of a document
  * (unbounded). This Aggregator's state is a fixed numPerms-long buffer;
  * map-side combine reduces each partition's contribution to ONE buffer
  * per document before the shuffle, and merge is an elementwise min. At
  * 100 TB the signature shuffle becomes O(docs × numPerms × 8 bytes),
  * independent of document length.
  *
  * Result parity: per-permutation hash is XXH64.hashLong(h, hashInt(p, 42))
  * — exactly minhash_sig's array<long> form, and duplicates don't affect
  * minima, so the output is value-identical to
  * `minhash_sig(collect_set(xxhash64(s)), n)` (pinned in MinHashSpec).
  */
final case class MinHashAgg(numPerms: Int)
    extends Aggregator[Long, Array[Long], Seq[Long]] {

  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(numPerms)(p => XXH64.hashInt(p, 42L))

  override def zero: Array[Long] = Array.fill(numPerms)(Long.MaxValue)

  override def reduce(buf: Array[Long], h: Long): Array[Long] = {
    var p = 0
    while (p < numPerms) {
      val v = XXH64.hashLong(h, seeds(p))
      if (v < buf(p)) buf(p) = v
      p += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var p = 0
    while (p < numPerms) { if (b(p) < a(p)) a(p) = b(p); p += 1 }
    a
  }

  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
}

object MinHashAgg {
  /** Register the permutation-count-specific `minhash_agg_<n>(hashCol)`
    * and return that name. ONLY the sized name is registered: the session
    * function registry is global, so an unsized alias rebound by each
    * call would recreate exactly the cross-build race the sized name
    * exists to prevent (a query built for n permutations silently
    * resolving another size's aggregate). The sized name also means an
    * existing registration is this same aggregate, so it is kept. */
  def register(spark: SparkSession, numPerms: Int): String =
    graft.GraftExtensions.registerOnce(spark, s"minhash_agg_$numPerms")(
      udaf(MinHashAgg(numPerms)))
}
