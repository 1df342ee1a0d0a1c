package graft.tf

import org.apache.spark.{HashPartitioner, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The stored form of the registered Terraform rows, and the RDD steps that
  * build it: each partition is kept as a few arrays of UnsafeRows, not as
  * one stored value per row. The block manager estimates the size of a
  * partition's values while it stores them, about log₁.₁(values) times, so
  * one value per row made that estimate a tenth of a refresh. Each array
  * holds about [[ChunkBytes]] of rows, so the MemoryStore's unroll checks
  * and its spill to disk still bound what one task holds at corpus scale.
  *
  * The closures live here rather than in `Terraform`: Spark's
  * ClosureCleaner reads the class file that declares each closure it
  * cleans, and this one is small. */
private[tf] object RowChunks {

  /** Row bytes per stored array: one array per partition of a corpus of a
    * few MB, a few per partition of a large one. The MemoryStore checks
    * its unroll memory every 16 values, so a task stores ~16 MB of rows
    * between checks. 64 KB arrays would bound that to ~1 MB, but kept the
    * size estimate at ~4 % of a `tf_cold_ingest` timed loop's samples,
    * against ~1 % with 1 MB (JFR, 4-core host). */
  val ChunkBytes: Long = 1L << 20

  /** Stand-alone copies of a plan's output rows (a plan may reuse one row
    * object for every row it emits). */
  def copies(rows: RDD[InternalRow], schema: StructType): RDD[UnsafeRow] =
    rows.mapPartitions { it =>
      val unsafe = UnsafeProjection.create(schema)
      it.map(unsafe(_).copy())
    }

  /** `rows`, each partition grouped into arrays of about [[ChunkBytes]]. */
  def chunked(rows: RDD[UnsafeRow]): RDD[Array[UnsafeRow]] =
    rows.mapPartitions(it => new Iterator[Array[UnsafeRow]] {
      def hasNext: Boolean = it.hasNext
      def next(): Array[UnsafeRow] = {
        val chunk = Array.newBuilder[UnsafeRow]
        var bytes = 0L
        while (it.hasNext && bytes < ChunkBytes) {
          val r = it.next()
          chunk += r
          bytes += r.getSizeInBytes
        }
        chunk.result()
      }
    }, preservesPartitioning = true)

  /** The stored rows whose `at` column is not in `paths`, each partition
    * where it was. The rows are the stored objects, not copies. */
  def without(stored: RDD[Array[UnsafeRow]], paths: Set[UTF8String], at: Int): RDD[UnsafeRow] =
    stored.mapPartitions(_.flatMap(_.iterator).filterNot(r => paths(r.getUTF8String(at))),
      preservesPartitioning = true)

  /** `carried` plus `fresh`, in `n` partitions: when `carried` has `n`,
    * each of its partitions keeps its rows and takes the fresh rows of one
    * path-hash bucket; otherwise every row moves by path hash. */
  def merged(carried: RDD[UnsafeRow], fresh: RDD[UnsafeRow], at: Int, n: Int): RDD[UnsafeRow] = {
    // mapPartitions, not keyBy and values: those clean closures declared in
    // RDD and PairRDDFunctions, classes of 100-200 KB
    def byPath(rows: RDD[UnsafeRow]) =
      rows.mapPartitions(_.map(r => (r.getUTF8String(at).hashCode, r)))
        .partitionBy(new HashPartitioner(n)).mapPartitions(_.map(_._2), preservesPartitioning = true)
    if (carried.getNumPartitions == n) carried.zipPartitions(byPath(fresh))(_ ++ _)
    else byPath(carried ++ fresh)
  }
}

/** The rows of `stored`, one partition per stored partition: the relation
  * the Terraform views read. */
private[tf] final class ChunkedRows(val stored: RDD[Array[UnsafeRow]])
    extends RDD[InternalRow](stored) {
  override protected def getPartitions: Array[Partition] = stored.partitions
  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    stored.iterator(split, context).flatMap(_.iterator)
}
