package graft.tf

import org.apache.spark.{Dependency, HashPartitioner, NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** The stored form of the registered Terraform rows, and the RDD steps that
  * build it: each partition is kept as a few [[Chunk]]s, arrays of the
  * UnsafeRows of one table, not as one stored value per row. Each chunk
  * holds about [[ChunkBytes]] of rows, so the MemoryStore's unroll checks
  * and its spill to disk still bound what one task holds at corpus scale.
  *
  * The closures live here rather than in `Terraform`: Spark's
  * ClosureCleaner reads the class file that declares each closure it
  * cleans, and this one is small. */
private[tf] object RowChunks {

  /** Row bytes per chunk: one chunk per table and partition of a corpus of
    * a few MB, a few per partition of a large one. The MemoryStore checks
    * its unroll memory every 16 values, so a task stores ~16 MB of rows
    * between checks. */
  val ChunkBytes: Long = 1L << 20

  /** Stand-alone copies of a plan's output rows (a plan may reuse one row
    * object for every row it emits). */
  def copies(rows: RDD[InternalRow], schema: StructType): RDD[UnsafeRow] =
    rows.mapPartitions { it =>
      val unsafe = UnsafeProjection.create(schema)
      it.map(unsafe(_).copy())
    }

  /** `rows`, each partition grouped into chunks of about [[ChunkBytes]]
    * of one `table` value each (column `at`), so a view reads only its
    * table's chunks. A partition ends with each table's partly filled
    * chunk, at most one per table. */
  def chunked(rows: RDD[UnsafeRow], at: Int): RDD[Chunk] =
    rows.mapPartitions({ it =>
      val open = mutable.LinkedHashMap.empty[UTF8String, Filling]
      val full = it.flatMap { r =>
        val table = r.getUTF8String(at)
        val c = open.getOrElseUpdate(table, new Filling(table.toString))
        c += r
        if (c.bytes < ChunkBytes) Iterator.empty
        else { open.remove(table); Iterator.single(c.result()) }
      }
      full ++ open.valuesIterator.map(_.result())
    }, preservesPartitioning = true)

  /** A chunk being filled. */
  private final class Filling(table: String) {
    private val rows = Array.newBuilder[UnsafeRow]
    var bytes = 0L
    def +=(r: UnsafeRow): Unit = { rows += r; bytes += r.getSizeInBytes }
    def result(): Chunk = new Chunk(table, rows.result(), bytes)
  }

  /** The row bytes per `table` value of one partition's chunks: the
    * summary of the job that stores them. */
  val tableBytes: (TaskContext, Iterator[Chunk]) => Map[String, Long] =
    (_, chunks) => chunks.foldLeft(Map.empty[String, Long]) { (m, c) =>
      m.updated(c.table, m.getOrElse(c.table, 0L) + c.bytes)
    }

  /** The stored rows whose `at` column is not in `paths`, each partition
    * where it was. The rows are the stored objects, not copies. */
  def without(stored: RDD[Chunk], paths: Set[UTF8String], at: Int): RDD[UnsafeRow] =
    stored.mapPartitions(_.flatMap(_.rows.iterator).filterNot(r => paths(r.getUTF8String(at))),
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

/** One stored value: rows of one `table` value and their row bytes. The
  * block manager takes its footprint as given (the row bytes plus a row
  * object and an array slot per row) instead of walking it while it
  * stores a partition: it estimates the partition's values after each of
  * its first values, so walking them cost quadratically in the chunks of
  * a partition, one or more per table. */
private[tf] final class Chunk(val table: String, val rows: Array[UnsafeRow], val bytes: Long)
    extends org.apache.spark.GraftSized {
  def estimatedSize: Long = 64L + bytes + 64L * rows.length
}

/** Rows of `stored`: those of one `table` value, a slice that reads only
  * that table's chunks, or with no `table` all of them.
  * The read takes `min(stored partitions, ceil(bytes / maxPartitionBytes))`
  * partitions, at least one, for `bytes` of rows: each reads a run of
  * consecutive stored partitions, so a small corpus is read in one task
  * per relation and a large one in one task per stored partition. A read
  * partition prefers the executors that hold any of its blocks. */
private[tf] final class ChunkedRows(val stored: RDD[Chunk], table: Option[String], bytes: Long,
    maxPartitionBytes: Long) extends RDD[InternalRow](stored.context, Nil) {

  override protected def getPartitions: Array[Partition] = {
    val parts = stored.partitions
    val n = parts.length
    val split = math.max(1L, maxPartitionBytes)
    val k = math.max(1L, math.min(n.toLong, (bytes + split - 1) / split)).toInt
    Array.tabulate(k)(i => ChunkGroup(i, parts.slice(i * n / k, (i + 1) * n / k)))
  }

  override protected def getDependencies: Seq[Dependency[_]] = Seq(new NarrowDependency(stored) {
    def getParents(id: Int): Seq[Int] = partitions(id).asInstanceOf[ChunkGroup].parents.map(_.index).toSeq
  })

  override protected def getPreferredLocations(split: Partition): Seq[String] =
    org.apache.spark.GraftBlocks.locations(stored, split.asInstanceOf[ChunkGroup].parents.map(_.index).toSeq)

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val chunks = split.asInstanceOf[ChunkGroup].parents.iterator.flatMap(stored.iterator(_, context))
    table.fold(chunks)(t => chunks.filter(_.table == t)).flatMap(_.rows.iterator)
  }
}

/** A read partition of [[ChunkedRows]]: the stored partitions it reads,
  * taken on the driver, like a CoalescedRDD partition's. */
private[tf] final case class ChunkGroup(index: Int, parents: Array[Partition]) extends Partition
