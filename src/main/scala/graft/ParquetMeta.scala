package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Per-session metadata cache of the parquet tables the engine reads by
  * path: the schema Spark inferred, and what the files' footers say (exact
  * row count, per-column bytes and long bounds). Plan builds over an
  * unchanged table then start no Spark job: schema inference runs one
  * (`mergeSchemasInParallel`, even for a single file) and a row count of a
  * bare parquet scan is a `count()` job.
  *
  * An entry is keyed by the path plus the session confs that change what
  * parquet inference returns, and is valid for one fingerprint of the
  * path's data files: their sorted (path, length, mtime), taken from one
  * driver-side listing per call. Spark writers name each write's part files
  * anew, so a rewrite changes the fingerprint and the next call re-infers
  * and re-reads the footers; no invalidation call exists or is needed. The
  * one rewrite it cannot see keeps a file's name and length within the
  * file system's mtime granularity.
  *
  * Sessions are held weakly: a session's entries go when it does. Entries
  * hold no session, so they do not keep their key alive. */
private[graft] object ParquetMeta {

  /** One pass over a table's parquet footers: the exact row count (summed
    * row-group counts), the uncompressed bytes per column (dotted path),
    * and the min/max of each INT64 column whose every row group with a
    * non-null value carries statistics. */
  final case class Footers(rows: Long, columnBytes: Map[String, Long],
      longBounds: Map[String, (Long, Long)])

  /** One table's metadata under one fingerprint, each part filled on first
    * use (a table read for its rows alone never pays schema inference). */
  private final class Entry(val files: Seq[FileStatus], val fingerprint: Seq[(String, Long, Long)]) {
    @volatile var schema: StructType = _
    @volatile var footers: Footers = _
  }

  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private val sessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[(String, String), Entry]]())

  /** A fresh DataFrame over the parquet data at `path`, with the cached
    * schema when the fingerprint matches. Every call builds a new plan (new
    * attribute ids), so one query may read the same table twice. A missing
    * path is read uncached, so Spark reports it as it always has. */
  def read(spark: SparkSession, path: String): DataFrame =
    try {
      val e = entry(spark, path)
      val known = e.schema
      if (known != null) spark.read.schema(known).parquet(path)
      else {
        val df = spark.read.parquet(path)
        e.schema = df.schema
        df
      }
    } catch { case _: java.io.FileNotFoundException => spark.read.parquet(path) }

  /** The footer facts of the parquet data at `path`, read on the driver
    * (a few KB per file, no Spark job, no column IO) once per fingerprint. */
  def footers(spark: SparkSession, path: String): Footers = {
    val e = entry(spark, path)
    val known = e.footers
    if (known != null) known
    else {
      val f = readFooters(spark.sparkContext.hadoopConfiguration, e.files)
      e.footers = f
      f
    }
  }

  private def entry(spark: SparkSession, path: String): Entry = {
    val files = dataFiles(spark, path)
    val fingerprint = files.map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
    val key = (path, InferenceConfs.map(k => spark.conf.getOption(k).getOrElse("")).mkString(","))
    val perSession =
      sessions.computeIfAbsent(spark, _ => new ConcurrentHashMap[(String, String), Entry]())
    val known = perSession.get(key)
    if (known != null && known.fingerprint == fingerprint) known
    else {
      val fresh = new Entry(files, fingerprint)
      perSession.put(key, fresh)
      fresh
    }
  }

  /** The files Spark reads under `path` (the path itself when it is a file),
    * sorted by path: one `listStatus` for a flat table directory, one more
    * per partition directory. Names Spark skips (`_SUCCESS`, `.crc`
    * sidecars, `_`/`.` prefixes) are skipped here too. */
  private def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(name: String) = name.startsWith(".") || name.endsWith("._COPYING_") ||
      (name.startsWith("_") && !name.contains("="))
    def leaves(sts: Array[FileStatus]): Array[FileStatus] = sts.flatMap { st =>
      if (hidden(st.getPath.getName)) Array.empty[FileStatus]
      else if (st.isDirectory) leaves(fs.listStatus(st.getPath))
      else Array(st)
    }
    leaves(fs.listStatus(root)).sortBy(_.getPath.toString).toSeq
  }

  private def readFooters(conf: Configuration, files: Seq[FileStatus]): Footers = {
    var rows = 0L
    val bytes = scala.collection.mutable.Map.empty[String, Long]
    val bounds = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val unbounded = scala.collection.mutable.Set.empty[String]
    files.foreach { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try reader.getFooter.getBlocks.asScala.foreach { block =>
        rows += block.getRowCount
        block.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          bytes(name) = bytes.getOrElse(name, 0L) + c.getTotalUncompressedSize
          if (c.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64) {
            val s = c.getStatistics
            if (s == null || s.isEmpty) unbounded += name
            else if (s.hasNonNullValue) (s.genericGetMin, s.genericGetMax) match {
              case (lo: java.lang.Long, hi: java.lang.Long) =>
                bounds(name) = bounds.get(name).fold((lo.longValue, hi.longValue)) {
                  case (a, b) => (math.min(a, lo.longValue), math.max(b, hi.longValue))
                }
              case _ => unbounded += name
            }
          }
        }
      } finally reader.close()
    }
    Footers(rows, bytes.toMap, bounds.toMap -- unbounded)
  }
}
