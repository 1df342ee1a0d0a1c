package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import scala.util.control.NonFatal

/** A [[FileIndex]] over file statuses that discovery already fetched.
  *
  * `spark.read.format("binaryFile").load(globs)` pays the driver-side
  * listing TWICE — once globbing in `DataSource.checkAndGlobPathIfNecessary`
  * and again building `InMemoryFileIndex` over the matched paths. On a
  * 10⁷-object store corpus each pass is millions of sequential round
  * trips, so discovery (SURVEY A1) feeds its single glob pass straight
  * into the scan instead. Everything downstream (path/data filter
  * pushdown via FileSourceStrategy, file splitting, locality) behaves
  * exactly as with the built-in index, except that a filter on `path`
  * alone also prunes the listed files (the binaryFile reader prunes by
  * length and modification time only, so it would open every file).
  */
final class PreListedFileIndex(statuses: Array[FileStatus], roots: Seq[Path])
    extends FileIndex {
  override def rootPaths: Seq[Path] = roots
  /** Data filters over `path` alone (a pushed `path = '…'` qual) are
    * decided here from the listed path, so a non-matching file is never
    * opened. Pruning only: Spark still applies every filter above the
    * scan, and a filter that fails to evaluate keeps the file. */
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val onPath = dataFilters.filter(f =>
      f.references.nonEmpty && f.references.forall(_.name == "path"))
    val kept = if (onPath.isEmpty) statuses else {
      val pred = Predicate.createInterpreted(onPath.reduce(And).transform {
        case a: AttributeReference => BoundReference(0, a.dataType, a.nullable)
      })
      statuses.filter { st =>
        try pred.eval(InternalRow(UTF8String.fromString(st.getPath.toString)))
        catch { case NonFatal(_) => true }
      }
    }
    Seq(PartitionDirectory(InternalRow.empty, kept))
  }
  override def inputFiles: Array[String] = statuses.map(_.getPath.toString)
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = statuses.map(_.getLen).sum
  override def partitionSchema: StructType = StructType(Nil)
}

object PreListedFileIndex {

  /** A binaryFile-format scan (schema `path, modificationTime, length,
    * content`) over pre-listed statuses — the single-listing replacement
    * for `spark.read.format("binaryFile").load(...)`. */
  def binaryFileScan(spark: SparkSession, statuses: Array[FileStatus],
      roots: Seq[Path]): DataFrame = {
    val fmt = new BinaryFileFormat
    val rel = HadoopFsRelation(
      location = new PreListedFileIndex(statuses, roots),
      partitionSchema = StructType(Nil),
      dataSchema = BinaryFileFormat.schema,
      bucketSpec = None,
      fileFormat = fmt,
      options = Map.empty)(spark)
    spark.baseRelationToDataFrame(rel)
  }
}
